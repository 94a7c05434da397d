package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftbridge.ClassicBridge
import org.apache.spark.sql.functions.lit

import graft.core.GraftTable

/** SQL TEXT for the write path — `MERGE INTO` / `DELETE FROM` / `UPDATE`
  * over `graft.`/path`` targets routed to the existing COW operators
  * ([[GraftTable.mergeInto]]/[[GraftTable.deleteWhere]]/[[GraftTable.updateWhere]]),
  * the write-side sibling of [[GraftSql]]'s read TVFs. The reference
  * expresses ALL mutation as SQL (the dbt incremental merge on
  * `unique_key`, `models/dwh/dim_customer.sql:1-6`; the join-UPDATE,
  * `macros/fact_order_fail_lookup.sql:3-18`) — this closes that half of
  * the dialect story.
  *
  * Statements parse through Spark's OWN SQL grammar
  * (`sessionState.sqlParser` → [[DeleteFromTable]]/[[UpdateTable]]/
  * [[MergeIntoTable]]) — no hand-rolled SQL dialect — and the
  * unresolved Catalyst plans are translated onto the Scala API:
  *
  * {{{
  *   GraftSql.dml(spark, "DELETE FROM graft.`/path/t` WHERE k > 5")
  *   GraftSql.dml(spark, "UPDATE graft.`/path/t` SET v = 'x' WHERE k = 1")
  *   GraftSql.dml(spark, """
  *     MERGE INTO graft.`/path/t` AS t USING updates AS s
  *     ON t.k = s.k
  *     WHEN MATCHED AND s.op = 'D' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET v = s.v
  *     WHEN NOT MATCHED THEN INSERT *""")
  *   // constraint + evolution + maintenance statements (same routing):
  *   GraftSql.dml(spark, "ALTER TABLE graft.`/path/t` ADD CONSTRAINT c CHECK (k > 0)")
  *   GraftSql.dml(spark, "ALTER TABLE graft.`/path/t` DROP CONSTRAINT IF EXISTS c")
  *   GraftSql.dml(spark, "ALTER TABLE graft.`/path/t` ADD COLUMNS (n INT, note STRING)")
  *   GraftSql.dml(spark, "ALTER TABLE graft.`/path/t` RENAME COLUMN v TO label")
  *   GraftSql.dml(spark, "ALTER TABLE graft.`/path/t` DROP COLUMN IF EXISTS note")
  *   GraftSql.dml(spark, "VACUUM graft.`/path/t` RETAIN 168 HOURS")
  *   GraftSql.dml(spark, "OPTIMIZE graft.`/path/t` ZORDER BY (k)")
  *   GraftSql.dml(spark, "RESTORE TABLE graft.`/path/t` TO VERSION AS OF 3")
  *   GraftSql.dml(spark, "CREATE TABLE graft.`/path/fork` SHALLOW CLONE graft.`/path/t`")
  * }}}
  *
  * Sessions built with `spark.sql.extensions=graft.expressions.GraftExtensions`
  * get the same routing natively inside `spark.sql(...)`: an injected
  * resolution rule ([[GraftDmlRule]]) rewrites the DML plan over a graft
  * target into a runnable command, so the dialect needs no special entry
  * point at all. (A rule can be injected only at session build — Spark
  * fixes the analyzer then — hence the `GraftSql.dml` door for sessions
  * created without the extension.)
  *
  * Scale shape: identical to the Scala ops by construction — DELETE and
  * UPDATE derive their stats-cover prune ranges from the optimized
  * predicate (the filters Spark pushes into the graft scan —
  * [[GraftDml.pruneRangesOf]]), MERGE inherits the upsert's key-bounds
  * cover; only files provably holding matches rewrite.
  *
  * Translation contract (refusals are loud, never silent drops):
  * DELETE/UPDATE take any row predicate. MERGE `ON` must be a
  * conjunction of `target.key = source.key` same-name equalities (the
  * API's keyed-COW shape; keys match null-safely); matched clauses are
  * at most one UPDATE and one DELETE (delete wins when both conditions
  * hold); the not-matched clause is an unconditional `INSERT *`;
  * `WHEN NOT MATCHED BY SOURCE` is not supported. In clause expressions,
  * source columns must be qualified with the source alias; unqualified
  * names bind to the target. */
object GraftDml extends PredicateHelper {

  /** Route a PARSED plan if it is a graft DML statement. Returns the
    * committed version, or None when the plan is not graft DML. */
  def route(spark: SparkSession, plan: LogicalPlan): Option[Long] = rewrite(plan) match {
    case c: GraftDeleteCommand => Some(c.execute(spark))
    case c: GraftUpdateCommand => Some(c.execute(spark))
    case c: GraftMergeCommand => Some(c.execute(spark))
    case c: GraftAddCheckCommand => Some(c.execute(spark))
    case c: GraftDropCheckCommand => Some(c.execute(spark))
    case c: GraftAddColumnsCommand => Some(c.execute(spark))
    case c: GraftRenameColumnCommand => Some(c.execute(spark))
    case c: GraftDropColumnsCommand => Some(c.execute(spark))
    case c: GraftInsertCommand => Some(c.execute(spark))
    case c: GraftCreateTableCommand => Some(c.execute(spark))
    case c: GraftSetPropertiesCommand => Some(c.execute(spark))
    case c: GraftUnsetPropertiesCommand => Some(c.execute(spark))
    case _ => None
  }

  /** The plan-level rewrite the injected parser applies: graft DML
    * becomes a runnable command, everything else passes through
    * untouched. Done at PARSE time because the analyzer's own
    * `ResolveSQLOnFile` (which runs before any injectable resolution
    * rule) refuses direct-query identifiers of non-file sources — the
    * target must never reach it. The clause translation happens HERE
    * (commands carry [[Column]]s, not raw Catalyst expressions), so the
    * command is fully resolved in the analyzer's eyes — its predicates
    * bind against the table frame at execution, exactly like the Scala
    * API calls they route to. */
  def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case DeleteFromTable(GraftTarget(path, alias), cond) =>
      val quals = alias.toSet + "graft"
      GraftDeleteCommand(path,
        Option(cond).map(clauseCol(_, quals, None)).getOrElse(lit(true)))
    case UpdateTable(GraftTarget(path, alias), assigns, cond) =>
      val quals = alias.toSet + "graft"
      GraftUpdateCommand(path,
        cond.map(clauseCol(_, quals, None)).getOrElse(lit(true)),
        assigns.map(a => assignName(a.key) -> clauseCol(a.value, quals, None)).toMap)
    case m: MergeIntoTable if GraftTarget.unapply(m.targetTable).isDefined =>
      GraftMergeCommand(m)
    // ALTER TABLE graft.`p` ADD CONSTRAINT c CHECK (expr) / DROP CONSTRAINT c —
    // Spark 4's own constraint grammar routed to addCheck/dropCheck. The
    // parser wraps the CHECK's target in a Filter(NOT expr, relation)
    // child (the violation scan a v2 catalog would run) — unwrap to the
    // relation for the target match; addCheck runs its own whole-table
    // validation scan.
    case ac: AddCheckConstraint =>
      val target = ac.child.collectFirst {
        case GraftTarget(path, _) => path
      }
      target match {
        case Some(path) =>
          val c = ac.checkConstraint
          require(c.userProvidedName != null && c.userProvidedName.nonEmpty,
            "graft CHECK constraints need an explicit name")
          GraftAddCheckCommand(path, c.userProvidedName, c.condition)
        case None => ac
      }
    case dc: DropConstraint =>
      GraftTarget.unapply(dc.table) match {
        case Some((path, _)) => GraftDropCheckCommand(path, dc.name, dc.ifExists)
        case None => dc
      }
    // ALTER TABLE graft.`p` ADD COLUMNS / RENAME COLUMN / DROP COLUMN —
    // Spark's own evolution grammar routed to the metadata-only schema
    // ops (the dialect half of addColumn/renameColumn/dropColumn).
    // Flat schemas only; position/default/comment refuse loudly.
    case ac: AddColumns if GraftTarget.unapply(ac.table).isDefined =>
      val Some((path, _)) = GraftTarget.unapply(ac.table)
      val cols = ac.columnsToAdd.map { q =>
        require(q.path.isEmpty && q.name.size == 1,
          s"graft tables have flat schemas — cannot add nested '${q.name.mkString(".")}'")
        require(q.position.isEmpty && q.default.isEmpty && q.comment.isEmpty,
          s"ADD COLUMN '${q.name.head}': position/default/comment are not supported " +
            "on graft tables (columns append, always nullable)")
        (q.name.head, q.dataType.sql)
      }
      GraftAddColumnsCommand(path, cols)
    case rc: RenameColumn if GraftTarget.unapply(rc.table).isDefined =>
      val Some((path, _)) = GraftTarget.unapply(rc.table)
      require(rc.column.name.size == 1,
        s"graft tables have flat schemas — cannot rename nested '${rc.column.name.mkString(".")}'")
      GraftRenameColumnCommand(path, rc.column.name.head, rc.newName)
    // ALTER TABLE graft.`p` SET/UNSET TBLPROPERTIES + SHOW TBLPROPERTIES
    // — the configuration channel (graft.deletionVectors routes SQL
    // DELETE through merge-on-read, Delta's enableDeletionVectors
    // contract); metadata-only commits either way
    case sp: SetTableProperties if GraftTarget.unapply(sp.table).isDefined =>
      val Some((path, _)) = GraftTarget.unapply(sp.table)
      GraftSetPropertiesCommand(path, sp.properties)
    case up: UnsetTableProperties if GraftTarget.unapply(up.table).isDefined =>
      val Some((path, _)) = GraftTarget.unapply(up.table)
      GraftUnsetPropertiesCommand(path, up.propertyKeys, up.ifExists)
    case st: ShowTableProperties if GraftTarget.unapply(st.table).isDefined =>
      val Some((path, _)) = GraftTarget.unapply(st.table)
      GraftShowPropertiesCommand(path, st.propertyKey)
    case dcol: DropColumns if GraftTarget.unapply(dcol.table).isDefined =>
      val Some((path, _)) = GraftTarget.unapply(dcol.table)
      val names = dcol.columnsToDrop.map { f =>
        require(f.name.size == 1,
          s"graft tables have flat schemas — cannot drop nested '${f.name.mkString(".")}'")
        f.name.head
      }
      GraftDropColumnsCommand(path, names, dcol.ifExists)
    // INSERT INTO / INSERT OVERWRITE graft.`p` SELECT … — append /
    // overwrite through the table's own write path (checks enforced,
    // stats collected, schema verified). SQL positional semantics:
    // the SELECT's columns bind to the target schema by position (and
    // cast to it); `BY NAME` binds by name.
    case ins: InsertIntoStatement if GraftTarget.unapply(ins.table).isDefined =>
      val Some((path, _)) = GraftTarget.unapply(ins.table)
      require(ins.partitionSpec.isEmpty,
        "graft tables take no PARTITION spec — file stats partition the reads")
      require(ins.userSpecifiedCols.isEmpty,
        "INSERT with a column list is not supported on graft tables — " +
          "project the full schema in the SELECT (columns are never silently defaulted)")
      GraftInsertCommand(path, ins.query, ins.overwrite, ins.byName)
    // CREATE [OR REPLACE] TABLE graft.`p` AS SELECT … — materialize a
    // query as a new GraftTable (the dialect's CTAS)
    case ctas: CreateTableAsSelect => ctas.name match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
          if u.nameParts.size == 2 && u.nameParts.head.equalsIgnoreCase("graft") =>
        GraftCreateTableCommand(u.nameParts(1), ctas.query,
          ignoreIfExists = ctas.ignoreIfExists, replace = false)
      case _ => ctas
    }
    case rtas: ReplaceTableAsSelect => rtas.name match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
          if u.nameParts.size == 2 && u.nameParts.head.equalsIgnoreCase("graft") =>
        GraftCreateTableCommand(u.nameParts(1), rtas.query,
          ignoreIfExists = false, replace = true, orCreate = rtas.orCreate)
      case _ => rtas
    }
    case other => other
  }

  /** Strip `quals`-qualified prefixes so clause expressions bind against
    * the operator's evaluation frame (target columns by plain name,
    * source columns through the `__src_` accessor when `srcAlias`
    * matches). Flat schemas — the engine's table grain — so a 2-part
    * name is alias.column, never a struct path. */
  /** The conjuncts of a predicate (PredicateHelper's split, exposed to
    * the command classes). */
  private[plans] def conjuncts(e: Expression): Seq[Expression] =
    splitConjunctivePredicates(e)

  private[plans] def clauseCol(e: Expression, targetQuals: Set[String],
      srcAlias: Option[String]): Column =
    ClassicBridge.column(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.size > 1 &&
          srcAlias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(Seq("__src_" + a.nameParts.last))
      case a: UnresolvedAttribute if a.nameParts.size > 1 &&
          targetQuals.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    })

  private[plans] def assignName(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"SET target must be a column name, got $other")
  }

  /** The stats-cover ranges implied by the DML predicate: resolve it
    * against the table's frame, optimize (casts folded, literals
    * normalized), and read the ranges off the filters Spark pushed into
    * the graft scan — the `sources.Filter`s every file-stats consumer
    * reads ([[graft.sources.GraftBatchRead.v1Ranges]]). */
  private[plans] def pruneRangesOf(spark: SparkSession, path: String,
      pred: Column): Seq[GraftTable.ColRange] =
    try GraftTable.read(spark, path).filter(pred).queryExecution.optimizedPlan
      .collect {
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          s.scan match {
            case g: graft.catalog.GraftNamedScan =>
              g.pushed.toSeq.flatMap(graft.sources.GraftBatchRead.v1Ranges)
            case _ => Nil
          }
      }.flatten
    catch { case scala.util.control.NonFatal(_) => Nil }
}

/** Matches a DML target that is a graft table: the unresolved
  * `graft.`/path`` identifier (relation or ALTER-command form). */
private[plans] object GraftTarget {
  /** A ≥3-part `graft.ns….table` identifier resolved through the
    * [[graft.catalog.GraftCatalog]] warehouse mapping (namespace chain =
    * directory chain) — so the parse-time DML rewrite serves NAMED
    * tables with the same commands as path targets. Resolution reads
    * the catalog's warehouse conf off the active session (parsing is a
    * driver-side act under one); unset conf → no match, and the
    * statement falls through to the analyzer's catalog machinery for a
    * loud standard error. */
  private def namedPath(parts: Seq[String]): Option[String] =
    if (parts.size >= 3 && parts.head.equalsIgnoreCase("graft"))
      org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(s => s.conf.getOption("spark.sql.catalog.graft.warehouse"))
        .map(w => (w.stripSuffix("/") +: parts.tail).mkString("/"))
    else None

  def unapply(p: LogicalPlan): Option[(String, Option[String])] = p match {
    case SubqueryAlias(id, child) => unapply(child).map { case (path, _) => (path, Some(id.name)) }
    case u: UnresolvedRelation if u.multipartIdentifier.size == 2 &&
        u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some((u.multipartIdentifier(1), None))
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
        if u.multipartIdentifier.size == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some((u.multipartIdentifier(1), None))
    // SHOW TBLPROPERTIES parses its target as table-or-view
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
        if u.multipartIdentifier.size == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some((u.multipartIdentifier(1), None))
    case u: UnresolvedRelation if namedPath(u.multipartIdentifier).isDefined =>
      namedPath(u.multipartIdentifier).map((_, None))
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
        if namedPath(u.multipartIdentifier).isDefined =>
      namedPath(u.multipartIdentifier).map((_, None))
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
        if namedPath(u.multipartIdentifier).isDefined =>
      namedPath(u.multipartIdentifier).map((_, None))
    case _ => None
  }
}

private[plans] case class GraftDeleteCommand(path: String, pred: Column)
    extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  // TBLPROPERTIES dispatch: graft.deletionVectors=true routes the SQL
  // DELETE merge-on-read (an O(deleted rows) sidecar commit); default
  // stays copy-on-write. Same statement text, table-configured cost —
  // Delta's enableDeletionVectors contract.
  def execute(spark: SparkSession): Long =
    if (GraftTable.deletionVectorsEnabled(path))
      GraftTable.deleteWhereMor(spark, path, pred,
        GraftDml.pruneRangesOf(spark, path, pred))
    else GraftTable.deleteWhere(spark, path, pred,
      GraftDml.pruneRangesOf(spark, path, pred))
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
  override def simpleString(maxFields: Int): String =
    s"GraftDeleteCommand $path, $pred"
}

private[plans] case class GraftUpdateCommand(path: String, pred: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  // same TBLPROPERTIES dispatch as DELETE: vectors mask the old images,
  // the new ones append — O(changed rows), not O(touched files)
  def execute(spark: SparkSession): Long =
    if (GraftTable.deletionVectorsEnabled(path))
      GraftTable.updateWhereMor(spark, path, pred, set,
        GraftDml.pruneRangesOf(spark, path, pred))
    else GraftTable.updateWhere(spark, path, pred, set,
      GraftDml.pruneRangesOf(spark, path, pred))
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
  override def simpleString(maxFields: Int): String =
    s"GraftUpdateCommand $path, $pred, SET ${set.keys.mkString(", ")}"
}

private[plans] case class GraftMergeCommand(m: MergeIntoTable) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil

  def execute(spark: SparkSession): Long = {
    val (path, tAlias) = GraftTarget.unapply(m.targetTable).getOrElse(
      throw new IllegalArgumentException("MERGE target is not a graft table"))
    val sAlias = m.sourceTable match {
      case SubqueryAlias(id, _) => Some(id.name)
      case u: UnresolvedRelation => Some(u.multipartIdentifier.last)
      case _ => None
    }
    val source = ClassicBridge.ofRows(spark, m.sourceTable)
    val tQuals = tAlias.toSet + "graft"
    def col(e: Expression) = GraftDml.clauseCol(e, tQuals, sAlias)
    def sideOf(a: UnresolvedAttribute): String =
      if (a.nameParts.size > 1 && sAlias.exists(_.equalsIgnoreCase(a.nameParts.head))) "src"
      else "tgt"
    val keys = GraftDml.conjuncts(m.mergeCondition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
          if Set(sideOf(l), sideOf(r)) == Set("src", "tgt") =>
        val (ln, rn) = (l.nameParts.last, r.nameParts.last)
        require(ln.equalsIgnoreCase(rn),
          s"ON equality must pair the SAME key column on both sides, got $ln = $rn " +
            "(the keyed-COW merge matches by shared key names)")
        ln
      case other => throw new IllegalArgumentException(
        "MERGE ON must be a conjunction of target.key = source.key equalities, " +
          s"got $other")
    }
    var updateSet = Map.empty[String, Column]
    var updateWhen: Option[Column] = None
    var sawUpdate = false
    var deleteWhen: Option[Column] = None
    m.matchedActions.foreach {
      case DeleteAction(c) =>
        require(deleteWhen.isEmpty, "at most one WHEN MATCHED ... DELETE clause")
        deleteWhen = Some(c.map(col).getOrElse(lit(true)))
      case UpdateAction(c, assigns, _) =>
        require(!sawUpdate, "at most one WHEN MATCHED ... UPDATE clause")
        sawUpdate = true
        updateWhen = c.map(col)
        updateSet = assigns.map(a => GraftDml.assignName(a.key) -> col(a.value)).toMap
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val insert = m.notMatchedActions match {
      case Nil => false
      case Seq(InsertStarAction(None)) => true
      case other => throw new IllegalArgumentException(
        "the not-matched clause must be an unconditional INSERT * " +
          s"(the keyed merge inserts full source rows), got $other")
    }
    require(m.notMatchedBySourceActions.isEmpty,
      "WHEN NOT MATCHED BY SOURCE is not supported")
    // TBLPROPERTIES dispatch, same as DELETE/UPDATE: under
    // graft.deletionVectors=true the statement goes merge-on-read —
    // masked rows + appended images at O(changed rows), not COW's
    // O(files holding source keys)
    if (GraftTable.deletionVectorsEnabled(path))
      GraftTable.mergeIntoMor(spark, path, source, keys,
        updateSet = updateSet, updateWhen = updateWhen, deleteWhen = deleteWhen,
        insertNotMatched = insert)
    else
      GraftTable.mergeInto(spark, path, source, keys,
        updateSet = updateSet, updateWhen = updateWhen, deleteWhen = deleteWhen,
        insertNotMatched = insert)
  }

  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

private[plans] case class GraftAddCheckCommand(path: String, name: String,
    conditionSql: String) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long =
    GraftTable.addCheck(spark, path, name, conditionSql)
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

private[plans] case class GraftDropCheckCommand(path: String, name: String,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long = {
    val present = GraftTable.describeChecks(spark, path)
      .filter(org.apache.spark.sql.functions.col("name") === name).count() > 0
    if (!present && ifExists) GraftTable.currentVersion(path).getOrElse(0L)
    else GraftTable.dropCheck(path, name)
  }
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `ALTER TABLE graft.`p` ADD COLUMNS (c TYPE, …)` — the metadata-only
  * schema append ([[GraftTable.addColumn]]; zero data IO, new columns
  * read NULL from pre-add files, re-adds can never resurrect dropped
  * on-disk values). Multiple columns commit one version each, in
  * statement order. */
private[plans] case class GraftAddColumnsCommand(path: String,
    cols: Seq[(String, String)]) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long =
    cols.map { case (n, t) => GraftTable.addColumn(path, n, t) }.last
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `ALTER TABLE graft.`p` RENAME COLUMN a TO b` — metadata-only
  * ([[GraftTable.renameColumn]]; files keep their physical names via
  * the rename-indirection map). */
private[plans] case class GraftRenameColumnCommand(path: String,
    from: String, to: String) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long = GraftTable.renameColumn(path, from, to)
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `ALTER TABLE graft.`p` DROP COLUMN [IF EXISTS] a[, b]` —
  * metadata-only ([[GraftTable.dropColumn]]; on-disk data stays until
  * rewrites shed it, historical versions still read it). */
private[plans] case class GraftDropColumnsCommand(path: String,
    names: Seq[String], ifExists: Boolean) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long =
    names.map { n =>
      val there = GraftTable.currentManifest(path).exists(m =>
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
          .fieldNames.contains(n))
      if (!there && ifExists) GraftTable.currentVersion(path).getOrElse(0L)
      else GraftTable.dropColumn(path, n)
    }.last
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `INSERT INTO|OVERWRITE graft.`p` SELECT …` — the dialect's basic
  * write surface, routed through [[GraftTable.append]]/
  * [[GraftTable.overwrite]] so CHECK constraints, stats collection,
  * and schema verification all apply. Positional SQL semantics: the
  * SELECT's columns bind to the target schema by position and cast to
  * its types; `BY NAME` binds by name. The query plan resolves at
  * EXECUTE time (temp views in the SELECT see the session as-of the
  * run, like any SQL insert). */
private[plans] case class GraftInsertCommand(path: String, query: LogicalPlan,
    overwrite: Boolean, byName: Boolean) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    val m = GraftTable.currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable — " +
        "CREATE TABLE graft.`…` AS SELECT creates one"))
    val target = StructType.fromDDL(m.schemaDdl)
    val df0 = ClassicBridge.ofRows(spark, query)
    val bound =
      if (byName) {
        // resolve case-insensitively (SQL name semantics) and refuse
        // extra query columns like native INSERT BY NAME does — a typo'd
        // column must never silently drop
        val byLower = df0.columns.groupBy(_.toLowerCase)
        byLower.collectFirst { case (_, vs) if vs.length > 1 => vs } .foreach(vs =>
          throw new IllegalArgumentException(
            s"INSERT BY NAME: ambiguous query columns ${vs.mkString(", ")}"))
        val missing = target.fieldNames.filterNot(f => byLower.contains(f.toLowerCase))
        require(missing.isEmpty,
          s"INSERT BY NAME: query is missing target column(s) ${missing.mkString(", ")}")
        val extra = df0.columns.filterNot(c =>
          target.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(extra.isEmpty,
          s"INSERT BY NAME: query column(s) ${extra.mkString(", ")} are not in the " +
            s"target schema [${m.schemaDdl}]")
        df0.select(target.fields.map(f =>
          col(byLower(f.name.toLowerCase).head).cast(f.dataType).as(f.name)).toSeq: _*)
      } else {
        require(df0.schema.length == target.length,
          s"INSERT: query has ${df0.schema.length} column(s), target has ${target.length}")
        df0.toDF(target.fieldNames.toSeq: _*)
          .select(target.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      }
    if (overwrite) GraftTable.overwrite(bound, path) else GraftTable.append(bound, path)
  }
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `CREATE [OR REPLACE] TABLE [IF NOT EXISTS] graft.`p` AS SELECT …` —
  * materialize a query as a new GraftTable (v1 overwrite commit;
  * OR REPLACE evolves an existing table's schema the way
  * [[GraftTable.overwrite]] always has, keeping its history). */
private[plans] case class GraftCreateTableCommand(path: String, query: LogicalPlan,
    ignoreIfExists: Boolean, replace: Boolean, orCreate: Boolean = false)
    extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long = {
    val exists = GraftTable.exists(path)
    if (exists && !replace) {
      if (ignoreIfExists) return GraftTable.currentVersion(path).getOrElse(0L)
      throw new IllegalArgumentException(
        s"graft table '$path' already exists (use OR REPLACE, or IF NOT EXISTS to no-op)")
    }
    if (!exists && replace && !orCreate)
      throw new IllegalArgumentException(
        s"REPLACE TABLE: no graft table at '$path' (use CREATE OR REPLACE)")
    GraftTable.overwrite(ClassicBridge.ofRows(spark, query), path)
  }
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `VACUUM graft.`p` [RETAIN n HOURS] [DRY RUN]` — the maintenance
  * statement Spark's grammar lacks; parsed by [[GraftMaintenance]] (the
  * same move Delta's own parser makes for its VACUUM/OPTIMIZE). Returns
  * the deleted-file count — or, with DRY RUN, the count that WOULD be
  * deleted, touching nothing. */
private[plans] case class GraftVacuumCommand(path: String,
    retainHours: Option[Double], dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "deleted_files", org.apache.spark.sql.types.IntegerType, nullable = false)())
  def execute(spark: SparkSession): Long =
    GraftTable.vacuum(path, keepVersions = 2,
      retainAgeUs = retainHours.map(h => (h * 3600d * 1e6).toLong),
      dryRun = dryRun).toLong
  override def run(spark: SparkSession): Seq[Row] = Seq(Row(execute(spark).toInt))
}

/** `OPTIMIZE graft.`p` [WHERE bounds] [ZORDER BY (col, ...)]` —
  * bin-pack compaction, a range recluster on one column, or a true
  * multi-column Morton interleave: ≥2 columns auto-quantize against the
  * snapshot's live min/max ([[GraftTable.zorderClusterExpr]] —
  * manifest-stats bounds when available, one min/max scan otherwise)
  * and range-cluster on the interleaved key, so per-file ranges tighten
  * on EVERY listed dimension at once. Clustered columns are forced into
  * the stats set even past the default cap — a relayout whose ranges
  * nobody records would prune nothing. A `WHERE` bounds the rewrite to
  * the files whose stats may intersect it (conjunctions of `col >= v`,
  * `col <= v`, `col = v`, `col BETWEEN a AND b`) — the
  * partition-scoped-OPTIMIZE move, generalized to stats ranges. */
private[plans] case class GraftOptimizeCommand(path: String,
    zorderCols: Seq[String],
    where: Seq[(String, Option[String], Option[String])] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.IntegerType
    Seq(AttributeReference("files_before", IntegerType, nullable = false)(),
      AttributeReference("files_after", IntegerType, nullable = false)())
  }
  private def typedRanges(): Seq[GraftTable.ColRange] =
    GraftMaintenance.typedRanges(path, where)
  def execute(spark: SparkSession): (Int, Int) = {
    val ranges = typedRanges()
    val props = GraftTable.propertiesOf(path)
    // `graft.targetFileSize` (bytes) tunes what "small" means for this
    // table — point lookups want ~32 MB files, scan-heavy want 256 MB+;
    // a per-statement knob would drift, a table property rides the
    // manifest into every maintenance run
    val target = props.get("graft.targetFileSize").map { v =>
      val t = v.trim.toLong
      require(t > 0, s"graft.targetFileSize must be positive bytes, got '$v'")
      t
    }.getOrElse(128L << 20)
    // a table declaring `graft.clusterBy` reclusters on PLAIN OPTIMIZE —
    // the liquid-clustering UX re-derived: writes land as they arrive
    // (append cost stays O(batch)), and maintenance restores the
    // declared layout without the operator restating the columns. An
    // explicit ZORDER BY still overrides per statement.
    val cluster = if (zorderCols.nonEmpty) zorderCols
      else props.get("graft.clusterBy").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    cluster match {
      case Seq() =>
        GraftTable.compactFiles(spark, path, targetBytes = target, where = ranges)
      case cols =>
        // the windowed-recluster soundness argument (carried files are
        // provably disjoint from the window on the CONSTRAINED columns,
        // so they cannot straddle the rewritten range order) only holds
        // when every cluster column is constrained — refuse the
        // silently-poisoned layout otherwise
        if (ranges.nonEmpty) {
          val whereCols = ranges.map(_.col).toSet
          val loose = cols.filterNot(whereCols.contains)
          require(loose.isEmpty,
            s"OPTIMIZE WHERE + ZORDER BY: cluster column(s) ${loose.mkString(", ")} " +
              "are not bounded by the WHERE — carried files outside the window " +
              "would span their full range and defeat the recluster. Bound every " +
              "ZORDER column in the WHERE, or drop the WHERE for a full recluster")
        }
        val cluster =
          if (cols.size == 1) org.apache.spark.sql.functions.col(cols.head)
          else GraftTable.zorderClusterExpr(spark, path, cols)
        GraftTable.compactFiles(spark, path, targetBytes = target,
          statsCols = GraftTable.statsColsPlus(path, cols),
          clusterBy = Some(cluster), where = ranges)
    }
  }
  override def run(spark: SparkSession): Seq[Row] = {
    val (b, a) = execute(spark)
    Seq(Row(b, a))
  }
}

/** `ANALYZE graft.`p` COMPUTE STATS|BLOOM FOR COLUMNS (a, b)` — backfill
  * per-file stats or bloom filters onto the current snapshot without
  * rewriting data ([[GraftTable.analyzeStats]]): one columnar scan of
  * just the listed columns over just the files that lack them, then a
  * metadata-only commit. Makes file skipping available post-hoc on
  * columns nobody indexed at write time. */
private[plans] case class GraftAnalyzeCommand(path: String,
    cols: Seq[String], bloom: Boolean) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "version", org.apache.spark.sql.types.LongType, nullable = false)())
  def execute(spark: SparkSession): Long =
    if (bloom) GraftTable.analyzeStats(spark, path, Nil, bloomCols = cols)
    else GraftTable.analyzeStats(spark, path, cols)
  override def run(spark: SparkSession): Seq[Row] = Seq(Row(execute(spark)))
}

private[plans] case class GraftRestoreCommand(path: String,
    version: Option[Long], tsText: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "restored_to_version", org.apache.spark.sql.types.LongType, nullable = false)())
  def execute(spark: SparkSession): Long = {
    val target = version.getOrElse(GraftTable.manifestAsOf(path,
      graft.sources.GraftBatchRead.tsMicros(tsText.get)).version)
    GraftTable.restore(path, target)
  }
  override def run(spark: SparkSession): Seq[Row] = Seq(Row(execute(spark)))
}

private[plans] case class GraftCloneCommand(dstPath: String, srcPath: String,
    deep: Boolean) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long =
    GraftTable.cloneTable(spark, srcPath, dstPath, deep)
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `ALTER TABLE graft.`p` SET TBLPROPERTIES('k'='v', …)` — merge into
  * the manifest-carried property map, one metadata-only commit. */
private[plans] case class GraftSetPropertiesCommand(path: String,
    props: Map[String, String]) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long = GraftTable.setProperties(path, props)
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `ALTER TABLE graft.`p` UNSET TBLPROPERTIES [IF EXISTS] ('k', …)`. */
private[plans] case class GraftUnsetPropertiesCommand(path: String,
    keys: Seq[String], ifExists: Boolean) extends LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  def execute(spark: SparkSession): Long =
    GraftTable.unsetProperties(path, keys, strict = !ifExists)
  override def run(spark: SparkSession): Seq[Row] = { execute(spark); Nil }
}

/** `SHOW TBLPROPERTIES graft.`p` [('key')]` — (key, value) rows. */
private[plans] case class GraftShowPropertiesCommand(path: String,
    key: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.StringType
    Seq(AttributeReference("key", StringType, nullable = false)(),
      AttributeReference("value", StringType, nullable = false)())
  }
  override def run(spark: SparkSession): Seq[Row] = {
    val all = GraftTable.propertiesOf(path)
    key match {
      case Some(k) => all.get(k).map(v => Row(k, v)).toSeq
      case None => all.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `REORG TABLE graft.`p` APPLY (PURGE)` — fold every deletion vector
  * into a rewrite of exactly the dv'd files ([[GraftTable.purgeDeletes]];
  * Delta's REORG…PURGE re-derived). The physical half of GDPR erasure
  * (vacuum then reclaims the superseded files and sidecars) and the
  * valve that returns a vector-heavy table to the filter-free
  * vectorized read path. */
private[plans] case class GraftReorgCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "purged_files", org.apache.spark.sql.types.IntegerType, nullable = false)())
  def execute(spark: SparkSession): Long = GraftTable.purgeDeletes(spark, path)._1.toLong
  override def run(spark: SparkSession): Seq[Row] = Seq(Row(execute(spark).toInt))
}

/** The maintenance statements Spark's grammar does not know — VACUUM,
  * OPTIMIZE, RESTORE, CLONE, REORG — recognized BEFORE delegating to
  * the real parser (Delta's DeltaSqlParser pattern). Anything else
  * falls through untouched. */
object GraftMaintenance {
  /** A maintenance target is `graft.` followed by either a backticked
    * absolute path (`graft.`/w/t``) or a dotted NAME (`graft.dwh.t`) —
    * the same two addressing modes the DML rewrite serves. Named form
    * resolves through the catalog warehouse conf in [[resolve]]. */
  private val Tgt = """(`[^`]+`|[\w][\w.]*)"""
  private val Reorg =
    ("""(?is)\s*REORG\s+TABLE\s+graft\s*\.\s*""" + Tgt + """\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*""").r
  private val Vacuum =
    ("""(?is)\s*VACUUM\s+graft\s*\.\s*""" + Tgt + """(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val Optimize =
    ("""(?is)\s*OPTIMIZE\s+graft\s*\.\s*""" + Tgt + """(?:\s+WHERE\s+(.+?))??(?:\s+ZORDER\s+BY\s*\(\s*([\w\s,]+?)\s*\))?\s*;?\s*""").r
  private val BoundBetween =
    """(?is)^(\w+)\s+BETWEEN\s+('[^']*'|[^\s']+)\s+AND\s+('[^']*'|[^\s']+)$""".r
  private val BoundCmp = """(?is)^(\w+)\s*(>=|<=|=|<|>)\s*('[^']*'|[^\s']+)$""".r

  /** Parse an OPTIMIZE WHERE conjunction into raw (col, lo, hi) string
    * bounds — the grammar is deliberately tiny (>=, <=, =, <, >,
    * BETWEEN, joined by AND): these bounds drive STATS pruning of the
    * rewrite set, not row filtering, so anything richer belongs in a
    * real predicate and a real query. Strict bounds relax to inclusive
    * ones (a SUPERSET of candidate files — at file granularity that
    * only ever rewrites one extra boundary file, never loses a row).
    * Splitting on AND re-joins the one AND that BETWEEN owns. */
  /** Split a WHERE conjunction on AND, QUOTE-AWARE: an `AND` inside a
    * single-quoted literal (`name BETWEEN 'a and b' AND 'c'`) is text,
    * not a conjunction boundary. SQL escapes a quote by doubling it —
    * the flip-flop scan handles `''` naturally (it toggles out and
    * straight back in). */
  private def splitTopLevelAnd(text: String): List[String] = {
    val parts = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    val t = text.trim
    def atAnd(j: Int): Boolean =
      j + 5 <= t.length && t.regionMatches(true, j, " AND ", 0, 5)
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '\'') { inQuote = !inQuote; cur += c; i += 1 }
      else if (!inQuote && c.isWhitespace && atAnd(i)) {
        parts += cur.toString; cur.clear(); i += 5
      } else { cur += c; i += 1 }
    }
    parts += cur.toString
    parts.toList
  }

  private[plans] def parseBounds(text: String): Seq[(String, Option[String], Option[String])] = {
    val parts = splitTopLevelAnd(text)
    val joined = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < parts.length) {
      if (parts(i).matches("""(?is)\w+\s+BETWEEN\s+.*""") && i + 1 < parts.length) {
        joined += s"${parts(i)} AND ${parts(i + 1)}"; i += 2
      } else { joined += parts(i); i += 1 }
    }
    joined.toList.map(_.trim).map {
      case BoundBetween(c, lo, hi) => (c, Some(lo), Some(hi))
      case BoundCmp(c, ">=" | ">", v) => (c, Some(v), None)
      case BoundCmp(c, "<=" | "<", v) => (c, None, Some(v))
      case BoundCmp(c, "=", v) => (c, Some(v), Some(v))
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE WHERE supports conjunctions of col >=|<=|=|BETWEEN literals, got: $other")
    }
  }
  /** Typed stats ranges from parsed (col, lo, hi) string bounds,
    * against the table's CURRENT schema. Shared by OPTIMIZE WHERE and
    * REPLACE WHERE — bounds drive stats pruning of the touched set,
    * never row filtering. */
  private[plans] def typedRanges(path: String,
      where: Seq[(String, Option[String], Option[String])]): Seq[GraftTable.ColRange] = {
    if (where.isEmpty) return Nil
    import org.apache.spark.sql.types._
    val schema = StructType.fromDDL(GraftTable.currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable")).schemaDdl)
    def lit(dt: DataType, s0: String): Any = {
      val s = if (s0.length >= 2 && s0.startsWith("'") && s0.endsWith("'"))
        s0.substring(1, s0.length - 1) else s0
      dt match {
        case ByteType | ShortType | IntegerType | LongType => java.lang.Long.parseLong(s)
        case FloatType | DoubleType => java.lang.Double.parseDouble(s)
        case d: DecimalType => new java.math.BigDecimal(s)
        case DateType => java.sql.Date.valueOf(s)
        case TimestampType => java.sql.Timestamp.valueOf(s)
        // NTZ stats encode UTC wall-clock (LocalDateTime) — a
        // zone-interpreted Timestamp here would shift the window by the
        // JVM offset (the zorderClusterExpr codec lesson). A date-only
        // literal bounds at midnight, matching the predicate's own
        // string→NTZ coercion.
        case TimestampNTZType =>
          val t = s.replace(" ", "T")
          if (t.contains("T")) java.time.LocalDateTime.parse(t)
          else java.time.LocalDate.parse(t).atStartOfDay()
        case StringType => s
        case other => throw new IllegalArgumentException(
          s"stats bounds on ${other.simpleString} are not supported")
      }
    }
    where.map { case (c, lo, hi) =>
      require(schema.fieldNames.contains(c), s"no column '$c' in [${schema.toDDL}]")
      val dt = schema(c).dataType
      GraftTable.ColRange(c, lo.map(lit(dt, _)), hi.map(lit(dt, _)))
    }
  }

  /** Best-effort stats bounds for an arbitrary predicate text: when the
    * predicate fits the tiny bounds grammar it prunes the touched set
    * exactly like OPTIMIZE WHERE; anything richer degrades to no
    * pruning (the exact predicate still applies row-by-row) — never an
    * error, because REPLACE WHERE accepts any predicate. */
  private[plans] def boundsOf(path: String, predText: String): Seq[GraftTable.ColRange] =
    try typedRanges(path, parseBounds(predText))
    catch { case _: IllegalArgumentException => Nil }

  private val RestoreV =
    ("""(?is)\s*RESTORE\s+(?:TABLE\s+)?graft\s*\.\s*""" + Tgt + """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""").r
  private val RestoreT =
    ("""(?is)\s*RESTORE\s+(?:TABLE\s+)?graft\s*\.\s*""" + Tgt + """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""").r
  private val Clone =
    ("""(?is)\s*CREATE\s+TABLE\s+graft\s*\.\s*""" + Tgt + """\s+(SHALLOW|DEEP)\s+CLONE\s+graft\s*\.\s*""" + Tgt + """\s*;?\s*""").r
  private val Analyze =
    ("""(?is)\s*ANALYZE\s+(?:TABLE\s+)?graft\s*\.\s*""" + Tgt + """\s+COMPUTE\s+(STATS|BLOOM)\s+FOR\s+COLUMNS\s*\(\s*([\w\s,]+?)\s*\)\s*;?\s*""").r
  /** `INSERT INTO graft.t REPLACE WHERE pred SELECT …` — Delta's
    * dynamic-overwrite statement, which Spark's grammar lacks. The
    * predicate runs to the first top-level SELECT/VALUES keyword; a
    * predicate that itself needs a subquery belongs in the Scala API
    * ([[GraftTable.overwriteWhere]] takes any Column). */
  private val ReplaceW =
    ("""(?is)\s*INSERT\s+INTO\s+graft\s*\.\s*""" + Tgt +
      """\s+REPLACE\s+WHERE\s+(.+?)\s+(\(?\s*(?:SELECT|VALUES)\b.+?)\s*;?\s*""").r
  private val Truncate =
    ("""(?is)\s*TRUNCATE\s+TABLE\s+graft\s*\.\s*""" + Tgt + """\s*;?\s*""").r

  /** Resolve a captured target to a table path: backticked text is the
    * path verbatim; dotted-name text resolves through
    * `spark.sql.catalog.graft.warehouse` (namespace chain = directory
    * chain — the SAME mapping [[graft.catalog.GraftCatalog]] serves).
    * A named target with no warehouse conf set fails loudly rather
    * than inventing a relative path. */
  private[graft] def resolve(raw: String): String =
    if (raw.startsWith("`")) raw.substring(1, raw.length - 1)
    else org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.sql.catalog.graft.warehouse"))
      .map(w => (w.stripSuffix("/") +: raw.split('.').toSeq).mkString("/"))
      .getOrElse(throw new IllegalArgumentException(
        s"named graft target '$raw' requires spark.sql.catalog.graft.warehouse " +
          "(or address by path: graft.`/abs/path`)"))

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case Reorg(path) => Some(GraftReorgCommand(resolve(path)))
    case Analyze(path, kind, cols) =>
      Some(GraftAnalyzeCommand(resolve(path),
        cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
        kind.equalsIgnoreCase("BLOOM")))
    case Vacuum(path, hours, dry) =>
      Some(GraftVacuumCommand(resolve(path), Option(hours).map(_.toDouble), dry != null))
    case Optimize(path, whereText, zcols) =>
      Some(GraftOptimizeCommand(resolve(path),
        Option(zcols).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
        Option(whereText).map(parseBounds).getOrElse(Nil)))
    case RestoreV(path, v) => Some(GraftRestoreCommand(resolve(path), Some(v.toLong), None))
    case RestoreT(path, ts) => Some(GraftRestoreCommand(resolve(path), None, Some(ts)))
    case Clone(dst, kind, src) =>
      Some(GraftCloneCommand(resolve(dst), resolve(src), kind.equalsIgnoreCase("DEEP")))
    case ReplaceW(path, pred, select) =>
      Some(GraftReplaceWhereCommand(resolve(path), pred.trim, select.trim))
    case Truncate(path) => Some(GraftTruncateCommand(resolve(path)))
    case _ => None
  }
}

/** `TRUNCATE TABLE graft.t` → [[GraftTable.truncate]]: empty the table
  * in one metadata-only commit (no file read, rewritten, or deleted;
  * the old snapshot stays time-travelable until vacuum). */
private[plans] case class GraftTruncateCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "version", org.apache.spark.sql.types.LongType, nullable = false)())
  def execute(spark: SparkSession): Long = GraftTable.truncate(path)
  override def run(spark: SparkSession): Seq[Row] = Seq(Row(execute(spark)))
}

/** `INSERT INTO graft.t REPLACE WHERE pred SELECT …` → one atomic
  * [[GraftTable.overwriteWhere]] commit: rows matching `pred` replaced
  * by the query's result, fully-covered files dropped metadata-only.
  * When the predicate fits the OPTIMIZE WHERE bounds grammar it also
  * stats-prunes the touched-file probe. Under
  * `graft.deletionVectors=true` the same text goes merge-on-read
  * ([[GraftTable.overwriteWhereMor]]): boundary files mask via
  * vectors instead of rewriting. */
private[plans] case class GraftReplaceWhereCommand(path: String,
    predText: String, selectText: String) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "version", org.apache.spark.sql.types.LongType, nullable = false)())
  def execute(spark: SparkSession): Long = {
    val (src, pred, bounds) = (spark.sql(selectText),
      org.apache.spark.sql.functions.expr(predText),
      GraftMaintenance.boundsOf(path, predText))
    if (GraftTable.deletionVectorsEnabled(path))
      GraftTable.overwriteWhereMor(spark, path, src, pred, bounds)
    else GraftTable.overwriteWhere(spark, path, src, pred, bounds)
  }
  override def run(spark: SparkSession): Seq[Row] = Seq(Row(execute(spark)))
}

/** The plan rewrite in analyzer-rule form (what [[GraftSqlParser]]
  * applies at parse time; also directly applicable to a parsed plan). */
case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = GraftDml.rewrite(plan)
}

/** Parser wrapper for extension-built sessions
  * ([[graft.expressions.GraftExtensions]] injects it): statements parse
  * through Spark's full grammar via the delegate, then graft DML plans
  * rewrite to runnable commands — `spark.sql("MERGE INTO graft.`…` …")`
  * executes natively, every other statement is byte-identical to stock
  * Spark. */
class GraftSqlParser(delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMaintenance.parse(sqlText)
      .getOrElse(GraftDml.rewrite(delegate.parsePlan(sqlText)))
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): org.apache.spark.sql.catalyst.TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
}
