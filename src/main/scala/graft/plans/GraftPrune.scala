package graft.plans

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.graftbridge.ClassicBridge

import graft.core.GraftTable
import graft.sources.GraftBatchRead

/** The graft optimizer rules. Every GraftTable read is a DSv2 relation
  * whose [[graft.sources.GraftBatch]] scan already skips files by
  * manifest stats and blooms against the pushed filters, so the rules
  * cover only what that pushdown cannot express:
  *  - manifest-answered aggregates ([[GraftPrune.rewriteMetaAgg]],
  *    [[GraftPrune.rewriteFilteredCount]],
  *    [[GraftPrune.rewriteGroupedMetaAgg]]) — grouped, filtered and
  *    `date_trunc` folds over the v2 relation's pinned entries;
  *  - file skipping for a PLAIN parquet read of a GraftTable's `data/`
  *    directory (`spark.read.parquet` over the files, bypassing the
  *    manifest): a `Filter` directly over that scan gets its file list
  *    narrowed to the files whose per-file stats can satisfy the
  *    predicate, by the scan's own keep test
  *    ([[graft.sources.GraftBatchRead.keepByV1Filters]]: range filters probe
  *    [min,max]; `IN`/`=` filters also probe the per-file BLOOM
  *    filters). The filter itself stays in the plan, so the rewrite is
  *    purely a file-set refinement.
  *
  * Every rule reads the predicate in ONE form: each condition goes
  * through Spark's own pushdown translator
  * ([[ClassicBridge.translateFilter]]) into the `sources.Filter`s the v2
  * scan builder receives, so the folds, the plain-parquet rule, the v2
  * exact-prune claim and split planning all see the same shapes.
  *
  * Safety:
  *  - only ranges PROVABLY empty on a file's stats are dropped (the
  *    [[GraftTable.mayMatch]] core, property-tested by the format specs);
  *    strict bounds are relaxed to inclusive before probing — always
  *    conservative;
  *  - stats are matched per FILE basename against every retained
  *    manifest (files are immutable), so version reads and already-
  *    pruned subsets skip correctly too;
  *  - anything unexpected (non-Graft dirs, exotic predicates, missing
  *    stats) degrades to a no-op, never an error — the rule can only
  *    remove provably-dead IO.
  *
  * Register it context-wide with
  * `spark.sql.extensions=graft.expressions.GraftExtensions`, or per
  * session with [[GraftPrune.install]]; [[GraftPrune.ruled]] plans with
  * it in a child session without changing the caller's. */
case class GraftPrune(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // operational kill switch (Delta-style rule toggle): with the rule
    // off, plans fall back to the scan-level machinery — v2 pushdown
    // into GraftBatch — which must answer identically
    if (!GraftRules.enabled(spark)) return plan
    applyRules(plan)
  }

  private def applyRules(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, lr: LogicalRelation) =>
      try prune(f, cond, lr) catch { case scala.util.control.NonFatal(_) => f }
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      try GraftPrune.rewriteMetaAgg(agg)
        .orElse(GraftPrune.rewriteFilteredCount(agg)).getOrElse(agg)
      catch { case scala.util.control.NonFatal(_) => agg }
    case agg: Aggregate =>
      try GraftPrune.rewriteGroupedMetaAgg(agg).getOrElse(agg)
      catch { case scala.util.control.NonFatal(_) => agg }
  }

  private def prune(f: Filter, cond: Expression, lr: LogicalRelation): LogicalPlan = {
    val fs = lr.relation match {
      case r: HadoopFsRelation => r
      case _ => return f
    }
    val files = fs.location.inputFiles
    if (files.isEmpty) return f
    val dirs = files.map(p => new File(stripScheme(p)).getParentFile).distinct
    if (dirs.length != 1 || dirs(0) == null || !GraftTable.isDataDir(dirs(0))) return f
    // each conjunct Spark's pushdown can translate; the rest stay residual
    val filters = splitConjunctivePredicates(cond).flatMap(ClassicBridge.translateFilter)
    lazy val stats = GraftTable.statsForFiles(dirs(0).getParentFile.getPath)
    val kept = GraftBatchRead.keepByV1Filters(spark, lr.schema, files.toSeq,
      filters.toArray)(p => stats.getOrElse(p.split('/').last, Map.empty))
    if (kept.length == files.length) return f // nothing to skip — fixpoint
    val idx = new InMemoryFileIndex(spark,
      kept.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty[String, String], Some(fs.dataSchema))
    Filter(cond, lr.copy(relation = fs.copy(location = idx)(spark)))
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
}

/** Session-conf kill switch for the injected optimizer rules —
  * `spark.graft.rules.enabled=false` turns them off (default on). The
  * scan-level machinery (DSv2 pushdown into GraftBatch) answers
  * identically without them; the switch exists for operational
  * isolation and for proving the extension-free paths in sessions whose
  * context was built with `spark.sql.extensions` (context-wide — a
  * `newSession()` cannot shed it). */
object GraftRules {
  val Key = "spark.graft.rules.enabled"
  def enabled(spark: SparkSession): Boolean =
    spark.conf.get(Key, "true").toBoolean
}

object GraftPrune extends PredicateHelper {
  /** Idempotent install into `spark`'s experimental optimizer hook —
    * the in-session counterpart of the `spark.sql.extensions`
    * registration. It changes how every later query of `spark` plans,
    * and an installed rule runs after v2 pushdown (it sees the pushed
    * scan), so library code that only needs the rule for its own
    * queries uses [[ruled]] instead. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[GraftPrune]))
      spark.experimental.extraOptimizations = cur :+ GraftPrune(spark)
  }

  /** A child of `spark` — same confs, catalog and cache — with the rule
    * installed; `spark` itself plans as before. */
  def ruled(spark: SparkSession): SparkSession = {
    val child = ClassicBridge.cloneSession(spark)
    install(child)
    child
  }

  // --------------------------------------------- metadata-only aggregates

  /** ANSWER groupless `count(*) / count(col) / min(col) / max(col)`
    * FROM THE MANIFEST — zero file IO (Delta/Iceberg's metadata-query
    * trick, re-derived as a logical rewrite): a v2 relation over a
    * [[graft.catalog.GraftNamedTable]] pins a manifest and an entry
    * set, the aggregate folds over those entries on the driver, and the
    * whole subtree collapses to a [[LocalRelation]]. At 100 TB,
    * `SELECT count(*) FROM t` is one manifest read instead of a
    * million-file scan.
    *
    * Deletion-vectored (MOR) snapshots still fold the COUNT family:
    * per-file `liveRows` is exact in the manifest (physical rows minus
    * the vector's cardinality), so `count(*)` and `count(col)` on a
    * non-nullable column stay zero-IO after a MOR delete. Nullable
    * `count(col)`, `min`, and `max` bail in the presence of any vector
    * — the dead rows' null counts and whether a vector killed the
    * extremum row are not derivable from file-grain stats. Renamed
    * entries bail entirely: a retired physical name can collide with a
    * CURRENT logical name and silently read another column's stats.
    *
    * Fires ONLY when every aggregate in the output is answerable
    * exactly: count(*) always; count(col) when the column is
    * non-nullable or every file carries its null count; min/max when
    * every file carries the column's stats (a file written without
    * `statsCols` blocks the rewrite — stats answer, never guess).
    * Distinct aggregates, FILTER clauses, sums, averages, or any other
    * aggregate shape leave the plan untouched. Expressions AROUND the
    * aggregates (`micros(min(ts))`, arithmetic, casts) are fine — each
    * answered aggregate substitutes as a literal and the wrapper folds
    * over a [[OneRowRelation]]. A Project child is accepted only as
    * pure column pruning (plain attributes). */
  private[graft] def rewriteMetaAgg(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import graft.core.GraftTable.FileEntry
    val entries: Seq[FileEntry] = agg.child match {
      case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        planEntries(ch).getOrElse(return None)
      case ch => planEntries(ch).getOrElse(return None)
    }
    val aggCalls = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggCalls.isEmpty) return None
    // translate to the shared fold's requests; count(NULL literal) is 0
    // without touching the manifest at all
    val trans: Seq[(AggregateExpression, scala.Either[Any, MetaReq])] = aggCalls.map { ae =>
      if (ae.isDistinct || ae.filter.isDefined) return None
      val e: scala.Either[Any, MetaReq] = ae.aggregateFunction match {
        case Count(Seq(Literal(v0, _))) =>
          if (v0 == null) scala.Left(0L) else scala.Right(CountStarReq)
        case Count(Seq(a: AttributeReference)) =>
          scala.Right(CountColReq(a.name, a.nullable))
        case Min(a: AttributeReference) =>
          scala.Right(BoundReq(a.name, a.dataType, takeMax = false))
        case Max(a: AttributeReference) =>
          scala.Right(BoundReq(a.name, a.dataType, takeMax = true))
        case _ => return None
      }
      ae -> e
    }
    val folded = foldMetaAgg(entries,
      trans.collect { case (_, scala.Right(r)) => r }).getOrElse(return None)
    val it = folded.iterator
    val answered: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Literal] =
      trans.map { case (ae, e) =>
        ae.resultId -> Literal(e.fold(identity, _ => it.next()), ae.dataType)
      }.toMap
    // substitute each answered aggregate as a literal; wrapper
    // expressions (casts, arithmetic, epoch conversions) constant-fold
    val projected = agg.aggregateExpressions.map(ne =>
      ne.transform {
        case ae: AggregateExpression => answered(ae.resultId)
      }.asInstanceOf[NamedExpression])
    Some(Project(projected,
      org.apache.spark.sql.catalyst.plans.logical.OneRowRelation()))
  }

  /** FILTERED metadata aggregates: `count(*) / min / max` under a
    * range / equality / IN / IS NOT NULL filter, with AND/OR nesting,
    * answer from stats when EVERY file classifies cleanly — provably
    * fully-inside the predicate or provably fully-outside
    * ([[classifyFilteredTree]]). One straddling file blocks the rewrite
    * (a partial answer would need real IO — stats answer, never guess).
    * On a layout clustered like the predicate — the date-partitioned
    * 100 TB shape — `SELECT count(*), max(ts) WHERE d BETWEEN x AND y`
    * becomes a manifest fold with at most the two boundary files
    * forcing a real scan, and usually none.
    *
    * The condition reaches the classifier the way filter pushdown sees
    * it: Spark's translator turns it into `sources.Filter`s
    * ([[ClassicBridge.translateFilter]]), [[v1StatPred]] compiles those.
    * Null discipline: a count over a ONE-column predicate folds `rows −
    * nulls` per inside file (a NULL fails every leaf on that column);
    * anything else needs inside files null-free on every involved
    * column. MIN/MAX are stricter still: a row null in a constrained
    * column is excluded by the filter yet may carry ANY other column's
    * extremum, and a deletion vector may have killed the extremum row.
    * Strictness is preserved — this classification is separate from
    * the PRUNING keep test, which relaxes strict bounds (safe to
    * over-keep, fatal to over-answer). */
  private[graft] def rewriteFilteredCount(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        stripProjects(c)
      case other => other
    }
    val (cond, leaf) = stripProjects(agg.child) match {
      case Filter(c, ch) => (c, stripProjects(ch))
      case _ => return None
    }
    val entries = planEntries(leaf).getOrElse(return None)
    if (entries.exists(_.renames.exists(_.nonEmpty))) return None
    // every aggregate must be answerable under a filter: count(non-null
    // literal), or min/max of a stats-tagged column; wrappers fold
    val aggCalls = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggCalls.isEmpty) return None
    if (aggCalls.exists(ae => ae.isDistinct || ae.filter.isDefined)) return None
    if (!aggCalls.forall(_.aggregateFunction match {
      case Count(Seq(Literal(v, _))) => v != null
      case Min(a: AttributeReference) => GraftTable.statTag(a.dataType).isDefined
      case Max(a: AttributeReference) => GraftTable.statTag(a.dataType).isDefined
      case _ => false
    })) return None
    val wantsBounds = aggCalls.exists(_.aggregateFunction match {
      case Min(_) | Max(_) => true
      case _ => false
    })
    val (total, inside) = classifyFilteredTree(entries,
      statPredOf(leaf, cond).getOrElse(return None),
      forbidDv = wantsBounds, countOnly = !wantsBounds).getOrElse(return None)
    def filteredBound(a: AttributeReference, takeMax: Boolean): Any = {
      val tag = GraftTable.statTag(a.dataType).get
      val ss = inside.map(fe => fe.stats.getOrElse(a.name, return None))
      val bs = ss.flatMap(s => if (takeMax) s.max else s.min)
      if (bs.isEmpty) null // no surviving non-null value → SQL NULL
      else decodeInternal(a.dataType,
        bs.reduce((x, y) => if ((GraftTable.cmp(tag, x, y) > 0) == takeMax) x else y))
    }
    val answered = aggCalls.map { ae =>
      val v: Any = ae.aggregateFunction match {
        case Count(_) => total
        case Min(a: AttributeReference) => filteredBound(a, takeMax = false)
        case Max(a: AttributeReference) => filteredBound(a, takeMax = true)
        case _ => return None
      }
      ae.resultId -> Literal(v, ae.dataType)
    }.toMap
    val projected = agg.aggregateExpressions.map(ne =>
      ne.transform {
        case ae: AggregateExpression => answered(ae.resultId)
      }.asInstanceOf[NamedExpression])
    Some(Project(projected,
      org.apache.spark.sql.catalyst.plans.logical.OneRowRelation()))
  }

  /** One recognized conjunct over a stats-tagged column: `enc` is the
    * bound in the column's ENCODED stat domain ([[GraftTable.encode]]),
    * so classification compares strings the manifest already holds. */
  private[graft] case class StatCmp(col: String, tag: String, enc: String,
      strict: Boolean, lower: Boolean)

  /** One recognized `IN`-list conjunct: `encs` are the (non-null) list
    * values in the column's encoded stat domain, pre-sorted by
    * [[GraftTable.cmp]] order so range-disjointness tests are two
    * binary comparisons. */
  private[graft] case class StatIn(col: String, tag: String, encs: Seq[String])

  /** `cond` as a [[StatPred]] against `leaf`'s columns: Spark's pushdown
    * translator first, then [[v1StatPred]] — the one compile step every
    * file-stats consumer shares. None when any part has no stats form. */
  private def statPredOf(leaf: LogicalPlan, cond: Expression): Option[StatPred] =
    ClassicBridge.translateFilter(cond).flatMap(f => v1StatPred(leaf.schema, Seq(f)))

  /** A file-stats predicate: what [[v1StatPred]] compiles pushed or
    * translated `sources.Filter`s into, and [[classifyFilteredTree]]
    * classifies files against. */
  private[graft] sealed trait StatPred
  private[graft] case class PCmp(cmp: StatCmp) extends StatPred
  private[graft] case class PIn(in: StatIn) extends StatPred
  private[graft] case class PNotNull(col: String) extends StatPred
  private[graft] case class PAnd(ps: Seq[StatPred]) extends StatPred
  private[graft] case class POr(ps: Seq[StatPred]) extends StatPred
  /** A comparison against a NULL literal — no row ever passes. */
  private[graft] case object PNever extends StatPred

  private[graft] def predCols(p: StatPred): Set[String] = p match {
    case PCmp(c) => Set(c.col)
    case PIn(i) => Set(i.col)
    case PNotNull(c) => Set(c)
    case PAnd(ps) => ps.flatMap(predCols).toSet
    case POr(ps) => ps.flatMap(predCols).toSet
    case PNever => Set.empty
  }

  /** The ONE inside/outside file classification behind the extension
    * rule's filtered folds ([[rewriteFilteredCount]],
    * [[rewriteGroupedMetaAgg]]) and the stock-session v2 exact-prune
    * claim ([[graft.catalog.GraftMetaAggFold]]). Every data-bearing
    * file must classify provably fully-inside (all its rows pass) or
    * provably fully-outside (no row can pass); ONE straddler returns
    * None — stats answer, never guess. Returns the exact filtered row
    * count and the inside entries. Per file, against the tree:
    *
    *  - a comparison/IN over an all-NULL column is OUTSIDE at that LEAF
    *    (no row satisfies it) — under OR another branch may still admit
    *    the file;
    *  - AND: any Outside → Outside; all Inside → Inside; else straddle;
    *  - OR: any Inside → Inside; all Outside → Outside; else straddle;
    *  - a file whose recorded stat tag disagrees with the leaf's (a
    *    type-evolved history) straddles that leaf.
    *
    * Nulls: an inside file must be null-free on EVERY involved column —
    * a null row fails every leaf it hits, and whether some OR branch
    * rescues it is row-level knowledge stats don't carry. The one
    * exception is `countOnly` (the caller reads only the count, never
    * the inside files' rows or bounds) over a ONE-column tree: a NULL
    * fails every leaf on that column and every AND/OR of them, so a
    * dv-free inside file adds `rows − nulls`. Deletion-vector files
    * contribute liveRows (every live row passes); `forbidDv` bails on
    * them instead for callers folding bounds (the vector may have
    * killed the extremum row). A tree of NULL comparisons alone classifies
    * every file outside. */
  private[graft] def classifyFilteredTree(
      entries: Seq[graft.core.GraftTable.FileEntry],
      pred: StatPred, forbidDv: Boolean, countOnly: Boolean = false)
      : Option[(Long, List[graft.core.GraftTable.FileEntry])] = {
    val involved = predCols(pred)
    var total = 0L
    var inside = List.empty[graft.core.GraftTable.FileEntry]
    sealed trait Cls
    case object Inside extends Cls
    case object Outside extends Cls
    case object Straddle extends Cls
    entries.foreach { fe =>
      if (fe.rows > 0) {
        val st = involved.map(c => c -> fe.stats.getOrElse(c, return None)).toMap
        val rowsMinusNulls = countOnly && involved.size == 1 && fe.dv.isEmpty
        def leafBounds(col: String, tag: String): Option[(String, String)] = {
          val s = st(col)
          if (s.t != tag) None // type-evolved history — treated as straddle below
          else for (mn <- s.min; mx <- s.max) yield (mn, mx)
        }
        def eval(p: StatPred): Cls = p match {
          case PNever => Outside
          case PNotNull(c) =>
            val s = st(c)
            if (s.nulls == 0L) Inside
            else if (s.min.isEmpty && s.max.isEmpty) Outside // all-NULL
            else if (rowsMinusNulls) Inside // every non-null row passes
            else Straddle
          case PCmp(c) => leafBounds(c.col, c.tag) match {
            case None => if (st(c.col).min.isEmpty && st(c.col).max.isEmpty &&
              st(c.col).t == c.tag) Outside else Straddle // no usable bounds — bail
            case Some((mn, mx)) =>
              val sat =
                if (c.lower) { val r = GraftTable.cmp(c.tag, mn, c.enc)
                  if (c.strict) r > 0 else r >= 0 }
                else { val r = GraftTable.cmp(c.tag, mx, c.enc)
                  if (c.strict) r < 0 else r <= 0 }
              val fail =
                if (c.lower) { val r = GraftTable.cmp(c.tag, mx, c.enc)
                  if (c.strict) r <= 0 else r < 0 }
                else { val r = GraftTable.cmp(c.tag, mn, c.enc)
                  if (c.strict) r >= 0 else r > 0 }
              if (fail) Outside else if (sat) Inside else Straddle
          }
          case PIn(i) => leafBounds(i.col, i.tag) match {
            case None => if (st(i.col).min.isEmpty && st(i.col).max.isEmpty &&
              st(i.col).t == i.tag) Outside else Straddle // no usable bounds — bail
            case Some((mn, mx)) =>
              if (!i.encs.exists(e => GraftTable.cmp(i.tag, e, mn) >= 0 &&
                GraftTable.cmp(i.tag, e, mx) <= 0)) Outside
              else if (GraftTable.cmp(i.tag, mn, mx) == 0 &&
                i.encs.exists(e => GraftTable.cmp(i.tag, e, mn) == 0)) Inside
              else Straddle
          }
          case PAnd(ps) =>
            val cs = ps.map(eval)
            if (cs.contains(Outside)) Outside
            else if (cs.forall(_ == Inside)) Inside else Straddle
          case POr(ps) =>
            val cs = ps.map(eval)
            if (cs.contains(Inside)) Inside
            else if (cs.forall(_ == Outside)) Outside else Straddle
        }
        eval(pred) match {
          case Outside => ()
          case Inside =>
            val nulls = st.values.map(_.nulls).sum
            if (nulls != 0L && !rowsMinusNulls) return None // row-level unknown
            if (forbidDv && fe.dv.isDefined) return None
            total += (if (fe.dv.isDefined) fe.liveRows else fe.rows - nulls)
            inside ::= fe
          case Straddle => return None
        }
      }
    }
    Some((total, inside))
  }

  /** Compile pushed V1 filters into a [[StatPred]] tree against
    * `schema` — every node must be a recognized shape (comparison / IN
    * / IS NOT NULL over a stats-tagged top-level column, AND, OR), else
    * None and the caller keeps the filters residual (correct, just
    * unfolded). The filter ARRAY is an implicit conjunction. */
  private[graft] def v1StatPred(schema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[StatPred] = {
    import org.apache.spark.sql.sources._
    def tagOf(a: String): Option[String] =
      schema.fields.find(_.name == a).flatMap(f => GraftTable.statTag(f.dataType))
    def cmp(a: String, v: Any, strict: Boolean, lower: Boolean): Option[StatPred] =
      if (v == null) Some(PNever)
      else tagOf(a).map(tag => PCmp(StatCmp(a, tag, GraftTable.encode(tag, v), strict, lower)))
    def compile(f: org.apache.spark.sql.sources.Filter): Option[StatPred] = f match {
      case IsNotNull(a) if schema.fieldNames.contains(a) => Some(PNotNull(a))
      case GreaterThan(a, v) => cmp(a, v, strict = true, lower = true)
      case GreaterThanOrEqual(a, v) => cmp(a, v, strict = false, lower = true)
      case LessThan(a, v) => cmp(a, v, strict = true, lower = false)
      case LessThanOrEqual(a, v) => cmp(a, v, strict = false, lower = false)
      case EqualTo(a, v) =>
        for (lo <- cmp(a, v, strict = false, lower = true);
             hi <- cmp(a, v, strict = false, lower = false))
          yield PAnd(Seq(lo, hi))
      case In(a, vs) => tagOf(a).map { tag =>
        val encs = vs.filter(_ != null).map(GraftTable.encode(tag, _)).toSeq
          .sortWith((x, y) => GraftTable.cmp(tag, x, y) < 0)
        PIn(StatIn(a, tag, encs))
      }
      case And(l, r) => for (a <- compile(l); b <- compile(r)) yield PAnd(Seq(a, b))
      case Or(l, r) => for (a <- compile(l); b <- compile(r)) yield POr(Seq(a, b))
      case _ => None
    }
    val ps = filters.map(f => compile(f).getOrElse(return None))
    if (ps.isEmpty) None else Some(if (ps.size == 1) ps.head else PAnd(ps))
  }

  /** The ONE manifest fold behind BOTH metadata-aggregate surfaces —
    * the extension rule ([[rewriteMetaAgg]]) and the stock-session v2
    * aggregate pushdown ([[graft.catalog.GraftMetaAggFold]]). The bail
    * discipline is a correctness contract and must never fork:
    *
    *  - any file under a RENAME indirection → None (a retired physical
    *    name can collide with a current logical one);
    *  - `count(*)` and NOT-NULL `count(col)` fold exact per-file
    *    `liveRows` (deletion-vector-aware);
    *  - nullable `count(col)` needs every data-bearing file's null
    *    count and NO deletion vectors (dead rows' nullity is unknown);
    *  - min/max fold per-file bounds — every data-bearing file must
    *    carry the column's stats, NO deletion vectors (the vector may
    *    have killed the extremum); zero-row part files carry no stats
    *    and don't veto; an all-NULL table answers SQL NULL.
    *
    * Answers are INTERNAL Catalyst values, positionally matching
    * `reqs`. */
  private[graft] sealed trait MetaReq
  private[graft] case object CountStarReq extends MetaReq
  private[graft] case class CountColReq(name: String, nullable: Boolean)
    extends MetaReq
  private[graft] case class BoundReq(name: String,
      dt: org.apache.spark.sql.types.DataType, takeMax: Boolean) extends MetaReq

  private[graft] def foldMetaAgg(entries: Seq[graft.core.GraftTable.FileEntry],
      reqs: Seq[MetaReq]): Option[Seq[Any]] = {
    if (entries.exists(_.renames.exists(_.nonEmpty))) return None
    val anyDv = entries.exists(_.dv.isDefined)
    val total = entries.map(_.liveRows).sum
    val statEntries = entries.filter(_.rows > 0)
    // stats usable only when EVERY data-bearing file carries them
    def colStats(c: String) = {
      val ss = statEntries.flatMap(_.stats.get(c))
      if (ss.size == statEntries.size) Some(ss) else None
    }
    Some(reqs.map {
      case CountStarReq => total
      case CountColReq(_, false) => total
      case CountColReq(n, true) =>
        if (anyDv) return None
        colStats(n).map(ss => total - ss.map(_.nulls).sum).getOrElse(return None)
      case BoundReq(n, dt, takeMax) =>
        if (anyDv) return None
        val tag = GraftTable.statTag(dt).getOrElse(return None)
        colStats(n).map { ss =>
          val bs = ss.flatMap(s => if (takeMax) s.max else s.min)
          if (bs.isEmpty) null // no rows, or every file all-NULL → SQL NULL
          else decodeInternal(dt, bs.reduce((x, y) =>
            if ((GraftTable.cmp(tag, x, y) > 0) == takeMax) x else y))
        }.getOrElse(return None)
    })
  }

  /** GROUPED metadata aggregates — `GROUP BY k` folded from the
    * manifest when every data-bearing file is SINGLE-VALUED on every
    * grouping column (stats min == max, zero nulls): the
    * partition-shaped layout (one file set per day / per enum value),
    * where the group key is constant per file by construction. Each
    * group's aggregates then run the scalar [[foldMetaAgg]] over just
    * that group's files — the bail discipline (renames, deletion
    * vectors, missing stats) cannot fork because it IS the same fold.
    * Any multi-valued or null-bearing file blocks the rewrite (its rows
    * straddle groups — a partial answer would need real IO). A group
    * whose files are all dv-masked to zero live rows is dropped (no
    * surviving row → no group). Groups return sorted by encoded key for
    * deterministic output. Answers are (group key internal values,
    * per-req internal answers). */
  /** One grouping dimension of the grouped fold: the stats COLUMN it
    * reads, plus a MONOTONIC map from the column's internal values to
    * the group key (identity for `GROUP BY k`; a truncation's eval for
    * `GROUP BY date_trunc(unit, ts)`). Monotonicity is the correctness
    * load-bearer: for a non-decreasing map, map(min) == map(max) proves
    * the map is CONSTANT over every value in the file — which is false
    * for arbitrary expressions (x % 2 agrees at endpoints while the
    * interior differs), so callers must only pass truncation-shaped
    * maps ([[monotonicGroupBase]]). */
  private[graft] case class GroupDim(col: String,
      dt: org.apache.spark.sql.types.DataType, map: Any => Any)

  private[graft] def identityDims(
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Seq[GroupDim] =
    cols.map { case (c, dt) => GroupDim(c, dt, identity) }

  private[graft] def foldGroupedMetaAgg(
      entries: Seq[graft.core.GraftTable.FileEntry],
      groupCols: Seq[GroupDim],
      reqs: Seq[MetaReq]): Option[Seq[(Seq[Any], Seq[Any])]] = {
    if (groupCols.isEmpty) return None
    if (entries.exists(_.renames.exists(_.nonEmpty))) return None
    val tags = groupCols.map { g =>
      (g, GraftTable.statTag(g.dt).getOrElse(return None))
    }
    val keyed = entries.filter(_.rows > 0).map { fe =>
      val key = tags.map { case (g, tag) =>
        val s = fe.stats.getOrElse(g.col, return None)
        if (s.t != tag || s.nulls != 0L) return None
        val mn = s.min.getOrElse(return None)
        val mx = s.max.getOrElse(return None)
        val kLo = g.map(decodeInternal(g.dt, mn))
        val kHi = g.map(decodeInternal(g.dt, mx))
        // a monotonic map agreeing at both endpoints is constant over
        // the whole file; endpoint disagreement = the file straddles
        // groups (for identity maps this is exactly min != max)
        if (kLo != kHi) return None
        kLo
      }
      key -> fe
    }
    val grouped = keyed.groupBy(_._1).toSeq
      .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
      .flatMap { case (key, group) =>
        val sub = group.map(_._2)
        if (sub.map(_.liveRows).sum == 0L) None // fully dv-masked group
        else Some((key, foldMetaAgg(sub, reqs).getOrElse(return None)))
      }
    Some(grouped)
  }

  /** The GROUP-BY twin of [[rewriteMetaAgg]]/[[rewriteFilteredCount]]:
    * `SELECT k, count(*) / count(c) / min / max … [WHERE recognized
    * predicate] GROUP BY k` over a graft scan becomes a
    * [[LocalRelation]] of manifest-folded rows when the layout is
    * partition-shaped on the grouping columns ([[foldGroupedMetaAgg]])
    * and — under WHERE — every file classifies cleanly
    * ([[classifyFilteredTree]], the exact-prune discipline: inside files
    * contribute whole, outside files nothing, one straddler bails).
    * At 100 TB this answers the second-most-common BI probe
    * (`GROUP BY day/enum` rollups) with one manifest read. */
  /** The single stats column under a MONOTONIC grouping expression —
    * the shapes where endpoint equality proves per-file constancy:
    * `date_trunc(unit, ts)` (also over a DATE or TIMESTAMP_NTZ `x`,
    * which analyzes to `cast(x AS TIMESTAMP)`) / `trunc(d, fmt)` (period starts are
    * non-decreasing for every unit), `year(d)`, `cast(ts as date)`.
    * NOT general expressions: `x % 2` agrees at endpoints while the
    * interior differs — the whitelist IS the correctness proof. */
  private def monotonicGroupBase(e: Expression): Option[AttributeReference] = e match {
    case t: TruncTimestamp if t.format.foldable => t.timestamp match {
      // date_trunc on a TIMESTAMP operates on session-local WALL time,
      // and under a DST zone wall time is non-monotonic in the instant:
      // at a fall-back a file whose endpoints both truncate to minute
      // 01:10 can hold interior instants truncating to 01:45 (the
      // repeated hour), so endpoint equality proves nothing. The claim
      // holds only under a FIXED-OFFSET session zone (UTC, +08:00 …),
      // where instant order IS wall order.
      case a: AttributeReference if sessionZoneIsFixedOffset => Some(a)
      // a DATE or TIMESTAMP_NTZ analyzes to cast(x AS TIMESTAMP): x's
      // wall time read in the session zone, an order-preserving shift
      // under the same fixed-offset gate
      case Cast(a: AttributeReference, org.apache.spark.sql.types.TimestampType, _, _)
          if (a.dataType == org.apache.spark.sql.types.DateType ||
            a.dataType == org.apache.spark.sql.types.TimestampNTZType) &&
            sessionZoneIsFixedOffset => Some(a)
      case _ => None
    }
    case t: TruncDate if t.format.foldable => t.date match {
      case a: AttributeReference => Some(a) // DateType: no timezone at all
      case _ => None
    }
    case Year(a: AttributeReference) => Some(a) // analyzer feeds Year dates only
    case c: Cast if c.dataType == org.apache.spark.sql.types.DateType =>
      c.child match {
        // cast-to-date is only provably monotonic from temporal inputs:
        // TIMESTAMP goes through session wall time (fixed-offset gate,
        // as above); TIMESTAMP_NTZ and DATE are zone-free. A STRING
        // child is NOT safe — lexicographic endpoint equality says
        // nothing about interior parse results ('2020-01-05!' sits
        // between '2020-01-05' and '2020-01-05 23:59' and casts NULL).
        case a: AttributeReference
            if a.dataType == org.apache.spark.sql.types.TimestampType =>
          if (sessionZoneIsFixedOffset) Some(a) else None
        case a: AttributeReference
            if a.dataType == org.apache.spark.sql.types.TimestampNTZType ||
              a.dataType == org.apache.spark.sql.types.DateType => Some(a)
        case _ => None
      }
    case _ => None
  }

  /** True when the session timezone has no transitions (UTC, +HH:MM):
    * the precondition for wall-time monotonicity in the instant. */
  private def sessionZoneIsFixedOffset: Boolean = {
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    try java.time.ZoneId.of(tz).getRules.isFixedOffset
    catch { case scala.util.control.NonFatal(_) => false }
  }

  private[graft] def rewriteGroupedMetaAgg(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    if (agg.groupingExpressions.isEmpty) return None
    // SYNTACTIC vet first — translate the aggregates exactly as the
    // scalar paths do, before any manifest parse
    val aggCalls = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggCalls.exists(ae => ae.isDistinct || ae.filter.isDefined)) return None
    val reqs: Seq[MetaReq] = aggCalls.map(_.aggregateFunction match {
      case Count(Seq(Literal(v, _))) if v != null => CountStarReq
      case Count(Seq(a: AttributeReference)) => CountColReq(a.name, a.nullable)
      case Min(a: AttributeReference) if GraftTable.statTag(a.dataType).isDefined =>
        BoundReq(a.name, a.dataType, takeMax = false)
      case Max(a: AttributeReference) if GraftTable.statTag(a.dataType).isDefined =>
        BoundReq(a.name, a.dataType, takeMax = true)
      case _ => return None
    })
    // walk down to the scan, RESOLVING the grouping expressions through
    // intervening Projects: PullOutGroupingExpressions extracts a
    // complex grouping (date_trunc(ts)) into `Alias AS
    // _groupingexpression` below the Aggregate, so the grouping we see
    // is a bare attr whose real shape lives in the Project
    def resolveDown(p: LogicalPlan, tracked: Seq[Expression])
        : (LogicalPlan, Seq[Expression]) = p match {
      case Project(ps, c)
          if ps.forall(e => e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
        val am: Map[ExprId, Expression] =
          ps.collect { case al: Alias => al.exprId -> al.child }.toMap
        if (am.isEmpty) resolveDown(c, tracked)
        else resolveDown(c, tracked.map(_.transformUp {
          case a: AttributeReference if am.contains(a.exprId) => am(a.exprId)
        }))
      case other => (other, tracked)
    }
    val (mid, grouping1) = resolveDown(agg.child, agg.groupingExpressions)
    val (leaf, groupExprs, condOpt) = mid match {
      case Filter(c, ch) =>
        val (lf, ge) = resolveDown(ch, grouping1)
        (lf, ge, Some(c))
      case other => (other, grouping1, None)
    }
    val allEntries = planEntries(leaf).getOrElse(return None)
    if (allEntries.exists(_.renames.exists(_.nonEmpty))) return None
    // SAFETY: every attribute the fold reads BY NAME must be a direct
    // leaf output — an alias shadowing a real column name would
    // otherwise fold the wrong stats
    val leafIds = leaf.output.map(_.exprId).toSet
    val aggRefs = aggCalls.flatMap(_.aggregateFunction.collect {
      case a: AttributeReference => a
    })
    if (!aggRefs.forall(a => leafIds.contains(a.exprId))) return None
    if (!condOpt.forall(_.references.forall(r => leafIds.contains(r.exprId))))
      return None
    // grouping: plain leaf columns, or monotonic truncations of one
    // leaf column (GROUP BY date_trunc('day', ts) — the daily-rollup
    // shape a date-clustered 100 TB layout answers from its manifest)
    val specs: Seq[(Expression, GroupDim)] = groupExprs.map {
      case a: AttributeReference if leafIds.contains(a.exprId) =>
        (a, GroupDim(a.name, a.dataType, identity))
      case e =>
        val a = monotonicGroupBase(e)
          .filter(a => leafIds.contains(a.exprId)).getOrElse(return None)
        (e, GroupDim(a.name, a.dataType, v =>
          e.transform { case x: AttributeReference if x.exprId == a.exprId =>
            Literal(v, a.dataType) }.eval()))
    }
    // WHERE: classify every file provably in/out (inside files
    // contribute whole files to their groups, so every row must pass);
    // no straddlers
    val entries = condOpt match {
      case None => allEntries
      case Some(cond) =>
        classifyFilteredTree(allEntries, statPredOf(leaf, cond).getOrElse(return None),
          forbidDv = reqs.exists(_.isInstanceOf[BoundReq])).getOrElse(return None)._2
    }
    val folded = foldGroupedMetaAgg(entries, specs.map(_._2), reqs)
      .getOrElse(return None)
    // assemble: LocalRelation rows carry [group values..., agg values...]
    // Output attrs mirror the ORIGINAL grouping expressions (what the
    // select list references — post-PullOutGroupingExpressions that is
    // a bare `_groupingexpression` attr), keeping declared nullability
    val groupOut = agg.groupingExpressions.map { orig =>
      val name = orig match { case a: AttributeReference => a.name; case _ => "_meta_group" }
      AttributeReference(name, orig.dataType, orig.nullable)()
    }
    val aggOut = aggCalls.zipWithIndex.map { case (ae, i) =>
      AttributeReference(s"_meta_agg_$i", ae.dataType,
        nullable = ae.aggregateFunction match {
          case Count(_) => false // counts answer 0, never NULL
          case _ => true // an all-NULL group's bound is SQL NULL
        })()
    }
    val rows = folded.map { case (key, answers) =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(key ++ answers)
    }
    val local = LocalRelation(groupOut ++ aggOut, rows)
    val groupPairs = agg.groupingExpressions.zip(groupOut)
    val aggMap = aggCalls.map(_.resultId).zip(aggOut).toMap
    // substitute; keep every output exprId stable so parents resolve.
    // Group substitution is by SEMANTIC equality: a truncation grouping
    // reappears in the select list as a semantically-equal expression,
    // not a shared reference (identity groupings are attrs, where
    // semanticEquals is exactly the exprId match)
    val projected = agg.aggregateExpressions.map { ne =>
      val t = ne.transformUp {
        case ae: AggregateExpression => aggMap(ae.resultId)
        case e if groupPairs.exists(_._1.semanticEquals(e)) =>
          groupPairs.find(_._1.semanticEquals(e)).get._2
      }
      t match {
        case a: Alias => a
        case a: Attribute if a.exprId == ne.exprId => a
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    Some(Project(projected, local))
  }

  /** Manifest entries behind a plan leaf that pins one: a v2 relation
    * over a [[graft.catalog.GraftNamedTable]] — a catalog name, a
    * `format("graft")` load or a Scala-API read, with its entry subset.
    * Extension-injected rules see the relation before
    * V2ScanRelationPushDown; [[install]]ed ones run after it and see the
    * pushed-down scan, whose entries are the exact-prune claim's inside
    * set when a claim removed the Filter node. */
  private def planEntries(p: LogicalPlan)
      : Option[Seq[graft.core.GraftTable.FileEntry]] =
    try p match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case t: graft.catalog.GraftNamedTable => Some(t.entries)
          case _ => None
        }
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        s.scan match {
          case g: graft.catalog.GraftNamedScan => Some(g.entries)
          case _ => None
        }
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Encoded stats string → the column type's INTERNAL Catalyst value
    * (dates as epoch-day Int, timestamps as micros Long, strings as
    * UTF8String, decimals at the declared precision/scale). */
  private[graft] def decodeInternal(dt: org.apache.spark.sql.types.DataType,
      s: String): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => s.toLong.toByte
      case ShortType => s.toLong.toShort
      case IntegerType => s.toLong.toInt
      case LongType => s.toLong
      case DateType => s.toLong.toInt
      case TimestampType | TimestampNTZType => s.toLong
      case FloatType => s.toDouble.toFloat
      case DoubleType => s.toDouble
      case d: DecimalType => Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case other => throw new IllegalArgumentException(s"no stats decode for $other")
    }
  }
}
