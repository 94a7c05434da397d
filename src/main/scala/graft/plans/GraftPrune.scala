package graft.plans

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

import graft.core.GraftTable
import graft.core.GraftTable.ColRange

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
  *    predicate. Range conjuncts probe [min,max]; `IN`/`===` conjuncts
  *    additionally probe the per-file BLOOM filters. The filter itself
  *    stays in the plan, so the rewrite is purely a file-set refinement.
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
  * Install per session with [[GraftPrune.install]] (idempotent; uses
  * `spark.experimental.extraOptimizations`), or globally via
  * `spark.sql.extensions=graft.expressions.GraftExtensions`. */
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
    val ranges = GraftPrune.extractRanges(cond)
    val points = GraftPrune.extractPoints(cond)
    if (ranges.isEmpty && points.isEmpty) return f
    val root = dirs(0).getParentFile.getPath
    val stats = GraftTable.statsForFiles(root)
    // one lazy probe-hash job per IN column — paid only when some file's
    // stats actually carry a bloom for it (the readPrunedIn discipline)
    val hashCache = scala.collection.mutable.HashMap.empty[String, Any => Seq[Long]]
    def hashesFor(p: GraftPrune.PointProbe): Any => Seq[Long] =
      hashCache.getOrElseUpdate(p.col, {
        lazy val m = GraftTable.probeHashes(spark, p.dt, p.values, GraftTable.BloomK)
        v => m(v)
      })
    val kept = files.filter { p =>
      val name = p.split('/').last
      stats.get(name).forall { s =>
        GraftTable.mayMatch(s, ranges) &&
          points.forall(pt => GraftTable.mayContainIn(s, pt.col, pt.values, hashesFor(pt)))
      }
    }
    if (kept.length == files.length) return f // nothing to skip — fixpoint
    val idx = new InMemoryFileIndex(spark,
      kept.map(new org.apache.hadoop.fs.Path(_)).toIndexedSeq,
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
  /** Idempotent per-session install into the experimental optimizer
    * hook — the in-session counterpart of the `spark.sql.extensions`
    * registration. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[GraftPrune]))
      spark.experimental.extraOptimizations = cur :+ GraftPrune(spark)
  }

  /** Conjuncts of the shape `attr <op> literal` (either side) become
    * inclusive [[ColRange]]s; everything else contributes nothing (the
    * residual filter keeps exactness). NULL literals yield no range —
    * a NULL comparison matches no row, but proving THAT is the
    * filter's job, not the skipper's. Shared by the plain-parquet
    * file-skipping rule and the SQL DML stats cover
    * ([[GraftDml.pruneRangesOf]]). */
  private[graft] def extractRanges(cond: Expression): Seq[ColRange] =
    splitConjunctivePredicates(cond).flatMap {
      case GreaterThan(a: AttributeReference, l: Literal) => range(a, lo = Some(l))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => range(a, lo = Some(l))
      case LessThan(a: AttributeReference, l: Literal) => range(a, hi = Some(l))
      case LessThanOrEqual(a: AttributeReference, l: Literal) => range(a, hi = Some(l))
      case EqualTo(a: AttributeReference, l: Literal) => range(a, lo = Some(l), hi = Some(l))
      case GreaterThan(l: Literal, a: AttributeReference) => range(a, hi = Some(l))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => range(a, hi = Some(l))
      case LessThan(l: Literal, a: AttributeReference) => range(a, lo = Some(l))
      case LessThanOrEqual(l: Literal, a: AttributeReference) => range(a, lo = Some(l))
      case EqualTo(l: Literal, a: AttributeReference) => range(a, lo = Some(l), hi = Some(l))
      case _ => Nil
    }

  private def range(a: AttributeReference, lo: Option[Literal] = None,
      hi: Option[Literal] = None): Seq[ColRange] = {
    def ext(l: Literal): Option[Any] =
      Option(CatalystTypeConverters.convertToScala(l.value, l.dataType))
    (lo, hi) match {
      case (Some(l), _) if l.value == null => Nil
      case (_, Some(l)) if l.value == null => Nil
      case _ => Seq(ColRange(a.name, lo.flatMap(ext), hi.flatMap(ext)))
    }
  }

  private[graft] case class PointProbe(col: String,
      dt: org.apache.spark.sql.types.DataType, values: Seq[Any])

  /** Conjuncts of the shape `attr IN (literals…)` (both the `In` form
    * and the set-optimized `InSet` the optimizer rewrites long lists
    * into) become point probes, checked through
    * [[GraftTable.mayContainIn]] — range containment per value PLUS the
    * per-file/per-leaf bloom when the write listed the column in
    * `bloomCols`. On a hash-distributed layout, where every file spans
    * the full key range and min/max prune nothing, the bloom does all
    * the skipping — this makes q131's explicit `readPrunedIn` shape
    * automatic for plain `isin`/`===` filters. NULL probe values drop
    * (IN never matches NULL); an all-NULL list contributes nothing. */
  private[graft] def extractPoints(cond: Expression): Seq[PointProbe] =
    splitConjunctivePredicates(cond).flatMap {
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        point(a, vs.collect { case Literal(v, dt) if v != null =>
          CatalystTypeConverters.convertToScala(v, dt) })
      case InSet(a: AttributeReference, hset) =>
        point(a, hset.toSeq.filter(_ != null)
          .map(CatalystTypeConverters.convertToScala(_, a.dataType)))
      case EqualTo(a: AttributeReference, Literal(v, dt)) if v != null =>
        point(a, Seq(CatalystTypeConverters.convertToScala(v, dt)))
      case EqualTo(Literal(v, dt), a: AttributeReference) if v != null =>
        point(a, Seq(CatalystTypeConverters.convertToScala(v, dt)))
      case _ => Nil
    }

  private def point(a: AttributeReference, values: Seq[Any]): Seq[PointProbe] =
    if (values.isEmpty) Nil else Seq(PointProbe(a.name, a.dataType, values))

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
    * conjunctive range / equality / IS NOT NULL filter answer from
    * stats when EVERY file classifies cleanly — provably fully-inside
    * the predicate (all its non-null rows satisfy every bound) or
    * provably fully-outside (no row can satisfy). One straddling file
    * blocks the rewrite (a partial answer would need real IO — stats
    * answer, never guess). On a layout clustered like the predicate —
    * the date-partitioned 100 TB shape — `SELECT count(*), max(ts)
    * WHERE d BETWEEN x AND y` becomes a manifest fold with at most the
    * two boundary files forcing a real scan, and usually none.
    *
    * Null discipline: a comparison or IS NOT NULL excludes null rows,
    * so a fully-inside file contributes `rows − nulls(col)` to the
    * count when ONE column is constrained; with several constrained
    * columns the null sets may overlap, so all involved columns must
    * be null-free in every contributing file (else bail). MIN/MAX are
    * stricter still: a row null in a constrained column is excluded by
    * the filter yet may carry ANY other column's extremum — bounds
    * fold only when every inside file is null-free on every
    * constrained column. Strictness is preserved — this extraction is
    * separate from the PRUNING one, which relaxes strict bounds (safe
    * to over-keep, fatal to over-answer). */
  private[graft] def rewriteFilteredCount(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        stripProjects(c)
      case other => other
    }
    val (cond, entries) = stripProjects(agg.child) match {
      case Filter(c, ch) =>
        (c, planEntries(stripProjects(ch)).getOrElse(return None))
      case _ => return None
    }
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
    // parse the conjunction; an OR falls back to the tri-state TREE
    // (which is stricter on nulls: every inside file must be null-free
    // on every involved column — the conjunction path's single-column
    // rows-minus-nulls counting has no sound OR analogue)
    var total = 0L
    var inside = List.empty[graft.core.GraftTable.FileEntry]
    catalystStatCmps(cond) match {
      case Some((statCmps, notNulls, nullCmp)) =>
        // classify: inside files (every non-null row passes), outside
        // files (no row can pass), or bail on the first straddler
        if (!nullCmp) {
          val (t, ins) = classifyFiltered(entries, statCmps, notNulls,
            requireNullFree = wantsBounds, forbidDv = wantsBounds)
            .getOrElse(return None)
          total = t
          inside = ins
        }
      case None =>
        val pred = catalystStatPred(cond).getOrElse(return None)
        val (t, ins) = classifyFilteredTree(entries, pred, forbidDv = wantsBounds)
          .getOrElse(return None)
        total = t
        inside = ins
    }
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

  /** Parse a CATALYST conjunction into [[StatCmp]]s + IS-NOT-NULL
    * columns — the shared front of [[rewriteFilteredCount]] and
    * [[rewriteGroupedMetaAgg]]. Returns None on any unrecognized
    * conjunct; the third member flags a comparison against a NULL
    * literal (the predicate drops every row — callers answer the empty
    * result without classifying anything). */
  private[graft] def catalystStatCmps(cond: Expression)
      : Option[(Seq[StatCmp], Set[String], Boolean)] = {
    var cmps = List.empty[StatCmp]
    var notNulls = Set.empty[String]
    var nullCmp = false // a comparison vs NULL literal drops every row
    def lit(a: AttributeReference, l: Literal): Option[String] =
      GraftTable.statTag(a.dataType).flatMap { tag =>
        if (l.value == null) { nullCmp = true; None }
        else Some(GraftTable.encode(tag,
          CatalystTypeConverters.convertToScala(l.value, l.dataType)))
      }
    def add(a: AttributeReference, l: Literal, strict: Boolean, lower: Boolean): Boolean =
      lit(a, l) match {
        case Some(e) =>
          cmps ::= StatCmp(a.name, GraftTable.statTag(a.dataType).get, e, strict, lower)
          true
        case None => nullCmp // only "recognized" if it was the NULL case
      }
    val recognized = splitConjunctivePredicates(cond).forall {
      case IsNotNull(a: AttributeReference) => notNulls += a.name; true
      case GreaterThan(a: AttributeReference, l: Literal) => add(a, l, strict = true, lower = true)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => add(a, l, strict = false, lower = true)
      case LessThan(a: AttributeReference, l: Literal) => add(a, l, strict = true, lower = false)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => add(a, l, strict = false, lower = false)
      case EqualTo(a: AttributeReference, l: Literal) =>
        add(a, l, strict = false, lower = true) && add(a, l, strict = false, lower = false)
      case GreaterThan(l: Literal, a: AttributeReference) => add(a, l, strict = true, lower = false)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => add(a, l, strict = false, lower = false)
      case LessThan(l: Literal, a: AttributeReference) => add(a, l, strict = true, lower = true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => add(a, l, strict = false, lower = true)
      case EqualTo(l: Literal, a: AttributeReference) =>
        add(a, l, strict = false, lower = true) && add(a, l, strict = false, lower = false)
      case _ => false
    }
    if (!recognized && !nullCmp) None else Some((cmps, notNulls, nullCmp))
  }

  /** The shared inside/outside file classification under a recognized
    * conjunction — the ONE discipline behind the extension rule's
    * filtered fold ([[rewriteFilteredCount]]) and the stock-session v2
    * exact-prune claim ([[graft.catalog.GraftMetaAggFold]]). Every
    * data-bearing file must classify provably fully-inside (all its
    * non-null rows satisfy every bound) or provably fully-outside (no
    * row can satisfy); ONE straddler returns None — stats answer,
    * never guess. Returns the exact filtered row count and the inside
    * entries.
    *
    *  - `requireNullFree`: every inside file must be null-free on every
    *    involved column (the MIN/MAX discipline — an excluded null row
    *    may carry another column's extremum — and the exact-prune
    *    claim's, where EVERY row of a planned file must pass);
    *  - `forbidDv`: no inside file may carry a deletion vector (bounds
    *    folding — the vector may have killed the extremum row). Counts
    *    tolerate vectors when the involved columns are null-free:
    *    every LIVE row passes, so `liveRows` is exact. */
  /** One recognized `IN`-list conjunct: `encs` are the (non-null) list
    * values in the column's encoded stat domain, pre-sorted by
    * [[GraftTable.cmp]] order so range-disjointness tests are two
    * binary comparisons. */
  private[graft] case class StatIn(col: String, tag: String, encs: Seq[String])

  private[graft] def classifyFiltered(
      entries: Seq[graft.core.GraftTable.FileEntry],
      cmps: Seq[StatCmp], notNulls: Set[String],
      requireNullFree: Boolean, forbidDv: Boolean,
      ins: Seq[StatIn] = Nil)
      : Option[(Long, List[graft.core.GraftTable.FileEntry])] = {
    val involved = (cmps.map(_.col) ++ ins.map(_.col) ++ notNulls).distinct
    if (involved.isEmpty) return None // no constraint — bare fold handles
    var total = 0L
    var inside = List.empty[graft.core.GraftTable.FileEntry]
    // every involved column needs stats (incl. exact null counts) on
    // every data-bearing file
    entries.foreach { fe =>
      if (fe.rows > 0) {
        val st = involved.map(c => c -> fe.stats.getOrElse(c, return None)).toMap
        // a file whose recorded stat tag disagrees with the bound's
        // (a type-evolved history) can't be compared against the
        // pre-encoded bound — bail, never guess
        if (cmps.exists(c => st(c.col).t != c.tag)) return None
        if (ins.exists(c => st(c.col).t != c.tag)) return None
        if (st.values.exists(s => s.min.isEmpty && s.max.isEmpty)) {
          // an involved column is all-NULL in this file → no row passes
        } else {
          def satisfied(c: StatCmp): Boolean = {
            val s = st(c.col)
            if (c.lower) s.min.exists(mn => { val r = GraftTable.cmp(c.tag, mn, c.enc)
              if (c.strict) r > 0 else r >= 0 })
            else s.max.exists(mx => { val r = GraftTable.cmp(c.tag, mx, c.enc)
              if (c.strict) r < 0 else r <= 0 })
          }
          def failed(c: StatCmp): Boolean = {
            val s = st(c.col)
            if (c.lower) s.max.exists(mx => { val r = GraftTable.cmp(c.tag, mx, c.enc)
              if (c.strict) r <= 0 else r < 0 })
            else s.min.exists(mn => { val r = GraftTable.cmp(c.tag, mn, c.enc)
              if (c.strict) r >= 0 else r > 0 })
          }
          // IN-list: provably inside only for a SINGLE-VALUED file whose
          // value is a list member (the partition-shaped layout);
          // provably outside when no list value lands in [min,max] — a
          // row can only pass by EQUALING a member, so a member-free
          // range excludes every row
          def inSatisfied(c: StatIn): Boolean = {
            val s = st(c.col)
            (s.min, s.max) match {
              case (Some(mn), Some(mx)) => GraftTable.cmp(c.tag, mn, mx) == 0 &&
                c.encs.exists(e => GraftTable.cmp(c.tag, e, mn) == 0)
              case _ => false
            }
          }
          def inFailed(c: StatIn): Boolean = {
            val s = st(c.col)
            (s.min, s.max) match {
              case (Some(mn), Some(mx)) => !c.encs.exists(e =>
                GraftTable.cmp(c.tag, e, mn) >= 0 && GraftTable.cmp(c.tag, e, mx) <= 0)
              case _ => false
            }
          }
          if (cmps.exists(failed) || ins.exists(inFailed))
            () // provably outside → contributes nothing
          else if (cmps.forall(satisfied) && ins.forall(inSatisfied)) {
            val nulls = involved.map(st(_).nulls)
            if (requireNullFree && nulls.exists(_ != 0L)) return None
            if (forbidDv && fe.dv.isDefined) return None
            if (fe.dv.isDefined) {
              // dead rows' nullity is unknown — a dv'd inside file
              // counts exactly only when the involved columns are
              // null-free (then every LIVE row passes)
              if (nulls.forall(_ == 0L)) total += fe.liveRows
              else return None
            }
            else if (involved.size == 1) total += fe.rows - nulls.head
            else if (nulls.forall(_ == 0L)) total += fe.rows
            else return None
            inside ::= fe
          } else return None // straddler — a partial answer needs real IO
        }
      }
    }
    Some((total, inside))
  }

  /** The CATALYST twin of [[v1StatPred]]: compile a catalyst predicate
    * into the tri-state tree, for the extension-rule folds
    * ([[rewriteFilteredCount]]/[[rewriteGroupedMetaAgg]] fall back to
    * it when the plain conjunction parse hits an OR). `InSet` (the
    * optimizer's large-IN form, internal values) compiles like `In`;
    * NULL members drop — they never match. */
  private[graft] def catalystStatPred(cond: Expression): Option[StatPred] = {
    def cmp(a: AttributeReference, l: Literal, strict: Boolean, lower: Boolean)
        : Option[StatPred] =
      if (l.value == null) Some(PNever)
      else GraftTable.statTag(a.dataType).map(tag => PCmp(StatCmp(a.name, tag,
        GraftTable.encode(tag,
          CatalystTypeConverters.convertToScala(l.value, l.dataType)), strict, lower)))
    def inList(a: AttributeReference, internal: Seq[Any]): Option[StatPred] =
      GraftTable.statTag(a.dataType).map { tag =>
        val encs = internal.filter(_ != null).map(v => GraftTable.encode(tag,
          CatalystTypeConverters.convertToScala(v, a.dataType)))
          .sortWith((x, y) => GraftTable.cmp(tag, x, y) < 0)
        PIn(StatIn(a.name, tag, encs))
      }
    def compile(e: Expression): Option[StatPred] = e match {
      case IsNotNull(a: AttributeReference) => Some(PNotNull(a.name))
      case GreaterThan(a: AttributeReference, l: Literal) => cmp(a, l, strict = true, lower = true)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => cmp(a, l, strict = false, lower = true)
      case LessThan(a: AttributeReference, l: Literal) => cmp(a, l, strict = true, lower = false)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => cmp(a, l, strict = false, lower = false)
      case EqualTo(a: AttributeReference, l: Literal) =>
        for (lo <- cmp(a, l, strict = false, lower = true);
             hi <- cmp(a, l, strict = false, lower = false)) yield PAnd(Seq(lo, hi))
      case GreaterThan(l: Literal, a: AttributeReference) => cmp(a, l, strict = true, lower = false)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => cmp(a, l, strict = false, lower = false)
      case LessThan(l: Literal, a: AttributeReference) => cmp(a, l, strict = true, lower = true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => cmp(a, l, strict = false, lower = true)
      case EqualTo(l: Literal, a: AttributeReference) =>
        for (lo <- cmp(a, l, strict = false, lower = true);
             hi <- cmp(a, l, strict = false, lower = false)) yield PAnd(Seq(lo, hi))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        inList(a, vs.map(_.asInstanceOf[Literal].value))
      case InSet(a: AttributeReference, hset) => inList(a, hset.toSeq)
      case And(l, r) => for (x <- compile(l); y <- compile(r)) yield PAnd(Seq(x, y))
      case Or(l, r) => for (x <- compile(l); y <- compile(r)) yield POr(Seq(x, y))
      case _ => None
    }
    compile(cond)
  }

  /** Tri-state classification of one file against a stats predicate
    * TREE — the exact-prune claim generalized past conjunctions to
    * arbitrary AND/OR nesting (OR-of-ranges, OR of IN lists — the BI
    * shapes round-13's claim degraded on). Leaf semantics per file:
    *
    *  - a comparison/IN over an all-NULL column is OUTSIDE at that LEAF
    *    (no row satisfies it) — under OR another branch may still admit
    *    the file, which the old conjunction classifier could not model;
    *  - AND: any Outside → Outside; all Inside → Inside; else straddle;
    *  - OR: any Inside → Inside; all Outside → Outside; else straddle;
    *  - one straddling file kills the whole claim (stats answer, never
    *    guess).
    *
    * Claim discipline (every ROW of an inside file must pass, because
    * the claimed filters become the file prune with zero residual): an
    * inside file must be null-free on EVERY involved column — a null
    * row fails every comparison leaf it hits, and whether some OR
    * branch rescues it is row-level knowledge stats don't carry — so
    * nulls anywhere degrade to advisory. Deletion-vector files
    * contribute liveRows (every live row passes); `forbidDv` bails on
    * them instead for callers folding bounds. */
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

  private[graft] def classifyFilteredTree(
      entries: Seq[graft.core.GraftTable.FileEntry],
      pred: StatPred, forbidDv: Boolean)
      : Option[(Long, List[graft.core.GraftTable.FileEntry])] = {
    val involved = predCols(pred)
    if (involved.isEmpty) return None
    var total = 0L
    var inside = List.empty[graft.core.GraftTable.FileEntry]
    sealed trait Cls
    case object Inside extends Cls
    case object Outside extends Cls
    case object Straddle extends Cls
    entries.foreach { fe =>
      if (fe.rows > 0) {
        val st = involved.map(c => c -> fe.stats.getOrElse(c, return None)).toMap
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
            if (st.values.exists(_.nulls != 0L)) return None // row-level unknown
            if (forbidDv && fe.dv.isDefined) return None
            total += (if (fe.dv.isDefined) fe.liveRows else fe.rows)
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

  /** Translate a pushed V1 conjunction into [[StatCmp]]s + IS-NOT-NULL
    * columns against `schema` — the stock-session twin of
    * [[rewriteFilteredCount]]'s catalyst parse. EVERY filter must be a
    * recognized shape over a stats-tagged TOP-LEVEL column with a
    * non-null literal, else None (the caller keeps the filters
    * residual — correct, just unfolded). V1 shapes always carry the
    * attribute on the left and external Scala values. */
  private[graft] def v1StatCmps(schema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[(Seq[StatCmp], Set[String], Seq[StatIn])] = {
    import org.apache.spark.sql.sources._
    var cmps = List.empty[StatCmp]
    var notNulls = Set.empty[String]
    var inLists = List.empty[StatIn]
    def add(a: String, v: Any, strict: Boolean, lower: Boolean): Boolean =
      v != null && schema.fields.find(_.name == a).exists { f =>
        GraftTable.statTag(f.dataType).exists { tag =>
          cmps ::= StatCmp(a, tag, GraftTable.encode(tag, v), strict, lower); true
        }
      }
    // IN lists (the second-most-common BI probe after BETWEEN): list
    // values encode into the stat domain; a NULL member contributes no
    // match (x IN (…, NULL) is never TRUE for a non-member) so it just
    // drops from the list. An ALL-null list means zero rows pass — an
    // empty StatIn, which classifyFiltered's inFailed marks outside for
    // every file.
    def addIn(a: String, vs: Array[Any]): Boolean =
      schema.fields.find(_.name == a).exists { f =>
        GraftTable.statTag(f.dataType).exists { tag =>
          val encs = vs.filter(_ != null).map(GraftTable.encode(tag, _)).toSeq
            .sortWith((x, y) => GraftTable.cmp(tag, x, y) < 0)
          inLists ::= StatIn(a, tag, encs); true
        }
      }
    val ok = filters.forall {
      case IsNotNull(a) if schema.fieldNames.contains(a) => notNulls += a; true
      case GreaterThan(a, v) => add(a, v, strict = true, lower = true)
      case GreaterThanOrEqual(a, v) => add(a, v, strict = false, lower = true)
      case LessThan(a, v) => add(a, v, strict = true, lower = false)
      case LessThanOrEqual(a, v) => add(a, v, strict = false, lower = false)
      case EqualTo(a, v) =>
        add(a, v, strict = false, lower = true) && add(a, v, strict = false, lower = false)
      case In(a, vs) => addIn(a, vs)
      case _ => false
    }
    if (ok) Some((cmps, notNulls, inLists)) else None
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
    * conjunction] GROUP BY k` over a graft scan becomes a
    * [[LocalRelation]] of manifest-folded rows when the layout is
    * partition-shaped on the grouping columns ([[foldGroupedMetaAgg]])
    * and — under WHERE — every file classifies cleanly
    * ([[classifyFiltered]], the exact-prune discipline: inside files
    * contribute whole, outside files nothing, one straddler bails).
    * At 100 TB this answers the second-most-common BI probe
    * (`GROUP BY day/enum` rollups) with one manifest read. */
  /** The single stats column under a MONOTONIC grouping expression —
    * the shapes where endpoint equality proves per-file constancy:
    * `date_trunc(unit, ts)` / `trunc(d, fmt)` (period starts are
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
    // WHERE: classify every file provably in/out (count discipline is
    // requireNullFree — every row of an inside file must pass, they
    // contribute whole files to their groups); no straddlers
    val entries = condOpt match {
      case None => allEntries
      case Some(cond) => catalystStatCmps(cond) match {
        case Some((cmps, notNulls, nullCmp)) =>
          if (nullCmp) Nil // predicate can never hold → zero groups
          else classifyFiltered(allEntries, cmps, notNulls,
            requireNullFree = true, forbidDv = reqs.exists(_.isInstanceOf[BoundReq]))
            .getOrElse(return None)._2
        case None => // OR shapes: the tri-state tree
          val pred = catalystStatPred(cond).getOrElse(return None)
          classifyFilteredTree(allEntries, pred,
            forbidDv = reqs.exists(_.isInstanceOf[BoundReq]))
            .getOrElse(return None)._2
      }
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
