package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.core.GraftTable
import graft.catalog.GraftCatalog

/** FILTERED stock-session metadata aggregates — the exact-prune claim
  * ([[graft.catalog.GraftNamedScanBuilder.pushFilters]]) plus the
  * filtered fold ([[graft.catalog.GraftMetaAggFold]] over the inside
  * subset): `SELECT count(*)/min/max … WHERE k BETWEEN x AND y` on a
  * boundary-aligned layout must answer from the manifest with ZERO
  * scan nodes, in a session with NO GraftExtensions and NO
  * experimental rules (`spark.newSession()` — the plain-BI-tool
  * shape). Every bail condition — straddling file, nulls in a
  * constrained column, unrecognized filter shape — must fall back to
  * the real scan with identical results, and the claim itself must
  * keep plain (non-aggregate) filtered SELECTs exact. */
class FilteredMetaAggSpec extends AnyFunSuite with SparkSpecBase {

  private val warehouse = Files.createTempDirectory("graft_fmagg").toString

  /** A TRULY stock session: fresh SessionState — no extensions, no
    * experimental optimizations, only the catalog registration. */
  private lazy val stock = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.fma", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.fma.warehouse", warehouse)
    // the exact-prune claim is DPP-guarded to above-broadcast-size
    // scans; with broadcasts off there is no broadcast DPP to protect,
    // so the claim applies to these (tiny) fixtures
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.sql("CREATE NAMESPACE IF NOT EXISTS fma.ns")
    s
  }

  /** Four boundary-aligned files: k in [0,250), [250,500), [500,750),
    * [750,1000), with a payload column that is null-free and a `tag`
    * column with nulls OUTSIDE the constrained one. */
  private lazy val path = {
    val p = s"$warehouse/ns/t"
    (0 until 4).foreach { i =>
      val slice = spark.range(i * 250L, (i + 1) * 250L).selectExpr(
        "id AS k", "id * 2 AS v",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('t', id) END AS tag")
      if (i == 0) GraftTable.overwrite(slice.coalesce(1), p)
      else GraftTable.append(slice.coalesce(1), p)
    }
    p
  }

  private def scansIn(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def count(pl: SparkPlan): Int = pl match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case _: FileSourceScanExec => 1
      case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => 1
      case o => o.children.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  test("boundary-aligned WHERE answers count/min/max from the manifest, zero scans") {
    path
    val q = stock.sql(
      "SELECT count(*) AS n, min(k) AS mk, max(k) AS xk, min(v) AS mv, max(v) AS xv " +
        "FROM fma.ns.t WHERE k >= 250 AND k <= 749")
    assert(scansIn(q) == 0, s"must fold from the manifest:\n${q.queryExecution.executedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 500L && r.getLong(1) == 250L && r.getLong(2) == 749L &&
      r.getLong(3) == 500L && r.getLong(4) == 1498L)
  }

  test("count(col) of a null-bearing UNCONSTRAINED column folds under the claim") {
    val q = stock.sql(
      "SELECT count(tag) AS ct FROM fma.ns.t WHERE k >= 250 AND k <= 749")
    assert(scansIn(q) == 0)
    val expect = spark.read.format("graft").load(path)
      .filter(col("k") >= 250 && col("k") <= 749 && col("tag").isNotNull).count()
    assert(q.collect().head.getLong(0) == expect)
  }

  test("a straddling window bails to the real scan, results exact") {
    val q = stock.sql(
      "SELECT count(*) AS n, max(k) AS xk FROM fma.ns.t WHERE k >= 251 AND k <= 749")
    assert(scansIn(q) > 0, "a straddler needs real IO")
    val r = q.collect().head
    assert(r.getLong(0) == 499L && r.getLong(1) == 749L)
  }

  test("nulls in the CONSTRAINED column block the claim; results exact") {
    val p = s"$warehouse/ns/nullk"
    GraftTable.overwrite(spark.range(0, 100).selectExpr(
      "CASE WHEN id % 9 = 0 THEN NULL ELSE id END AS k", "id AS v").coalesce(1), p)
    val q = stock.sql("SELECT count(*) AS n FROM fma.ns.nullk WHERE k >= 0 AND k <= 99")
    assert(scansIn(q) > 0, "null rows fail the predicate — pruning alone is not exact")
    assert(q.collect().head.getLong(0) ==
      spark.read.format("graft").load(p).filter(col("k").isNotNull).count())
  }

  test("deletion vectors: filtered count(*) still folds (liveRows-exact); min/max scans") {
    val p = s"$warehouse/ns/dv"
    (0 until 4).foreach { i =>
      val slice = spark.range(i * 250L, (i + 1) * 250L).selectExpr("id AS k", "id AS v")
      if (i == 0) GraftTable.overwrite(slice.coalesce(1), p)
      else GraftTable.append(slice.coalesce(1), p)
    }
    GraftTable.setProperties(p, Map("graft.deletionVectors" -> "true"))
    GraftTable.deleteWhereMor(spark, p, col("k") % 10 === 3)
    val cnt = stock.sql("SELECT count(*) AS n FROM fma.ns.dv WHERE k >= 250 AND k <= 749")
    assert(scansIn(cnt) == 0, "live-row counts are DV-exact")
    assert(cnt.collect().head.getLong(0) == 450L)
    val mx = stock.sql("SELECT max(k) AS xk FROM fma.ns.dv WHERE k >= 250 AND k <= 749")
    assert(scansIn(mx) > 0, "the vector may have killed the extremum — must scan")
    assert(mx.collect().head.getLong(0) == 749L)
  }

  test("plain filtered SELECT under the claim plans only inside files, rows exact") {
    path
    val q = stock.sql("SELECT k, v FROM fma.ns.t WHERE k >= 250 AND k <= 749")
    assert(canon(q) == canon(spark.read.format("graft").load(path)
      .filter(col("k") >= 250 && col("k") <= 749).select("k", "v")))
    // the claim removes the Filter node; the planned scan must then be
    // the inside subset (2 of 4 files), which IS the predicate
    val hasFilter = q.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.FilterExec])
    assert(!hasFilter,
      s"claimed filters must leave no residual:\n${q.queryExecution.executedPlan}")
  }

  test("DPP guard keys on the CLAIMED bytes: selective claim under the " +
      "broadcast threshold stays advisory, above it claims") {
    path
    val bytes = Option(new java.io.File(s"$path/data").listFiles)
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).map(_.length)
    val total = bytes.sum
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.fma", classOf[GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.fma.warehouse", warehouse)
    // the window claims 2 of 4 near-equal files (~total/2 bytes). A
    // threshold BETWEEN the claimed size and the table size models the
    // dim-just-above-broadcast case: claiming would shrink the reported
    // stats under the threshold, get the dim broadcast with its Filter
    // node gone, and kill the fact side's runtime pruning — the guard
    // must keep the advisory path instead
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (total * 3 / 4).toString)
    val guarded = s2.sql(
      "SELECT count(*) AS n FROM fma.ns.t WHERE k >= 250 AND k <= 749")
    assert(scansIn(guarded) > 0,
      s"claimed bytes below the threshold must not claim:\n${guarded.queryExecution.executedPlan}")
    assert(guarded.collect().head.getLong(0) == 500L)
    // a threshold below the claimed size leaves broadcast behavior
    // unchanged by the claim — the fold engages, zero scans
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (total / 8).toString)
    val claimed = s2.sql(
      "SELECT count(*) AS n FROM fma.ns.t WHERE k >= 250 AND k <= 749")
    assert(scansIn(claimed) == 0,
      s"claimed bytes above the threshold must fold:\n${claimed.queryExecution.executedPlan}")
    assert(claimed.collect().head.getLong(0) == 500L)
  }

  test("unrecognized shapes (OR, string ops) keep the advisory path, results exact") {
    val q = stock.sql(
      "SELECT count(*) AS n FROM fma.ns.t WHERE k >= 250 AND k <= 749 AND tag LIKE 't2%'")
    assert(scansIn(q) > 0)
    val expect = spark.read.format("graft").load(path)
      .filter(col("k") >= 250 && col("k") <= 749 && col("tag").startsWith("t2")).count()
    assert(q.collect().head.getLong(0) == expect)
  }

  test("fold-shape table under the extension rule: each Catalyst shape folds or " +
      "scans as pinned, and answers as the rule-off plan") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet, LessThanOrEqual, Literal}
    path
    // the rule installed in a child session, whose default broadcast
    // threshold keeps the v2 exact-prune claim off these small tables:
    // every fold below is the rule's
    val ruled = spark.newSession()
    graft.plans.GraftPrune.install(ruled)
    // partition-shaped: one file per p in {10, 20, 30, 40}
    val pshape = s"$warehouse/ns/pshape"
    Seq(10, 20, 30, 40).foreach { pv =>
      val slice = spark.range(pv * 100L, pv * 100L + pv).selectExpr(s"$pv AS p", "id AS x")
      if (pv == 10) GraftTable.overwrite(slice.coalesce(1), pshape)
      else GraftTable.append(slice.coalesce(1), pshape)
    }
    // nulls in two columns of one file
    val nulls2 = s"$warehouse/ns/nulls2"
    GraftTable.overwrite(spark.range(0, 100).selectExpr(
      "CASE WHEN id % 9 = 0 THEN NULL ELSE id END AS k",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE id END AS w").coalesce(1), nulls2)
    // four boundary-aligned files under a deletion vector
    val dvt = s"$warehouse/ns/dvshape"
    (0 until 4).foreach { i =>
      val slice = spark.range(i * 250L, (i + 1) * 250L).selectExpr("id AS k", "id AS v")
      if (i == 0) GraftTable.overwrite(slice.coalesce(1), dvt)
      else GraftTable.append(slice.coalesce(1), dvt)
    }
    GraftTable.setProperties(dvt, Map("graft.deletionVectors" -> "true"))
    GraftTable.deleteWhereMor(spark, dvt, col("k") % 10 === 3)

    val k = col("k")
    val n = count(lit(1)).as("n")
    val notPropagated = Map("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.NullPropagation")
    case class Shape(name: String, table: String, cond: Column, aggs: Seq[Column],
        folds: Boolean, confs: Map[String, String] = Map.empty,
        form: Expression => Boolean = _ => true)
    val shapes = Seq(
      Shape("attr-op-literal", path, k >= 250 && k <= 749,
        Seq(n, min(k).as("mk"), max(col("v")).as("xv")), folds = true),
      Shape("literal-op-attr", path, lit(250L) <= k && lit(749L) >= k,
        Seq(n, max(k).as("xk")), folds = true,
        form = { case LessThanOrEqual(_: Literal, _) => true; case _ => false }),
      Shape("===", pshape, col("p") === 20, Seq(n, max(col("x")).as("xx")), folds = true),
      Shape("isin of 3 (In)", pshape, col("p").isin(20, 40, 99),
        Seq(n, min(col("x")).as("mx")), folds = true,
        form = { case i: In => i.list.size == 3; case _ => false }),
      Shape("isin of 20 (InSet)", pshape, col("p").isin((Seq(20, 40) ++ (41 to 58)): _*),
        Seq(n, max(col("x")).as("xx")), folds = true,
        form = { case i: InSet => i.hset.size == 20; case _ => false }),
      Shape("IS NOT NULL", path, col("tag").isNotNull, Seq(n), folds = true),
      Shape("OR of ranges", path, k < 250 || k >= 750,
        Seq(n, max(col("v")).as("xv")), folds = true),
      Shape("one-column range with nulls (rows - nulls)", nulls2, k >= 0 && k <= 99,
        Seq(n), folds = true),
      Shape("two columns with nulls", nulls2, k >= 0 && col("w") >= 0, Seq(n), folds = false),
      Shape("NULL-literal compare", path, k > lit(null).cast("bigint"), Seq(n),
        folds = true, confs = notPropagated),
      Shape("deletion vector, count(*)", dvt, k >= 250 && k <= 749, Seq(n), folds = true),
      Shape("deletion vector, min", dvt, k >= 250 && k <= 749,
        Seq(min(col("v")).as("mv")), folds = false))

    def withConfs[A](confs: Map[String, String])(body: => A): A = {
      confs.foreach { case (key, v) => ruled.conf.set(key, v) }
      try body finally confs.keys.foreach(ruled.conf.unset)
    }
    shapes.foreach { sh =>
      def query() = GraftTable.read(ruled, sh.table).filter(sh.cond)
        .agg(sh.aggs.head, sh.aggs.tail: _*)
      withConfs(sh.confs) {
        val on = query()
        val folded = scansIn(on) == 0
        val off = withConfs(Map(graft.plans.GraftRules.Key -> "false")) {
          val q = query()
          assert(q.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(sh.form))),
            s"${sh.name}: the plan does not hold the shape:\n${q.queryExecution.optimizedPlan}")
          canon(q)
        }
        assert(folded == sh.folds, s"${sh.name}: expected " +
          (if (sh.folds) "a manifest fold" else "a scan") + s":\n${on.queryExecution.executedPlan}")
        assert(canon(on) == off, s"${sh.name}: rule-on answer differs from rule-off")
      }
    }
  }

  test("the one classifier: rows - nulls only for a one-column count, never " +
      "across a vector, a type-evolved file, or bounds") {
    import org.apache.spark.sql.sources
    import org.apache.spark.sql.types.StructType
    import graft.core.GraftTable.{ColStats, DvRef, FileEntry}
    import graft.plans.GraftPrune._
    val schema = StructType.fromDDL("k BIGINT, w BIGINT")
    def pred(fs: sources.Filter*) = v1StatPred(schema, fs).get
    val ge0 = pred(sources.GreaterThanOrEqual("k", 0L))
    val nully = FileEntry("a.parquet", 10, 100,
      Map("k" -> ColStats("long", Some("0"), Some("9"), 2),
        "w" -> ColStats("long", Some("0"), Some("9"), 3)))
    val clean = nully.copy(stats = nully.stats.map { case (c, st) => c -> st.copy(nulls = 0) })
    val vectored = nully.copy(dv = Some(DvRef("dv", 1, 10)))
    // one column, count only, no vector: rows - nulls
    assert(classifyFilteredTree(Seq(nully), ge0, forbidDv = false, countOnly = true) ==
      Some((8L, List(nully))))
    // ... also under the IS NOT NULL Spark infers beside the range
    assert(classifyFilteredTree(Seq(nully),
      pred(sources.IsNotNull("k"), sources.GreaterThanOrEqual("k", 0L)),
      forbidDv = false, countOnly = true) == Some((8L, List(nully))))
    // whole-file callers (the claim, the grouped fold) and vectors bail on nulls
    assert(classifyFilteredTree(Seq(nully), ge0, forbidDv = false).isEmpty)
    assert(classifyFilteredTree(Seq(vectored), ge0, forbidDv = false, countOnly = true).isEmpty)
    // two columns with nulls bail even for a count
    assert(classifyFilteredTree(Seq(nully),
      pred(sources.GreaterThanOrEqual("k", 0L), sources.GreaterThanOrEqual("w", 0L)),
      forbidDv = false, countOnly = true).isEmpty)
    // a vector: liveRows for counts, a bail when folding bounds
    val cleanDv = clean.copy(dv = Some(DvRef("dv", 1, 10)))
    assert(classifyFilteredTree(Seq(cleanDv), ge0, forbidDv = false) == Some((9L, List(cleanDv))))
    assert(classifyFilteredTree(Seq(cleanDv), ge0, forbidDv = true).isEmpty)
    // a file whose recorded stat tag disagrees with the predicate's bails
    val evolved = clean.copy(stats = Map("k" -> ColStats("string", Some("0"), Some("9"), 0)))
    assert(classifyFilteredTree(Seq(evolved), ge0, forbidDv = false, countOnly = true).isEmpty)
    // a NULL-literal compare: no row passes, no file is inside
    val never = pred(sources.GreaterThan("k", null))
    assert(never == PNever)
    assert(classifyFilteredTree(Seq(nully, clean), never, forbidDv = true) == Some((0L, Nil)))
    assert(classifyFilteredTree(Seq(nully),
      pred(sources.IsNotNull("k"), sources.LessThan("k", null)),
      forbidDv = false) == Some((0L, Nil)))
  }
}
