package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.core.GraftTable
import graft.catalog.GraftCatalog

/** GROUPED metadata aggregates + IN-list exact-prune — round-14's two
  * manifest-fold extensions, on both surfaces:
  *
  *  - `SELECT k, count(*) / count(c) / min / max … GROUP BY k` answers
  *    from the manifest when the layout is PARTITION-SHAPED on `k`
  *    (every file single-valued, null-free on `k`) — the extension
  *    rule ([[graft.plans.GraftPrune.rewriteGroupedMetaAgg]]) and the
  *    stock-session v2 complete aggregate pushdown
  *    ([[graft.catalog.GraftCatalog]]) must agree with the real scan
  *    exactly, and must BAIL (not guess) on any multi-valued file;
  *  - `WHERE k IN (…)` classifies files under the exact-prune claim:
  *    single-valued member files are provably inside, member-free
  *    ranges provably outside, anything else stays advisory. */
class GroupedMetaAggSpec extends AnyFunSuite with SparkSpecBase
    with org.scalatest.BeforeAndAfterAll {

  private val warehouse = Files.createTempDirectory("graft_gmagg").toString

  private lazy val stock = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.gma", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gma.warehouse", warehouse)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gma.ns")
    s
  }

  /** Partition-shaped fixture: one file per `k` in {10,20,30,40}, each
    * single-valued on `k`; `v` carries NULLs only inside k=30's file. */
  private lazy val path = {
    val p = s"$warehouse/ns/t"
    Seq(10, 20, 30, 40).foreach { k =>
      val slice = spark.range(k * 100L, k * 100L + 50 + k).selectExpr(
        s"$k AS k", "id AS x",
        if (k == 30) "CASE WHEN id % 5 = 0 THEN NULL ELSE id * 3 END AS v"
        else "id * 3 AS v")
      if (k == 10) GraftTable.overwrite(slice.coalesce(1), p)
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

  private def realIn(s: org.apache.spark.sql.SparkSession) = s.read.format("graft").load(path)
  private def real = realIn(spark)

  // every extension-rule case plans in a GraftPrune.ruled child session:
  // the shared test session must leave this suite without the rule
  override def afterAll(): Unit =
    try assert(!spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[graft.plans.GraftPrune]),
      "a case installed GraftPrune on the shared session")
    finally super.afterAll()

  test("stock session: GROUP BY over a partition-shaped layout folds with zero scans") {
    path
    val q = stock.sql(
      "SELECT k, count(*) AS n, count(v) AS nv, min(x) AS mx, max(x) AS xx " +
        "FROM gma.ns.t GROUP BY k")
    assert(scansIn(q) == 0,
      s"must fold from the manifest:\n${q.queryExecution.executedPlan}")
    assert(canon(q) == canon(real.groupBy("k")
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("x")).as("mx"), max(col("x")).as("xx"))))
  }

  test("stock session: WHERE + GROUP BY folds under the exact-prune claim") {
    val q = stock.sql(
      "SELECT k, count(*) AS n, max(x) AS xx FROM gma.ns.t " +
        "WHERE k >= 20 AND k <= 30 GROUP BY k")
    assert(scansIn(q) == 0,
      s"claimed filter + grouped fold must stay zero-scan:\n${q.queryExecution.executedPlan}")
    assert(canon(q) == canon(real.filter(col("k") >= 20 && col("k") <= 30)
      .groupBy("k").agg(count(lit(1)).as("n"), max(col("x")).as("xx"))))
  }

  test("a multi-valued file bails the grouped fold to the real scan, results exact") {
    val p = s"$warehouse/ns/multi"
    GraftTable.overwrite(spark.range(0, 100)
      .selectExpr("cast(id % 3 as int) AS k", "id AS x").coalesce(1), p)
    val q = stock.sql("SELECT k, count(*) AS n FROM gma.ns.multi GROUP BY k")
    assert(scansIn(q) > 0, "a file straddling groups needs real IO")
    assert(canon(q) == canon(spark.read.format("graft").load(p)
      .groupBy("k").agg(count(lit(1)).as("n"))))
  }

  test("extension rule: GROUP BY over a graft read becomes a LocalRelation") {
    path
    val ruled = graft.plans.GraftPrune.ruled(spark)
    val q = realIn(ruled).groupBy("k").agg(count(lit(1)).as("n"),
      min(col("x")).as("mx"), max(col("x")).as("xx"))
    assert(scansIn(q) == 0,
      s"the rule must fold the grouped aggregate:\n${q.queryExecution.executedPlan}")
    // oracle: the same rollup with the rules off
    ruled.conf.set(graft.plans.GraftRules.Key, "false")
    assert(canon(q) == canon(realIn(ruled).groupBy("k").agg(count(lit(1)).as("n"),
      min(col("x")).as("mx"), max(col("x")).as("xx"))))
  }

  test("extension rule: filtered grouped fold classifies files, straddler bails") {
    path
    val ruled = graft.plans.GraftPrune.ruled(spark)
    val clean = realIn(ruled).filter(col("k") >= 20 && col("k") <= 40)
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(scansIn(clean) == 0, "boundary-aligned grouped WHERE folds")
    assert(clean.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      Map(20 -> 70L, 30 -> 80L, 40 -> 90L))
    // a bound cutting through k=30's x-range straddles that FILE —
    // the whole rewrite must bail, results stay exact
    val straddle = realIn(ruled).filter(col("x") > 3010L).groupBy("k").agg(count(lit(1)).as("n"))
    assert(scansIn(straddle) > 0, "a straddling file needs real IO")
    assert(canon(straddle) == canon(real.filter(col("x") > 3010L)
      .groupBy("k").agg(count(lit(1)).as("n"))))
  }

  test("IN-list exact prune: member files fold, member-free files prune, zero scans") {
    path
    val q = stock.sql(
      "SELECT count(*) AS n, max(x) AS xx FROM gma.ns.t WHERE k IN (20, 40, 99)")
    assert(scansIn(q) == 0,
      s"IN over a partition-shaped layout must fold:\n${q.queryExecution.executedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 70L + 90L)
    assert(r.getLong(1) == real.filter(col("k").isin(20, 40))
      .agg(max("x")).collect().head.getLong(0))
  }

  /** Range layout: 4 files, k in [0,250) [250,500) [500,750) [750,1000). */
  private lazy val rangedPath = {
    val p = s"$warehouse/ns/ranged"
    (0 until 4).foreach { i =>
      val slice = spark.range(i * 250L, (i + 1) * 250L).selectExpr("id AS k", "id AS x")
      if (i == 0) GraftTable.overwrite(slice.coalesce(1), p)
      else GraftTable.append(slice.coalesce(1), p)
    }
    p
  }

  test("IN-list on a range layout (no single-valued files) stays advisory, results exact") {
    val p = rangedPath
    // 260 sits inside file 2's [250,500) range without covering it
    val q = stock.sql("SELECT count(*) AS n FROM gma.ns.ranged WHERE k IN (260, 261)")
    assert(scansIn(q) > 0, "a member inside a multi-valued range cannot claim")
    assert(q.collect().head.getLong(0) == 2L)
    // members entirely OUTSIDE every file range: outside-classification
    // holds for all files → zero-row fold, zero scans
    val none = stock.sql("SELECT count(*) AS n FROM gma.ns.ranged WHERE k IN (5000, 6000)")
    assert(scansIn(none) == 0,
      s"member-free ranges classify every file outside:\n${none.queryExecution.executedPlan}")
    assert(none.collect().head.getLong(0) == 0L)
  }

  test("SELECT DISTINCT over the partition column answers from the manifest") {
    path
    val ruled = graft.plans.GraftPrune.ruled(spark)
    val q = realIn(ruled).select("k").distinct()
    assert(scansIn(q) == 0,
      s"the distinct set IS the manifest's group keys:\n${q.queryExecution.executedPlan}")
    assert(q.collect().map(_.getInt(0)).sorted.sameElements(Array(10, 20, 30, 40)))
    // stock session: exact regardless of whether the v2 path engages
    val sq = stock.sql("SELECT DISTINCT k FROM gma.ns.t")
    assert(sq.collect().map(_.getInt(0)).sorted.sameElements(Array(10, 20, 30, 40)))
  }

  test("extension rule: GROUP BY date_trunc over a year-clustered layout folds; " +
      "finer grain straddles and bails") {
    val p = s"$warehouse/ns/byyear"
    (0 until 3).foreach { y =>
      val slice = spark.range(0, 200).selectExpr(
        s"timestamp'${1992 + y}-01-01 00:00:00' + " +
          "make_interval(0, 0, 0, cast(id as int), 0, 0, 0) AS ts",
        s"id + ${y * 1000} AS x")
      if (y == 0) GraftTable.overwrite(slice.coalesce(1), p)
      else GraftTable.append(slice.coalesce(1), p)
    }
    val ruled = graft.plans.GraftPrune.ruled(spark)
    def yearly = ruled.read.format("graft").load(p)
      .groupBy(date_trunc("year", col("ts")).as("yr"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("mn"), max(col("x")).as("mx"))
    val q = yearly
    assert(scansIn(q) == 0,
      s"year files fold the yearly rollup:\n${q.queryExecution.executedPlan}")
    ruled.conf.set(graft.plans.GraftRules.Key, "false")
    assert(canon(q) == canon(yearly))
    ruled.conf.unset(graft.plans.GraftRules.Key)
    // monthly grain over year-wide files: every file straddles months —
    // the whole rewrite bails, results exact
    def monthly = ruled.read.format("graft").load(p)
      .groupBy(date_trunc("month", col("ts")).as("m"))
      .agg(count(lit(1)).as("n"))
    val qm = monthly
    assert(scansIn(qm) > 0, "month groups inside a year file need real IO")
    ruled.conf.set(graft.plans.GraftRules.Key, "false")
    assert(canon(qm) == canon(monthly))
  }

  test("date_trunc fold is GATED on a fixed-offset session timezone: a DST " +
      "zone bails to the real scan (wall time is non-monotonic at fall-back)") {
    // file straddling America/New_York's 2021-11-07 fall-back: instants
    // 05:00:10Z..06:59:10Z are wall 01:00:10 EDT .. 01:59:10 EST — the
    // 01:00 wall hour REPEATS, so endpoint minute-equality would lie
    val p = s"$warehouse/ns/dst"
    GraftTable.overwrite(
      spark.range(0, 120).selectExpr(
        "timestamp'2021-11-07 05:00:10Z' + " +
          "make_interval(0, 0, 0, 0, 0, cast(id as int), 0) AS ts",
        "id AS x").coalesce(1), p)
    val ruled = graft.plans.GraftPrune.ruled(spark)
    def hourly = ruled.read.format("graft").load(p)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val savedTz = ruled.conf.get("spark.sql.session.timeZone")
    try {
      ruled.conf.set("spark.sql.session.timeZone", "America/New_York")
      val q = hourly
      assert(scansIn(q) > 0,
        s"a DST session zone must bail to the real scan:\n${q.queryExecution.executedPlan}")
      // results stay exact (the real scan computes them)
      val rows = q.collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).sortBy(_._1)
      assert(rows.map(_._2).sum == 120L)
      // the repeated wall hour proves the hazard is real: two distinct
      // wall hours despite only one "01:xx" label direction
      assert(rows.length == 2, s"fall-back hour folds two instant-hours: ${rows.toSeq}")
    } finally ruled.conf.set("spark.sql.session.timeZone", savedTz)
    // UTC (fixed offset): unchanged — a file constant under the grouping
    // still folds with zero scans (the gate is the ZONE, not the shape)
    val pu = s"$warehouse/ns/dst_utc"
    (0 until 2).foreach { h =>
      val slice = spark.range(0, 50).selectExpr(
        s"timestamp'2021-11-07 0$h:00:10Z' + " +
          "make_interval(0, 0, 0, 0, 0, cast(id as int), 0) AS ts",
        "id AS x")
      if (h == 0) GraftTable.overwrite(slice.coalesce(1), pu)
      else GraftTable.append(slice.coalesce(1), pu)
    }
    val qu = ruled.read.format("graft").load(pu)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    assert(scansIn(qu) == 0,
      s"UTC keeps the hour-clustered fold:\n${qu.queryExecution.executedPlan}")
    assert(qu.collect().map(_.getLong(1)).sorted.sameElements(Array(50L, 50L)))
  }

  test("extension rule: GROUP BY date_trunc over DATE and TIMESTAMP_NTZ columns " +
      "folds under a fixed-offset zone and scans under a DST zone (q184's shape)") {
    // date_trunc on either type analyzes to date_trunc(unit, cast(d AS TIMESTAMP))
    Seq("date" -> "d", "timestamp_ntz" -> "cast(d as timestamp_ntz)").foreach { case (t, e) =>
      val p = s"$warehouse/ns/by_$t"
      (0 until 3).foreach { y =>
        val slice = spark.range(0, 200).selectExpr(
          s"date_add(date'${1992 + y}-01-01', cast(id as int)) AS d", s"id + ${y * 1000} AS x")
          .selectExpr(s"$e AS d", "x")
        if (y == 0) GraftTable.overwrite(slice.coalesce(1), p)
        else GraftTable.append(slice.coalesce(1), p)
      }
      val ruled = graft.plans.GraftPrune.ruled(spark)
      def yearly = ruled.read.format("graft").load(p)
        .groupBy(date_trunc("year", col("d")).as("yr"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("mn"), max(col("x")).as("mx"))
      val q = yearly
      assert(scansIn(q) == 0,
        s"$t: year files fold the yearly rollup:\n${q.queryExecution.executedPlan}")
      ruled.conf.set(graft.plans.GraftRules.Key, "false")
      assert(canon(q) == canon(yearly))
      ruled.conf.unset(graft.plans.GraftRules.Key)
      ruled.conf.set("spark.sql.session.timeZone", "America/New_York")
      val dst = yearly
      assert(scansIn(dst) > 0,
        s"$t: a DST session zone must bail to the real scan:\n${dst.queryExecution.executedPlan}")
    }
  }

  test("OR-of-ranges claims through the tri-state tree; straddling branch bails") {
    rangedPath
    val q = stock.sql(
      "SELECT count(*) AS n, min(x) AS mn, max(x) AS mx FROM gma.ns.ranged " +
        "WHERE k < 250 OR k >= 750")
    assert(scansIn(q) == 0,
      s"a disjunction of aligned ranges must fold:\n${q.queryExecution.executedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 500L && r.getLong(1) == 0L && r.getLong(2) == 999L)
    // one branch cuts through file 2 → that file straddles → advisory
    val strad = stock.sql(
      "SELECT count(*) AS n FROM gma.ns.ranged WHERE k < 260 OR k >= 750")
    assert(scansIn(strad) > 0, "a straddling branch needs real IO")
    assert(strad.collect().head.getLong(0) == 510L)
    // a disjunction mixing recognized and unrecognized shapes stays
    // advisory with exact results
    val mixed = stock.sql(
      "SELECT count(*) AS n FROM gma.ns.ranged WHERE k < 250 OR x % 2 = 0")
    assert(scansIn(mixed) > 0)
    assert(mixed.collect().head.getLong(0) ==
      spark.read.format("graft").load(rangedPath)
        .filter(col("k") < 250 || col("x") % 2 === 0).count())
  }

  test("extension rule: OR folds ride the tree — filtered count and OR + GROUP BY") {
    val ruled = graft.plans.GraftPrune.ruled(spark)
    val q = ruled.read.format("graft").load(rangedPath)
      .filter(col("k") < 250 || col("k") >= 750)
      .agg(count(lit(1)).as("n"), max(col("x")).as("mx"))
    assert(scansIn(q) == 0,
      s"the rule's filtered fold must take OR through the tree:\n${q.queryExecution.executedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 500L && r.getLong(1) == 999L)
    // OR + GROUP BY over the partition-shaped layout: both branches
    // classify whole files into / out of their groups
    val g = realIn(ruled).filter(col("k") <= 20 || col("k") >= 40)
      .groupBy("k").agg(count(lit(1)).as("n"))
    assert(scansIn(g) == 0,
      s"grouped fold under OR must classify per file:\n${g.queryExecution.executedPlan}")
    assert(g.collect().map(x => (x.getInt(0), x.getLong(1))).toMap ==
      Map(10 -> 60L, 20 -> 70L, 40 -> 90L))
  }

  test("grouped fold respects deletion vectors: count(*) liveRows-exact, bounds scan") {
    val p = s"$warehouse/ns/dvg"
    Seq(1, 2, 3).foreach { k =>
      val slice = spark.range(k * 1000L, k * 1000L + 100).selectExpr(s"$k AS k", "id AS x")
      if (k == 1) GraftTable.overwrite(slice.coalesce(1), p)
      else GraftTable.append(slice.coalesce(1), p)
    }
    GraftTable.setProperties(p, Map("graft.deletionVectors" -> "true"))
    GraftTable.deleteWhereMor(spark, p, col("x") % 10 === 3)
    val cnt = stock.sql("SELECT k, count(*) AS n FROM gma.ns.dvg GROUP BY k")
    assert(scansIn(cnt) == 0, "grouped live counts are DV-exact")
    assert(cnt.collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      Map(1 -> 90L, 2 -> 90L, 3 -> 90L))
    val mx = stock.sql("SELECT k, max(x) AS xx FROM gma.ns.dvg GROUP BY k")
    assert(scansIn(mx) > 0, "a vector may have killed a group's extremum — must scan")
    assert(canon(mx) == canon(spark.read.format("graft").load(p)
      .groupBy("k").agg(max(col("x")).as("xx"))))
  }
}
