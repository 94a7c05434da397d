package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftTable
import graft.plans.GraftPrune

/** Transparent file skipping: a plain `.filter` over a GraftTable scan
  * reads only the files whose manifest stats can match — no explicit
  * readPruned call — and never changes results. The skipping itself
  * lives in the split planning of the DSv2 `GraftBatch` scan every read
  * plans through; the [[GraftPrune]] RULE remains the net for scans
  * built OUTSIDE the API (hand-rolled `spark.read.parquet` over
  * graft-managed files) and folds metadata aggregates. These specs pin
  * the end-to-end contract at the EXECUTED scan (`filesPlanned` /
  * `numFiles` metrics), whichever layer provides it. */
class GraftPruneSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_prune").toString

  private def installed[A](body: => A): A = {
    GraftPrune.install(spark)
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[GraftPrune])
  }

  test("a plain filter over a clustered GraftTable scans only matching files") {
    val path = tmp() + "/t"
    val rows = spark.range(0, 800).select(col("id").cast("int").as("k"),
      (col("id") % 100).cast("double").as("x"))
    GraftTable.writeClustered(rows, path, col("k"), 8)
    // exactness baseline computed with the rule NOT installed
    val expect = canon(GraftTable.read(spark, path)
      .filter(col("k") >= 100 && col("k") <= 199))
    installed {
      val q = GraftTable.read(spark, path).filter(col("k") >= 100 && col("k") <= 199)
      assert(plannedFiles(q) <= 2, s"rule should skip, planned ${plannedFiles(q)}/8")
      assert(q.count() == 100)
      assert(canon(q) == expect)
      // strict bounds relax conservatively, equality probes skip hardest
      assert(plannedFiles(GraftTable.read(spark, path).filter(col("k") === 42)) == 1)
      assert(plannedFiles(GraftTable.read(spark, path).filter(col("k") > 700)) <= 1)
    }
  }

  test("IN-list and equality filters bloom-skip files on a hash layout") {
    val path = tmp() + "/t"
    // hash-distributed even keys: every file spans nearly the full key
    // range, so [min,max] prunes nothing — only the bloom path can skip
    val rows = spark.range(0, 2000).select((col("id") * 2).as("k"),
      (col("id") % 5).cast("int").as("grp"))
    GraftTable.overwrite(rows.repartition(8, col("k")), path, bloomCols = Seq("k"))
    val expect = canon(GraftTable.read(spark, path)
      .filter(col("k").isin(100L, 2000L, 3000L)))
    installed {
      // short IN list (Catalyst `In`)
      val hit = GraftTable.read(spark, path).filter(col("k").isin(100L, 2000L, 3000L))
      assert(plannedFiles(hit) < 8, s"blooms must skip: planned ${plannedFiles(hit)}/8")
      assert(canon(hit) == expect && hit.count() == 3)
      // long IN list (optimizer rewrites to `InSet`) — still skips, exact
      val many = (0 until 15).map(i => java.lang.Long.valueOf(i * 2L))
      val inset = GraftTable.read(spark, path).filter(col("k").isin(many: _*))
      assert(plannedFiles(inset) < 8, s"InSet must skip: planned ${plannedFiles(inset)}/8")
      assert(inset.count() == 15)
      // equality point probe
      val eq = GraftTable.read(spark, path).filter(col("k") === 500L)
      assert(plannedFiles(eq) <= 2, s"=== must bloom-skip: planned ${plannedFiles(eq)}/8")
      assert(eq.count() == 1)
      // absent (odd) key: every file provably clean modulo bloom FPs
      val miss = GraftTable.read(spark, path).filter(col("k") === 1001L)
      assert(plannedFiles(miss) <= 1, s"miss planned ${plannedFiles(miss)}/8")
      assert(miss.count() == 0)
    }
  }

  test("version-pinned reads and string predicates skip; results exact") {
    val path = tmp() + "/t"
    val v1rows = spark.range(0, 400).select(col("id").as("k"),
      format_string("u%04d", col("id")).as("u"))
    GraftTable.writeClustered(v1rows, path, col("u"), 4)
    GraftTable.overwrite(spark.range(0, 10).select(col("id").as("k"),
      lit("zzz").as("u")), path) // v2 replaces everything
    installed {
      val q = GraftTable.readVersion(spark, path, 1).filter(col("u") >= "u0300")
      assert(plannedFiles(q) <= 1, s"v1 skip failed: ${plannedFiles(q)}/4")
      assert(q.count() == 100)
    }
  }

  test("random range probes: pruned results always equal unpruned (no false skip)") {
    val path = tmp() + "/t"
    val rnd = new scala.util.Random(13)
    val rows = spark.range(0, 500).select(
      pmod(hash(col("id")), lit(1000)).cast("int").as("k"), col("id").as("v"))
    GraftTable.writeClustered(rows, path, col("k"), 6)
    val full = GraftTable.read(spark, path)
    for (_ <- 1 to 8) {
      val (a, b) = (rnd.nextInt(1000), rnd.nextInt(1000))
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val expect = canon(full.filter(col("k").between(lo, hi)))
      val got = installed {
        canon(GraftTable.read(spark, path).filter(col("k").between(lo, hi)))
      }
      assert(got == expect, s"divergence on [$lo,$hi]")
    }
  }

  test("random IN probes over a bloomed hash layout: never a false skip") {
    val path = tmp() + "/t"
    val rnd = new scala.util.Random(29)
    val rows = spark.range(0, 1500).select(
      pmod(hash(col("id")), lit(3000)).as("k"), col("id").as("v"))
    GraftTable.overwrite(rows.repartition(6, col("k")), path, bloomCols = Seq("k"))
    val full = GraftTable.read(spark, path)
    for (_ <- 1 to 8) {
      // mix of present and absent probe values, In and InSet sizes
      val n = 2 + rnd.nextInt(14)
      val vals = Seq.fill(n)(rnd.nextInt(3000).toLong - 1500L)
      val expect = canon(full.filter(col("k").isin(vals: _*)))
      val got = installed {
        canon(GraftTable.read(spark, path).filter(col("k").isin(vals: _*)))
      }
      assert(got == expect, s"divergence on IN $vals")
    }
  }

  test("the rules kill switch: disabled rules fall back to real plans, same answers") {
    val path = tmp() + "/ks"
    GraftTable.writeClustered(spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v"),
      path, col("k"), 4, statsCols = Seq("k", "v"))
    installed {
      // a filtered count: the scan's own aggregate pushdown folds
      // unfiltered count/min/max with or without the rules, so the
      // rule-only fold is the one the switch must turn off
      val agg = () => GraftTable.read(spark, path).filter(col("k") < 500)
        .agg(count(lit(1)).as("n"))
      assert(plannedFiles(agg()) == 0, "rule on: manifest answers")
      val expect = agg().collect().head
      spark.conf.set(graft.plans.GraftRules.Key, "false")
      try {
        assert(plannedFiles(agg()) > 0, "rule off: the real scan answers")
        assert(agg().collect().head == expect)
      } finally spark.conf.unset(graft.plans.GraftRules.Key)
      assert(plannedFiles(agg()) == 0, "unset restores the default-on rule")
    }
  }

  test("metadata-only aggregates: count/min/max answer from the manifest, zero files scanned") {
    val path = tmp() + "/t"
    val rows = spark.range(0, 1000).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id").cast("double")).as("x"),
      concat(lit("s"), lpad(col("id").cast("string"), 4, "0")).as("s"),
      to_date(lit("2020-01-01")).as("d"))
    GraftTable.writeClustered(rows, path, col("k"), 8,
      statsCols = Seq("k", "x", "s", "d"))
    val q = () => GraftTable.read(spark, path)
    // baseline values computed WITHOUT the rule
    val base = q().agg(count(lit(1)).as("n"), count(col("x")).as("nx"),
      min(col("k")).as("mnk"), max(col("k")).as("mxk"),
      min(col("x")).as("mnx"), max(col("x")).as("mxx"),
      min(col("s")).as("mns"), max(col("s")).as("mxs"),
      max(col("d")).as("mxd")).collect().head
    installed {
      val agg = q().agg(count(lit(1)).as("n"), count(col("x")).as("nx"),
        min(col("k")).as("mnk"), max(col("k")).as("mxk"),
        min(col("x")).as("mnx"), max(col("x")).as("mxx"),
        min(col("s")).as("mns"), max(col("s")).as("mxs"),
        max(col("d")).as("mxd"))
      assert(plannedFiles(agg) == 0,
        "metadata aggregate must not plan a single file scan")
      assert(agg.collect().head == base)
      // df.count() collapses too
      val cnt = q().groupBy().count()
      assert(plannedFiles(cnt) == 0 && cnt.collect().head.getLong(0) == 1000L)
      // unsupported shapes still execute normally (sum needs real IO)
      val s = q().agg(sum(col("k")).as("s"))
      assert(plannedFiles(s) == 8)
      assert(s.collect().head.getLong(0) == (0L until 1000L).sum)
      // a column written WITHOUT stats blocks min/max but not count(*)
      // (explicit statsCols restricts the default all-column stamping)
      val path2 = tmp() + "/nostats"
      GraftTable.overwrite(rows.select(col("k"), col("x")), path2,
        statsCols = Seq("k"))
      val m2 = GraftTable.read(spark, path2).agg(min(col("x")).as("m"))
      assert(plannedFiles(m2) > 0) // executed for real
      // count(nullable col) without null stats also runs for real
      val c2 = GraftTable.read(spark, path2).agg(count(col("x")).as("c"))
      assert(plannedFiles(c2) > 0)
      assert(c2.collect().head.getLong(0) == 900L)
      // groupless agg over an EMPTY table: one row, count 0, null min
      val path3 = tmp() + "/empty"
      GraftTable.create(path3,
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
      val e = GraftTable.read(spark, path3)
        .agg(count(lit(1)).as("n"), min(col("k")).as("m")).collect().head
      assert(e.getLong(0) == 0L && e.isNullAt(1))
    }
  }

  test("filtered metadata counts: clean-classifying range predicates fold from stats") {
    val path = tmp() + "/t"
    // 8 range-clustered files over k=0..799: file boundaries are exact
    // multiples of 100 only if the partitioner lands there — the test
    // derives safe windows from the MANIFEST's own per-file bounds
    val rows = spark.range(0, 800).select(col("id").as("k"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id")).as("v"))
    GraftTable.writeClustered(rows, path, col("k"), 8, statsCols = Seq("k", "v"))
    val entries = GraftTable.filesOf(path, GraftTable.currentManifest(path).get)
      .filter(_.rows > 0)
    val bounds = entries.map(_.stats("k")).map(s => (s.min.get.toLong, s.max.get.toLong))
      .sortBy(_._1)
    // a window spanning files 2..4 EXACTLY (file min..file max)
    val (lo, hi) = (bounds(1)._1, bounds(3)._2)
    installed {
      // exact-boundary window: every file classifies, zero scans
      val q1 = GraftTable.read(spark, path).filter(col("k") >= lo && col("k") <= hi)
        .groupBy().count()
      assert(plannedFiles(q1) == 0, "clean window must fold from stats")
      assert(q1.collect().head.getLong(0) == hi - lo + 1)
      // strict upper bound AT a file boundary: the file below satisfies
      // (max < bound), the file holding the bound provably fails
      // (min >= bound) — still zero scans, strictness preserved exactly
      val b5 = bounds(4)._1
      val q2 = GraftTable.read(spark, path).filter(col("k") >= lo && col("k") < b5)
        .groupBy().count()
      assert(plannedFiles(q2) == 0)
      assert(q2.collect().head.getLong(0) == b5 - lo)
      // a straddling window executes for real (and stats-prunes files)
      val q3 = GraftTable.read(spark, path).filter(col("k") >= lo + 1 && col("k") <= hi)
        .groupBy().count()
      assert(q3.collect().head.getLong(0) == hi - lo)
      assert(plannedFiles(q3) > 0)
      // count under a filter on a NULLABLE column subtracts null counts
      val q4 = GraftTable.read(spark, path).filter(col("v") >= 0L).groupBy().count()
      assert(plannedFiles(q4) == 0)
      assert(q4.collect().head.getLong(0) == (0L until 800L).count(_ % 7 != 0))
      // IS NOT NULL alone folds the same way
      val q5 = GraftTable.read(spark, path).filter(col("v").isNotNull).groupBy().count()
      assert(plannedFiles(q5) == 0)
      assert(q5.collect().head.getLong(0) == (0L until 800L).count(_ % 7 != 0))
      // disjunctions are not conjunctive ranges — real execution
      val q6 = GraftTable.read(spark, path)
        .filter(col("k") < lo || col("k") > hi).groupBy().count()
      assert(q6.collect().head.getLong(0) == 800 - (hi - lo + 1))
      // filtered MIN/MAX fold too when the window is clean AND the
      // constrained column is null-free in inside files (k is)
      val q7 = GraftTable.read(spark, path).filter(col("k") >= lo && col("k") <= hi)
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
      assert(plannedFiles(q7) == 0)
      assert(q7.collect().head == org.apache.spark.sql.Row(lo, hi))
      // a filter on the NULLABLE column blocks bounds (the excluded
      // null-v rows could carry k's extremum) — real execution, exact
      val q8 = GraftTable.read(spark, path).filter(col("v") >= 0L)
        .agg(max(col("k")).as("mx"))
      assert(plannedFiles(q8) > 0)
      assert(q8.collect().head.getLong(0) == 799L)
    }
  }

  test("string stats compare in Spark's UTF-8 binary order, not Java's UTF-16 order") {
    // U+10000 sorts ABOVE U+E000 in UTF-8 bytes (Spark) but BELOW it in
    // UTF-16 code units (Java String.compareTo) — a stats probe using
    // the Java order would false-skip the file holding the supplementary
    // char and mis-fold the metadata max
    val sup = new String(Character.toChars(0x10000))
    val bmp = "\uE000"
    assert(bmp.compareTo(sup) > 0) // Java order disagrees with UTF-8 order
    val path = tmp() + "/t"
    GraftTable.append(df("s STRING", Row(bmp)).coalesce(1), path, statsCols = Seq("s"))
    GraftTable.append(df("s STRING", Row(sup)).coalesce(1), path, statsCols = Seq("s"))
    // Spark's own ordering is the ground truth
    val realMax = GraftTable.read(spark, path).agg(max(col("s"))).head().getString(0)
    assert(realMax == sup)
    installed {
      // equality probes must not false-skip either file
      assert(GraftTable.read(spark, path).filter(col("s") === sup).count() == 1)
      assert(GraftTable.read(spark, path).filter(col("s") === bmp).count() == 1)
      assert(GraftTable.read(spark, path).filter(col("s") > bmp).count() == 1)
      // the metadata-aggregate fold picks the Spark-order max
      val metaMax = GraftTable.read(spark, path).agg(max(col("s")).as("m"))
      assert(plannedFiles(metaMax) == 0)
      assert(metaMax.collect().head.getString(0) == sup)
    }
  }

  test("metadata aggregates never fire across a deletion vector or a filter") {
    val path = tmp() + "/t"
    GraftTable.writeClustered(spark.range(0, 400).selectExpr("id AS k", "id AS v"),
      path, col("k"), 4, statsCols = Seq("k"))
    installed {
      // a filter above the scan keeps the aggregate real (counts differ)
      val f = GraftTable.read(spark, path).filter(col("k") < 100)
        .agg(count(lit(1)).as("n"))
      assert(f.collect().head.getLong(0) == 100L)
      // MOR-delete some rows: the dv'd read path must not answer from
      // pre-delete metadata
      GraftTable.setProperties(path, Map("graft.deletionVectors" -> "true"))
      GraftTable.deleteWhereMor(spark, path, col("k") >= 350)
      val c = GraftTable.read(spark, path).agg(count(lit(1)).as("n"))
      assert(c.collect().head.getLong(0) == 350L)
      val mx = GraftTable.read(spark, path).agg(max(col("k")).as("m"))
      assert(mx.collect().head.getLong(0) == 349L)
    }
  }

  test("random metadata-aggregate probes: rule-on always equals rule-off") {
    val rnd = new scala.util.Random(41)
    for (round <- 1 to 6) {
      val path = tmp() + s"/t$round"
      val n = 200 + rnd.nextInt(800)
      val nullEvery = 2 + rnd.nextInt(9)
      val rows = spark.range(0, n).select(col("id").as("k"),
        when(col("id") % nullEvery === 0, lit(null))
          .otherwise((col("id") * 3 % 97).cast("double")).as("x"),
        concat(lit("s"), (col("id") % 37).cast("string")).as("s"))
      // random layout and random stats coverage
      val statsCols = Seq("k", "x", "s").filter(_ => rnd.nextBoolean()) match {
        case Nil => Seq("k"); case cs => cs
      }
      if (rnd.nextBoolean())
        GraftTable.writeClustered(rows, path, col("k"), 4, statsCols = statsCols)
      else GraftTable.overwrite(rows.repartition(4, col("k")), path,
        statsCols = statsCols)
      // sometimes MOR-delete a slice (the read path must not fold then)
      if (rnd.nextInt(3) == 0) {
        GraftTable.setProperties(path, Map("graft.deletionVectors" -> "true"))
        GraftTable.deleteWhereMor(spark, path, col("k") % 11 === 3)
      }
      // draw the predicate constants ONCE — a lambda that re-rolls the
      // rng per application would compare two different predicates
      val (b1, b2, b3, b4) = (rnd.nextInt(n), rnd.nextInt(n), rnd.nextInt(n), rnd.nextInt(n))
      val filters: Seq[DataFrame => DataFrame] = Seq(
        identity[DataFrame] _,
        (df: DataFrame) => df.filter(col("k") >= b1),
        (df: DataFrame) => df.filter(col("k") > b2 && col("k") <= b3 + 50),
        (df: DataFrame) => df.filter(col("x").isNotNull),
        (df: DataFrame) => df.filter(col("x") >= 10.0 && col("k") < b4))
      val aggSets = Seq(
        Seq(count(lit(1)).as("a")),
        Seq(count(lit(1)).as("a"), min(col("k")).as("b"), max(col("k")).as("c")),
        Seq(count(col("x")).as("a"), min(col("x")).as("b"), max(col("s")).as("c")),
        Seq(count(lit(1)).as("a"), sum(col("k")).as("b")), // sum never folds
        Seq((max(col("k")) - min(col("k"))).as("a"))) // wrapper expression
      for (f <- filters; aggs <- aggSets) {
        val expect = f(GraftTable.read(spark, path))
          .agg(aggs.head, aggs.tail: _*).collect().head
        val got = installed {
          f(GraftTable.read(spark, path)).agg(aggs.head, aggs.tail: _*).collect().head
        }
        assert(got == expect,
          s"round $round: rule-on $got != rule-off $expect (aggs=$aggs)")
      }
    }
  }

  test("named-table metadata aggregates: DV-aware count folds, bounds bail, rule-on == rule-off") {
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.gps", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gps.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gps.ns")
    val path = s"$wh/ns/t"
    GraftTable.writeClustered(spark.range(0, 500).select(col("id").as("k"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id").cast("double")).as("x")),
      path, col("k"), 4, statsCols = Seq("k", "x"))
    GraftTable.setProperties(path, Map("graft.deletionVectors" -> "true"))
    GraftTable.deleteWhereMor(spark, path, col("k") >= 450)
    def run(q: String) = spark.sql(q).collect().head
    val queries = Seq(
      "SELECT count(*) AS n FROM gps.ns.t",
      "SELECT count(x) AS n FROM gps.ns.t",        // nullable + DV -> must bail
      "SELECT min(k) AS a, max(k) AS b FROM gps.ns.t", // DV -> must bail
      "SELECT count(*) AS n FROM gps.ns.t WHERE k < 100", // clean-classified slice
      "SELECT count(*) AS n FROM gps.ns.t WHERE k >= 400") // straddles the DV'd file
    for (q <- queries) {
      val off = run(q)
      val on = installed { run(q) }
      assert(on == off, s"rule-on $on != rule-off $off for: $q")
    }
    // and the live-count fold is REAL: count(*) answers 450, not 500
    assert(installed { run("SELECT count(*) AS n FROM gps.ns.t") }.getLong(0) == 450L)
    // a rename bails everything (stale physical names must never serve stats)
    GraftTable.renameColumn(path, "x", "y")
    val offR = run("SELECT count(*) AS n, min(k) AS mn FROM gps.ns.t")
    val onR = installed { run("SELECT count(*) AS n, min(k) AS mn FROM gps.ns.t") }
    assert(onR == offR)
  }

  test("non-Graft parquet scans and non-range predicates are untouched") {
    val dir = tmp() + "/plain"
    spark.range(0, 100).select(col("id").as("k")).repartition(4)
      .write.parquet(dir)
    installed {
      val q = spark.read.parquet(dir).filter(col("k") < 10)
      assert(plannedFiles(q) == 4, "plain parquet must not be rewritten")
      assert(q.count() == 10)
      // a predicate the extractor can't bound → no-op, still correct
      val path = tmp() + "/t"
      GraftTable.writeClustered(spark.range(0, 100).select(col("id").as("k")),
        path, col("k"), 4)
      val odd = GraftTable.read(spark, path).filter(pmod(col("k"), lit(2)) === 1)
      assert(plannedFiles(odd) == 4)
      assert(odd.count() == 50)
    }
  }

  test("the rule still skips for HAND-BUILT parquet scans over graft data files") {
    val path = tmp() + "/t"
    GraftTable.writeClustered(
      spark.range(0, 400).select(col("id").cast("int").as("k"), col("id").as("v")),
      path, col("k"), 8)
    // a reader that bypasses the API entirely — plain spark.read.parquet
    // over the table's data files (the external-tool escape hatch the
    // rule exists for, now that API reads skip via their own FileIndex)
    val dataFiles = new java.io.File(path, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(dataFiles.length == 8)
    def hand() = spark.read.parquet(dataFiles.toIndexedSeq: _*).filter(col("k") === 42)
    val expect = canon(hand()) // rule NOT installed: all 8 files read
    assert(plannedFiles(hand()) == 8)
    installed {
      val q = hand()
      assert(plannedFiles(q) == 1, s"rule should skip, planned ${plannedFiles(q)}/8")
      assert(canon(q) == expect)
    }
  }

  test("registry queries leave the caller's optimizer as they found it") {
    val sf = sys.env.getOrElse("GRAFT_TESTDATA", sys.props("user.home") + "/testdata") +
      "/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"testdata not present at $sf")
    // a fresh session: no rule installed by an earlier test
    val s = spark.newSession()
    Seq("q139_ruled_bloom_scan", "q134_ruled_scan", "q171_meta_agg",
        "q172_meta_count_filtered", "q184_meta_year_rollup").foreach { q =>
      val before = s.experimental.extraOptimizations
      SparkEntry.queries(q)(s, sf).collect()
      assert(s.experimental.extraOptimizations == before,
        s"$q changed the caller's optimizer: ${s.experimental.extraOptimizations}")
    }
  }
}
