package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.catalog.GraftCatalog
import graft.core.GraftTable
import graft.core.GraftTable.{ColStats, FileEntry}

/** Writer-recorded file stats (`graft.sources.GraftRowFileWriter`): every
  * GraftTable write records each file's row count, per-column null count
  * and min/max, bucket id and blooms as it writes, and the manifest must
  * be VALUE-IDENTICAL to a reference computed here from the written file
  * itself — the grouped `count`/`min`/`max`/null-count aggregate a
  * re-read job collects (encoded by `GraftTable.encode`), the
  * `pmod(hash(cols), n)` bucket id, and the explode+distinct bloom — on
  * every type and edge the manifest codec carries: NaN, ±0.0, huge
  * strings, micros timestamps, decimals, all-null columns. */
class FooterStatsSpec extends AnyFunSuite with SparkSpecBase {

  private val base = Files.createTempDirectory("graft_footer").toString
  private var n = 0

  spark.conf.set("spark.sql.catalog.fst", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.fst.warehouse", base)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS fst.ns")

  /** The reference for one manifest entry, from its file: (rows, stats
    * per column of `cols` without blooms). */
  private def reference(path: String, fe: FileEntry, cols: Seq[String])
      : (Long, Map[String, ColStats]) = {
    val file = spark.read.parquet(GraftTable.resolveData(path, fe))
    val aggs = count(lit(1L)) +: cols.flatMap(c => Seq(min(col(c)), max(col(c)),
      sum(when(col(c).isNull, 1L).otherwise(0L))))
    val r = file.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), cols.zipWithIndex.map { case (c, i) =>
      val tag = GraftTable.statTag(file.schema(c).dataType).get
      def bound(j: Int) = Option(r.get(j)).map(GraftTable.encode(tag, _))
      c -> ColStats(tag, bound(1 + 3 * i), bound(2 + 3 * i), r.getLong(3 + 3 * i))
    }.toMap)
  }

  /** The reference bloom for column `c` of one entry at the entry's own
    * (k, m): the explode+distinct set of engine-hashed positions. */
  private def referenceBloom(path: String, fe: FileEntry, c: String): String = {
    val Array(kS, mS, _) = fe.stats(c).bloom.getOrElse(fail(s"no bloom for $c")).split(":", 3)
    val (k, m) = (kS.toInt, mS.toInt)
    val positions = spark.read.parquet(GraftTable.resolveData(path, fe))
      .filter(col(c).isNotNull)
      .select(explode(array((0 until k).map(j =>
        pmod(xxhash64(col(c), lit(j)), lit(m.toLong))): _*)).as("p"))
      .distinct().collect().map(_.getLong(0)).toSeq
    GraftTable.packBloom(k, m, positions)
  }

  /** Every entry of `path`'s current snapshot: its rows and stats equal
    * the reference, on exactly `cols`; each of `blooms` equals the
    * reference bloom; a `bucket` (cols, n) id equals the reference's
    * single id. Returns the entries. */
  private def assertReference(path: String, cols: Seq[String], blooms: Seq[String] = Nil,
      bucket: Option[(Seq[String], Int)] = None): Seq[FileEntry] = {
    val files = GraftTable.filesOf(path, GraftTable.currentManifest(path).get)
    assert(files.nonEmpty && files.forall(_.rows > 0), s"$path: ${files.map(_.rows)}")
    files.foreach { fe =>
      val stats = fe.stats - GraftTable.BucketStatCol
      assert(stats.keySet == cols.toSet, s"${fe.path}: ${stats.keySet}")
      val (rows, ref) = reference(path, fe, cols)
      assert(fe.rows == rows, s"${fe.path}: rows ${fe.rows} vs $rows")
      assert(stats.map { case (c, s) => c -> s.copy(bloom = None) } == ref,
        s"${fe.path}: writer stats diverge from the reference:\n$stats\nvs\n$ref")
      assert(stats.collect { case (c, s) if s.bloom.isDefined => c }.toSet == blooms.toSet)
      blooms.foreach(c => assert(fe.stats(c).bloom.get == referenceBloom(path, fe, c),
        s"${fe.path}: bloom for '$c' diverges from the reference"))
      bucket.foreach { case (bcols, nb) =>
        val ids = spark.read.parquet(GraftTable.resolveData(path, fe))
          .select(pmod(hash(bcols.map(col): _*), lit(nb))).distinct().collect().map(_.getInt(0))
        assert(ids.length == 1)
        assert(fe.stats(GraftTable.BucketStatCol) ==
          ColStats("int", Some(ids.head.toString), Some(ids.head.toString), 0L))
      }
    }
    files
  }

  /** Writes `data` as one file through the Scala API and checks it
    * against the reference. */
  private def assertIdentical(data: DataFrame, statsCols: Seq[String]): Seq[FileEntry] = {
    n += 1
    val p = s"$base/a$n"
    GraftTable.overwrite(data.coalesce(1), p, statsCols)
    assertReference(p, statsCols)
  }

  test("many-file write: footer path fires and matches the job path per file") {
    val p = s"$base/many"
    val data = spark.range(0, 4000).selectExpr("id AS k", "id % 37 AS v")
      .repartition(40) // 40 part files through one staged write
    GraftTable.overwrite(data, p, Seq("k", "v"))
    assert(assertReference(p, Seq("k", "v")).size == 40)
  }

  test("integers, longs, extremes, negatives") {
    assertIdentical(df("b TINYINT, s SMALLINT, i INT, l BIGINT",
      Row(1.toByte, (-3).toShort, -2147483648, Long.MinValue),
      Row((-128).toByte, 9.toShort, 2147483647, Long.MaxValue),
      Row(null, null, null, null)),
      Seq("b", "s", "i", "l"))
  }

  test("strings: unicode, supplementary plane, empty") {
    assertIdentical(df("s STRING",
      Row(""), Row("z"), Row("𐀀"), // U+10000 — UTF-8 vs UTF-16 order
      Row(""), Row("日本語テキスト"), Row(null)),
      Seq("s"))
  }

  test("huge string values: dropped footer stats fall back to the job") {
    // the writer records a long value whole, whatever parquet's footer
    // keeps of it
    val big1 = "a" * 3000 + "x"; val big2 = "b" * 3000 + "y"
    val st = assertIdentical(df("s STRING", Row(big1), Row(big2)), Seq("s")).head.stats("s")
    assert(st.min.contains(big1) && st.max.contains(big2))
  }

  test("timestamps (micros) and dates") {
    assertIdentical(df("t TIMESTAMP, d DATE",
      Row(ts("1969-12-31 23:59:59.999999"), java.sql.Date.valueOf("1969-12-31")),
      Row(ts("2033-05-18 03:33:20.123456"), java.sql.Date.valueOf("2033-05-18")),
      Row(ts("1900-01-01 00:00:00"), java.sql.Date.valueOf("1900-01-01")),
      Row(null, null)),
      Seq("t", "d"))
  }

  test("pre-epoch fractional timestamp AS THE FILE BOUND encodes floored, both paths") {
    // encode("ts", Timestamp) used truncating division: -1 ms with
    // 999999000 nanos read back as +999999 µs — one second high — so a
    // file whose max is 1969-12-31 23:59:59.999999 recorded a wrong
    // bound and pruning could skip matching rows
    val st = assertIdentical(df("t TIMESTAMP",
      Row(ts("1969-12-31 23:59:58.5")), Row(ts("1969-12-31 23:59:59.999999"))),
      Seq("t")).head.stats("t")
    assert(st.min.contains("-1500000") && st.max.contains("-1"),
      s"bounds must be the floored epoch-micros, got $st")
  }

  test("doubles and floats: plain values footer-fold; NaN and ±0.0 fall back") {
    assertIdentical(df("x DOUBLE, y FLOAT",
      Row(-1.5d, 2.25f), Row(1e300, -3.5f), Row(Double.MinPositiveValue, 0.5f)),
      Seq("x", "y"))
    // Spark's ordering puts NaN above every value
    val nan = assertIdentical(df("x DOUBLE, y FLOAT",
      Row(1.0d, Float.NaN), Row(Double.NaN, 1.0f), Row(-2.0d, -1.0f)),
      Seq("x", "y")).head.stats
    assert(nan("x").max.contains("NaN") && nan("y").max.contains("NaN"))
    // -0.0 equals 0.0: the first one seen is the bound
    assertIdentical(df("x DOUBLE", Row(0.0d), Row(-0.0d), Row(5.0d)), Seq("x"))
    assertIdentical(df("x DOUBLE", Row(-0.0d), Row(0.0d), Row(-5.0d)), Seq("x"))
    assertIdentical(
      df("x DOUBLE", Row(Double.PositiveInfinity), Row(Double.NegativeInfinity)),
      Seq("x"))
  }

  test("decimals across physical encodings: int32, int64, binary") {
    assertIdentical(df("a DECIMAL(9,2), b DECIMAL(18,4), c DECIMAL(38,10)",
      Row(new java.math.BigDecimal("1234567.89"),
        new java.math.BigDecimal("-12345678901234.5678"),
        new java.math.BigDecimal("1234567890123456789012345678.0123456789")),
      Row(new java.math.BigDecimal("-0.01"),
        new java.math.BigDecimal("0.0001"),
        new java.math.BigDecimal("-9999999999999999999999999999.9999999999")),
      Row(null, null, null)),
      Seq("a", "b", "c"))
  }

  test("all-null columns and zero-row part files") {
    val st = assertIdentical(df("k INT, s STRING", Row(1, null), Row(2, null)),
      Seq("k", "s")).head.stats("s")
    assert(st == ColStats("string", None, None, 2L))
    // 1 row over 4 partitions: the empty partitions write no file
    val p = s"$base/one_row"
    GraftTable.overwrite(spark.range(0, 1).selectExpr("cast(id as int) AS k")
      .repartition(4), p, Seq("k"))
    assert(assertReference(p, Seq("k")).map(_.rows) == Seq(1L))
  }

  test("bucketed layout: footer stats + narrow bucket job record the same ids") {
    val data = spark.range(0, 400)
      .selectExpr("cast(id % 40 as int) AS k", "id AS x", "concat('v', id) AS s")
    val p = s"$base/bucketed"
    GraftTable.writeBucketed(data, p, "k", 4, statsCols = Seq("k", "x", "s"))
    val files = assertReference(p, Seq("k", "x", "s"), bucket = Some((Seq("k"), 4)))
    assert(files.map(_.stats(GraftTable.BucketStatCol).min.get).sorted ==
      Seq("0", "1", "2", "3"))
  }

  test("bloom bitmaps: the one-job OR-aggregator equals the explode+distinct reference") {
    val p = s"$base/bloom"
    val data = spark.range(0, 500)
      .selectExpr("concat('k', id % 111) AS s", "cast(id % 37 as int) AS i",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS n")
    GraftTable.overwrite(data.coalesce(2), p, bloomCols = Seq("s", "i", "n"))
    // both files fold to the bloom size of the larger one
    val files = assertReference(p, Seq("s", "i", "n"), blooms = Seq("s", "i", "n"))
    assert(files.map(_.stats("s").bloom.get.split(":")(1)).distinct.size == 1)
  }

  test("timestamps survive the whole prune/meta-agg pipeline on the footer path") {
    val p = s"$base/pipeline"
    val data = spark.range(0, 1000).selectExpr(
      "timestamp_micros(cast(id * 1000000 as long)) AS ts", "id AS x")
      .repartitionByRange(4, col("ts"))
    GraftTable.overwrite(data, p, statsCols = Seq("ts", "x"))
    assertReference(p, Seq("ts", "x"))
    // range pruning on the writer-recorded bounds skips files
    val pruned = GraftTable.readPruned(spark, p,
      Seq(GraftTable.ColRange("x", Some(0L), Some(100L))))
    assert(pruned.filesRead < 4, "writer-recorded bounds must still skip files")
    assert(pruned.df.filter(col("x").between(0L, 100L)).count() == 101)
  }

  test("every write surface records the reference's stats and blooms: Scala overwrite, " +
      "SQL INSERT, writeStream.toTable, row-level COW UPDATE and the MOR data file") {
    val batch = spark.range(0, 200).selectExpr(
      "cast(id as int) AS k",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('s', id) END AS s",
      "CASE WHEN id % 11 = 0 THEN double('NaN') WHEN id % 13 = 0 THEN double('-0.0') " +
        "ELSE id * 0.5 - 40 END AS x",
      "cast(id * 1.25 as decimal(10,2)) AS amt",
      "timestamp_micros(id * 1000003 - 50000000) AS ts",
      "date_add(date'1969-12-01', cast(id as int)) AS d").coalesce(1)
    val cols = Seq("k", "s", "x", "amt", "ts", "d")
    val blooms = Seq("k", "s")
    def table(name: String): String = {
      val p = s"$base/ns/$name"
      GraftTable.create(p, batch.schema, Map("graft.bloomCols" -> blooms.mkString(",")))
      p
    }
    val api = s"$base/ns/surf_api"
    GraftTable.overwrite(batch, api, bloomCols = blooms)
    assertReference(api, cols, blooms)

    val sql = table("surf_sql")
    batch.createOrReplaceTempView("surf_batch")
    spark.sql("INSERT INTO fst.ns.surf_sql SELECT * FROM surf_batch")
    assertReference(sql, cols, blooms)

    val stream = table("surf_stream")
    spark.readStream.table("fst.ns.surf_api").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft_surf_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("fst.ns.surf_stream").awaitTermination(60000)
    assertReference(stream, cols, blooms)

    val cow = table("surf_cow")
    spark.sql("INSERT INTO fst.ns.surf_cow SELECT * FROM surf_batch")
    spark.sql("UPDATE fst.ns.surf_cow SET s = concat(s, '!'), x = x + 1 WHERE k < 50")
    assert(GraftTable.currentManifest(cow).get.op == "update_rowlevel")
    assertReference(cow, cols, blooms)

    val mor = table("surf_mor")
    GraftTable.setProperties(mor, Map("graft.deletionVectors" -> "true"))
    spark.sql("INSERT INTO fst.ns.surf_mor SELECT * FROM surf_batch")
    spark.sql("UPDATE fst.ns.surf_mor SET s = concat(s, '!'), x = x + 1 WHERE k < 50")
    val m = GraftTable.currentManifest(mor).get
    assert(m.op == "update_rowlevel_mor")
    assert(m.changes.get.added.exists(_.dv.isEmpty), "the MOR update stages a data file")
    assertReference(mor, cols, blooms)
  }

  test("a bloom overwrite launches one Spark job; a bucketed write none beyond its write") {
    val data = spark.range(0, 5000).selectExpr("id AS k", "concat('v', id) AS s")
    assert(jobsDuring(GraftTable.overwrite(data, s"$base/jobs_bloom",
      statsCols = Seq("k", "s"), bloomCols = Seq("k")): Unit) == 1)
    // the bucketed write's own jobs: the same shuffle and sort written
    // without a bucket spec
    val write = jobsDuring(GraftTable.overwrite(
      data.repartition(4, col("k")).sortWithinPartitions("k"), s"$base/jobs_plain"): Unit)
    assert(jobsDuring(GraftTable.writeBucketed(data, s"$base/jobs_bucketed", "k", 4): Unit) ==
      write)
  }
}
