package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftTable

/** The batch `format("graft")` read ([[graft.sources.GraftBatchRead]]):
  * the manifest-planned DSv2 `GraftBatch` scan — stats and bloom
  * file-skipping happen at split planning for every consumer, with NO
  * GraftPrune.install and no API opt-in. */
class GraftBatchReadSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_batch_read").toString

  private def kv(rows: (Int, String)*) =
    df("k INT, v STRING", rows.map(r => Row(Int.box(r._1), r._2)): _*)

  /** Files the EXECUTED scan planned (the `filesPlanned` metric —
    * after manifest-stats skipping against the pushed filters). */
  private def scannedFiles(q: DataFrame): Long = plannedFiles(q)

  private def graftDf(path: String): DataFrame =
    spark.read.format("graft").load(path)

  test("format(\"graft\") writes: SaveMode semantics through the table's own ops") {
    val path = tmp() + "/t"
    // Append on a fresh path creates the table (v1), with indexed cols
    kv(1 -> "a", 2 -> "b").write.format("graft")
      .option("statsCols", "k").option("bloomCols", "k").mode("append").save(path)
    assert(GraftTable.currentVersion(path).contains(1L))
    assert(canon(graftDf(path)) == canon(kv(1 -> "a", 2 -> "b")))
    assert(GraftTable.filesOf(path, GraftTable.currentManifest(path).get)
      .forall(_.stats.get("k").exists(_.bloom.isDefined)), "bloomCols option applied")
    // a second append accumulates; overwrite replaces and keeps history
    kv(3 -> "c").write.format("graft").mode("append").save(path)
    assert(graftDf(path).count() == 3)
    kv(9 -> "z").write.format("graft").mode("overwrite").save(path)
    assert(canon(graftDf(path)) == canon(kv(9 -> "z")))
    assert(spark.read.format("graft").option("versionAsOf", 2).load(path).count() == 3)
    // CHECK constraints gate the writer path too
    GraftTable.addCheck(spark, path, "pos", "k > 0")
    intercept[Exception](
      kv(-1 -> "bad").write.format("graft").mode("append").save(path))
    // ErrorIfExists refuses an existing table; Ignore no-ops
    intercept[Exception](
      kv(1 -> "x").write.format("graft").mode("errorifexists").save(path))
    val v = GraftTable.currentVersion(path)
    kv(1 -> "x").write.format("graft").mode("ignore").save(path)
    assert(GraftTable.currentVersion(path) == v && graftDf(path).count() == 1)
  }

  test("batch load reads the head snapshot; versionAsOf/timestampAsOf pin history") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path) // v1
    val m1 = GraftTable.currentManifest(path).get
    GraftTable.append(kv(3 -> "c"), path) // v2
    GraftTable.upsertByKey(spark, path, kv(2 -> "B"), Seq("k")) // v3
    assert(canon(graftDf(path)) == canon(GraftTable.read(spark, path)))
    assert(canon(spark.read.format("graft").option("versionAsOf", 1).load(path)) ==
      canon(kv(1 -> "a", 2 -> "b")))
    assert(canon(spark.read.format("graft").option("versionAsOf", 2).load(path)) ==
      canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // timestampAsOf at v1's commit instant (epoch-micros form)
    assert(canon(spark.read.format("graft")
      .option("timestampAsOf", m1.tsUs.toString).load(path)) ==
      canon(kv(1 -> "a", 2 -> "b")))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 1)
        .option("timestampAsOf", "123").load(path)
    }
  }

  test("range filters skip files by manifest stats with no rule installed") {
    val path = tmp() + "/t"
    assert(!spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[graft.plans.GraftPrune]), "precondition: no rule")
    val rows = spark.range(0, 800).select(col("id").cast("int").as("k"),
      (col("id") % 100).cast("double").as("x"))
    GraftTable.writeClustered(rows, path, col("k"), 8)
    val q = graftDf(path).filter(col("k") >= 100 && col("k") <= 199)
    assert(scannedFiles(q) <= 2, s"expected stats skip, planned ${scannedFiles(q)}/8")
    assert(q.count() == 100)
    assert(canon(q) == canon(GraftTable.read(spark, path)
      .filter(col("k") >= 100 && col("k") <= 199)))
    val eq = graftDf(path).filter(col("k") === 42)
    assert(scannedFiles(eq) == 1, s"equality should plan 1 file")
    // unfiltered scan plans everything
    assert(scannedFiles(graftDf(path)) == 8)
  }

  test("IN-list filters bloom-skip files on a hash layout through the batch source") {
    val path = tmp() + "/t"
    // hash layout: every file spans nearly the full key range, so only
    // the blooms can prove files clean
    val rows = spark.range(0, 2000).select((col("id") * 2).cast("int").as("k"),
      col("id").cast("double").as("x"))
    GraftTable.overwrite(rows.repartition(8, col("k")), path, bloomCols = Seq("k"))
    val hit = graftDf(path).filter(col("k").isin(34, 1040))
    assert(scannedFiles(hit) < 8, s"blooms must skip: planned ${scannedFiles(hit)}/8")
    assert(hit.count() == 2)
    // an odd key inside every range: blooms prove every file clean
    val miss = graftDf(path).filter(col("k") === 33)
    assert(scannedFiles(miss) <= 1)
    assert(miss.count() == 0)
  }

  test("manifest is the listing: orphan files in data/ are invisible to the batch scan") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    // plant an orphan parquet in data/ (a crashed writer's leftovers) —
    // a directory-listing reader would pick it up; the manifest must not
    val data = new java.io.File(path, "data")
    val stray = s"${tmp()}/stray"
    kv(99 -> "STRAY").coalesce(1).write.parquet(stray)
    val part = Option(new java.io.File(stray).listFiles).get
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(data, "orphan-crashed.parquet").toPath)
    assert(canon(graftDf(path)) == canon(kv(1 -> "a", 2 -> "b")))
  }

  test("renamed and widened layouts fall back to the projected relation, stay exact") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    GraftTable.renameColumn(path, "v", "label")
    GraftTable.append(df("k INT, label STRING", Row(Int.box(3), "c")), path)
    // mixed physical names: old files carry v->label rename maps
    assert(canon(graftDf(path)) == canon(GraftTable.read(spark, path)))
    assert(graftDf(path).filter(col("label") === "a").count() == 1)
    // dropped-then-readded column must NOT resurrect old on-disk values
    GraftTable.dropColumn(path, "label")
    GraftTable.addColumn(path, "label", "STRING")
    val back = graftDf(path)
    assert(back.filter(col("label").isNotNull).count() == 0,
      "re-added column resurrected stale on-disk values through the batch source")
    // pruning still happens in the fallback: clustered + renamed
    val p2 = tmp() + "/t2"
    val rows = spark.range(0, 400).select(col("id").cast("int").as("k"),
      col("id").cast("double").as("x"))
    GraftTable.writeClustered(rows, p2, col("k"), 4)
    GraftTable.renameColumn(p2, "x", "y")
    val q = graftDf(p2).filter(col("k") === 7)
    assert(canon(q) == canon(GraftTable.read(spark, p2).filter(col("k") === 7)))
  }

  test("SQL over the batch source: a temp view composes with joins and aggregates") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b", 3 -> "a"), path)
    graftDf(path).createOrReplaceTempView("gbatch")
    val n = spark.sql("SELECT v, count(*) AS n FROM gbatch GROUP BY v ORDER BY v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(n == Seq(("a", 2L), ("b", 1L)))
  }

  test("readChangeFeed refuses on the batch path with a pointer to the TVF") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true").load(path).collect()
    }
    assert(e.getMessage.contains("graft_table_changes"))
  }
}
