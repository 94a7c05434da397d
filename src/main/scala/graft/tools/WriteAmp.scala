package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.io.File

/** Measures fact_order's CYCLE-2 write amplification under the two
  * storage engines (the SCALE.md "Delta seam" question, answered with
  * numbers): the plain year-partitioned TableIO upsert the warehouse
  * runs today, vs the same state transition on a GraftTable clustered
  * by order_id (file-granular copy-on-write).
  *
  *   runMain graft.tools.WriteAmp [sfDir] [numFiles]
  *
  * Method: run warehouse cycle 1, snapshot fact_order's content (F1)
  * and its on-disk file set; run cycle 2, diff the file set → bytes the
  * partitioned writer actually wrote; reconstruct cycle 2's changed
  * rows (updated_at = cycle-2 stamp) and replay F1→F2 as a GraftTable
  * overwrite + keyed COW upsert → staged bytes from the manifest.
  * Content equality of both final states is asserted, so the numbers
  * compare equal work.
  */
object WriteAmp {
  private def walk(dir: File): Seq[File] = {
    val fs = Option(dir.listFiles).getOrElse(Array.empty[File])
    fs.filter(_.isFile).toSeq ++ fs.filter(_.isDirectory).flatMap(walk)
  }
  private def parquetBytes(dir: String): Map[String, Long] =
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length).toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val numFiles = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = graft.GraftSession.configure(SparkSession.builder().master("local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.northwind.NorthwindWarehouse
    import graft.core.GraftTable

    val root = java.nio.file.Files.createTempDirectory("graft_writeamp").toString
    val factDir = s"$root/dwh/fact_order"
    NorthwindWarehouse.runCycle(spark, sfDir, root, 1)
    val f1 = spark.read.parquet(factDir).localCheckpoint(true)
    val before = parquetBytes(factDir)
    NorthwindWarehouse.runCycle(spark, sfDir, root, 2)
    val after = parquetBytes(factDir)
    val f2 = spark.read.parquet(factDir).localCheckpoint(true)
    val writtenA = after.collect { case (p, b) if !before.contains(p) => b }.sum
    val tableBytes = after.values.sum

    // cycle 2's changed rows: everything whose updated_at is the cycle-2
    // stamp (the warehouse bumps updated_at on every written row)
    val c2 = f2.agg(max(col("updated_at"))).first().getTimestamp(0)
    val delta = f2.filter(col("updated_at") === lit(c2))
    val nDelta = delta.count()

    // replay on GraftTable: cycle 1 commits clustered by order_id, cycle 2
    // is one keyed copy-on-write upsert; staged bytes come from the
    // manifest (total minus carried-by-reference)
    val gt = s"$root/graft_fact"
    GraftTable.writeClustered(f1, gt, col("order_id"), numFiles,
      statsCols = Seq("order_id", "order_year"))
    // full file list (inline + leaves): inline-only would misread leaf-
    // resident v1 files as newly staged when the initial write overflows
    // the inline cap
    val v1Files = GraftTable.filesOf(gt, GraftTable.currentManifest(gt).get)
      .map(_.path).toSet
    GraftTable.upsertByKey(spark, gt, delta.select(f1.columns.map(col): _*),
      Seq("order_id"), statsCols = Seq("order_id", "order_year"))
    val m2 = GraftTable.currentManifest(gt).get
    val v2All = GraftTable.filesOf(gt, m2)
    val staged = v2All.filterNot(fe => v1Files.contains(fe.path))
    val writtenB = staged.map(_.bytes).sum
    val carried = v2All.size - staged.size

    // equal final content — the comparison is between equal work
    val diff = f2.exceptAll(GraftTable.read(spark, gt)).count() +
      GraftTable.read(spark, gt).exceptAll(f2).count()
    require(diff == 0, s"storage engines diverged by $diff rows")

    println(f"[writeamp] fact rows: ${f2.count()}, cycle-2 changed rows: $nDelta")
    println(f"[writeamp] table bytes: $tableBytes")
    println(f"[writeamp] A year-partitioned TableIO upsert: $writtenA bytes written in cycle 2")
    println(f"[writeamp] B GraftTable keyed COW ($numFiles files): $writtenB bytes " +
      f"(${staged.size} files staged, $carried carried by pointer)")
    println(f"[writeamp] amplification A: ${writtenA.toDouble / tableBytes}%.2f of table, " +
      f"B: ${writtenB.toDouble / tableBytes}%.2f of table")

    // the insert-heavy steady state: only the delta's NEW order ids (id-
    // local by construction — ids ascend), replayed against the full F2
    // state on both engines. This is the nightly-load shape; the CDC
    // replay above (update keys uniform over history) is the adversarial
    // shape no sub-table granularity can win.
    val newKeys = delta.join(f1.select(col("order_id")), Seq("order_id"), "left_anti")
      .localCheckpoint(true)
    val gt2 = s"$root/graft_fact_inserts"
    GraftTable.writeClustered(f2.exceptAll(newKeys), gt2, col("order_id"), numFiles,
      statsCols = Seq("order_id", "order_year"))
    val v1b = GraftTable.filesOf(gt2, GraftTable.currentManifest(gt2).get)
      .map(_.path).toSet
    GraftTable.upsertByKey(spark, gt2, newKeys.select(f1.columns.map(col): _*),
      Seq("order_id"), statsCols = Seq("order_id", "order_year"))
    val m2b = GraftTable.currentManifest(gt2).get
    val v2bAll = GraftTable.filesOf(gt2, m2b)
    val stagedB = v2bAll.filterNot(fe => v1b.contains(fe.path))
    val baseBytes = v2bAll.map(_.bytes).sum
    println(f"[writeamp] insert-only delta: ${newKeys.count()} new ids → " +
      f"${stagedB.map(_.bytes).sum} bytes staged (${stagedB.size} files), " +
      f"${v2bAll.size - stagedB.size} carried — " +
      f"${stagedB.map(_.bytes).sum.toDouble / baseBytes}%.3f of table")

    // the point-delete shape (GDPR erasure of a sparse key set): COW
    // rewrites every file holding a victim; merge-on-read commits
    // deletion-vector sidecars and touches no data file. Same predicate,
    // same final content — the bytes ARE the comparison.
    val delPred = col("order_id") % 97 === 0
    val gtCow = s"$root/graft_fact_del_cow"
    val gtMor = s"$root/graft_fact_del_mor"
    Seq(gtCow, gtMor).foreach(p => GraftTable.writeClustered(f2, p,
      col("order_id"), numFiles, statsCols = Seq("order_id")))
    val cowV1 = GraftTable.filesOf(gtCow, GraftTable.currentManifest(gtCow).get)
      .map(_.path).toSet
    GraftTable.deleteWhere(spark, gtCow, delPred)
    val cowStaged = GraftTable.filesOf(gtCow, GraftTable.currentManifest(gtCow).get)
      .filterNot(fe => cowV1.contains(fe.path))
    GraftTable.deleteWhereMor(spark, gtMor, delPred)
    val morEntries = GraftTable.filesOf(gtMor, GraftTable.currentManifest(gtMor).get)
    val morBytes = morEntries.flatMap(_.dv).map(_.bytes).sum
    val nVictims = morEntries.flatMap(_.dv).map(_.rows).sum
    val delDiff = GraftTable.read(spark, gtCow)
      .exceptAll(GraftTable.read(spark, gtMor)).count() +
      GraftTable.read(spark, gtMor).exceptAll(GraftTable.read(spark, gtCow)).count()
    require(delDiff == 0, s"COW and MOR deletes diverged by $delDiff rows")
    println(f"[writeamp] point delete ($nVictims rows): COW " +
      f"${cowStaged.map(_.bytes).sum} bytes (${cowStaged.size} files rewritten) vs " +
      f"MOR $morBytes sidecar bytes (0 files) — " +
      f"${cowStaged.map(_.bytes).sum.toDouble / math.max(1L, morBytes)}%.0fx reduction")
    spark.stop()
  }
}
