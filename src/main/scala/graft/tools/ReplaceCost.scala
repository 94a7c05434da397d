package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftTable

/** Measures the round-10 replace/retention write shapes on a 20M-row
  * table — the SCALE.md claims, answered with numbers:
  *
  *   1. `overwriteWhere` on a layout CLUSTERED like the predicate:
  *      covered files drop metadata-only, only the boundary rewrites.
  *   2. `overwriteWhereMor` on the same layout: boundary masks via a
  *      deletion-vector sidecar — zero rewrite IO.
  *   3. the same replace on an UNCLUSTERED (hash) layout, where every
  *      file holds window rows and no file is fully covered — the
  *      write amplification declared clustering exists to avoid.
  *
  * Reported per strategy: wall seconds (median of 3), files removed /
  * rewritten / staged, staged parquet bytes, dv sidecar bytes. The
  * final contents are asserted identical across strategies, so the
  * numbers compare equal logical work.
  *
  *   runMain graft.tools.ReplaceCost [rows] [files]
  */
object ReplaceCost {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20L * 1000 * 1000)
    val nf = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = graft.GraftSession.configure(SparkSession.builder().master("local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = java.nio.file.Files.createTempDirectory("graft_replcost").toString
    def base = spark.range(0, n).select(col("id").cast("long").as("k"),
      (col("id") % 1000).cast("int").as("g"), md5(col("id").cast("string")).as("v"))
    // replace window: one full stripe plus half the next (boundary)
    val stripe = n / nf
    val (lo, hi) = (stripe * 4, stripe * 5 + stripe / 2)
    def repl = spark.range(lo, hi, 100).select(col("id").cast("long").as("k"),
      lit(0).cast("int").as("g"), lit("replaced").as("v"))
    val pred = col("k") >= lo && col("k") < hi
    val ranges = Seq(GraftTable.ColRange("k", Some(lo), Some(hi - 1)))

    def dvBytes(p: String) = Option(new java.io.File(p, "_dv").listFiles)
      .getOrElse(Array.empty[java.io.File]).map(_.length).sum
    // PHYSICAL write cost: files whose path is NEW in this commit (a MOR
    // boundary file re-enters the change log carrying a dv pointer — a
    // logical change-feed row, not a write; counting ChangeLog.added
    // would overstate MOR by the whole boundary file)
    def shape(p: String, before: Set[String]): (Int, Long, Long) = {
      val m = GraftTable.currentManifest(p).get
      val fresh = GraftTable.filesOf(p, m).filterNot(f => before(f.path))
      (m.changes.get.removed.size, fresh.map(_.rows).sum, fresh.map(_.bytes).sum)
    }

    case class Run(label: String, secs: Double, removed: Int, stagedRows: Long,
        stagedBytes: Long, dv: Long, checksum: Long)
    def measure(label: String, clustered: Boolean, mor: Boolean): Run = {
      val times = (1 to 3).map { i =>
        val p = s"$root/$label-$i/t"
        if (clustered)
          GraftTable.writeClustered(base, p, col("k"), nf, statsCols = Seq("k"))
        else GraftTable.overwrite(base.repartition(nf, col("g")), p,
          statsCols = Seq("k"))
        if (mor) GraftTable.setProperties(p, Map("graft.deletionVectors" -> "true")): Unit
        val before = GraftTable.currentManifest(p)
          .map(m => GraftTable.filesOf(p, m).map(_.path).toSet).get
        val t0 = System.nanoTime()
        if (mor) GraftTable.overwriteWhereMor(spark, p, repl, pred, ranges)
        else GraftTable.overwriteWhere(spark, p, repl, pred, ranges)
        val s = (System.nanoTime() - t0) / 1e9
        val (rm, sr, sb) = shape(p, before)
        val cs = GraftTable.read(spark, p)
          .agg(org.apache.spark.sql.functions.sum(
            hash(col("k"), col("v")).cast("long"))).head().getLong(0)
        (s, rm, sr, sb, dvBytes(p), cs)
      }
      val med = times.map(_._1).sorted.apply(1)
      val t = times.head
      Run(label, med, t._2, t._3, t._4, t._5, t._6)
    }

    val runs = Seq(
      measure("cow-clustered", clustered = true, mor = false),
      measure("mor-clustered", clustered = true, mor = true),
      measure("cow-hash", clustered = false, mor = false))
    require(runs.map(_.checksum).distinct.size == 1,
      s"strategies disagree on final contents: ${runs.map(r => r.label -> r.checksum)}")
    println(f"| strategy | median s | log removed | written rows | written MB | dv KB |")
    println(f"|---|---|---|---|---|---|")
    runs.foreach { r =>
      println(f"| ${r.label} | ${r.secs}%.2f | ${r.removed} | ${r.stagedRows} " +
        f"| ${r.stagedBytes / 1e6}%.1f | ${r.dv / 1e3}%.1f |")
    }
    spark.stop()
  }
}
