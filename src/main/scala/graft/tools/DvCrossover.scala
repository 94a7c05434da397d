package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.GraftTable

/** Measures the MOR read-amplification crossover — the number behind
  * the purge-scheduling guidance (`deleted_frac` in
  * [[GraftTable.describeFiles]] / `graft_table_files`): at what masked
  * fraction does the per-row liveness probe + dead-byte read make
  * REORG PURGE's one-time rewrite the cheaper choice?
  *
  *   runMain graft.tools.DvCrossover [sfDir] [runs]
  *
  * Method: one clustered orders table per deleted fraction f; delete
  * every ⌈1/f⌉-th key via ONE MOR commit (every file dirty — the
  * worst case: the per-file split can shelter no clean branch); time a
  * full aggregate scan (a) through the vectors and (b) after
  * purgeDeletes, median of `runs`. Also records the purge's own cost
  * (the amortization denominator) and both commits' write bytes. */
object DvCrossover {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.configure(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 20M synthetic rows (~w sf10 orders): per-row probe costs must
    // dominate the fixed per-stage overheads the measurement is NOT
    // about (at sf0.1's 150k rows every scan is ~0.1 s of pure stage
    // setup and the marginal tax is invisible)
    val nRows = args.lift(2).map(_.toLong).getOrElse(20L << 20)
    val orders = spark.range(nRows).select(
      col("id").as("o_orderkey"),
      (col("id") % 997).as("o_custkey"),
      (col("id") % 100).cast("double").as("o_totalprice"))

    def timeScan(path: String): Double = {
      val times = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        GraftTable.read(spark, path)
          .agg(count(lit(1)), sum(col("o_totalprice"))).collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times(times.size / 2)
    }

    // untimed warmup
    locally {
      val w = java.nio.file.Files.createTempDirectory("dvx_warm").toString + "/t"
      GraftTable.writeClustered(orders.limit(10000), w, col("o_orderkey"), 4)
      timeScan(w): Unit
    }

    println(f"| deleted frac | scan via DV s | scan purged s | DV tax | purge cost s |")
    println(s"|---|---|---|---|---|")
    Seq(0.0, 0.01, 0.05, 0.10, 0.20, 0.40, 0.60).foreach { f =>
      val path = java.nio.file.Files.createTempDirectory("dvx").toString + "/t"
      GraftTable.writeClustered(orders, path, col("o_orderkey"), 16,
        statsCols = Seq("o_orderkey"))
      if (f > 0) {
        val mod = math.max(1L, math.round(1.0 / f))
        GraftTable.deleteWhereMor(spark, path, pmod(col("o_orderkey"), lit(mod)) === 0)
      }
      val viaDv = timeScan(path)
      val t0 = System.nanoTime()
      if (f > 0) GraftTable.purgeDeletes(spark, path): Unit
      val purgeCost = (System.nanoTime() - t0) / 1e9
      val purged = timeScan(path)
      println(f"| $f%.2f | $viaDv%.3f | $purged%.3f | ${viaDv / purged}%.2fx | $purgeCost%.2f |")
    }

    // the per-file-split shelter: ONE dirty file among 16 — clean files
    // stay on the unfiltered vectorized branch, so the probe tax applies
    // to 1/16th of the rows, not all of them
    locally {
      val path = java.nio.file.Files.createTempDirectory("dvx1").toString + "/t"
      GraftTable.writeClustered(orders, path, col("o_orderkey"), 16,
        statsCols = Seq("o_orderkey"))
      val bounds = GraftTable.read(spark, path)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val cut = lo + (hi - lo) / 16 / 2 // well inside the first file's range
      GraftTable.deleteWhereMor(spark, path,
        col("o_orderkey") <= cut && pmod(col("o_orderkey"), lit(7)) === 0,
        pruneRanges = Seq(GraftTable.ColRange("o_orderkey", Some(lo), Some(cut))))
      val dirty = GraftTable.describeFiles(spark, path)
        .filter(col("n_deleted") > 0).count()
      val viaDv = timeScan(path)
      GraftTable.purgeDeletes(spark, path): Unit
      val purged = timeScan(path)
      println(f"one-dirty-file ($dirty of 16): via DV $viaDv%.3f s, purged $purged%.3f s, tax ${viaDv / purged}%.2fx")
    }
    spark.stop()
  }
}
