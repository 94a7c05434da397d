package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch profiling main (not part of the driver contract): time one
  * SparkEntry query N times under the same session config Bench uses.
  *
  *   runMain graft.tools.Profile q36_nw_fact_order 3 [sfDir]
  */
object Profile {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q01_agg_pushdown")
    val n = args.lift(1).map(_.toInt).getOrElse(3)
    val d = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.configure(SparkSession.builder().master("local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    // optional 4th arg: a query to run UNTIMED at sf0.001 first (the
    // Bench warmup discipline) — lets ordering/JIT effects be isolated
    args.lift(3).foreach { warm =>
      graft.SparkEntry.queries(warm)(spark, "/root/testdata/sf0.001").count(): Unit
      println(s"[profile] warmed with $warm @ sf0.001")
    }
    (1 to n).foreach { i =>
      spark.catalog.clearCache()
      time(s"$name run $i")(fn(spark, d).count())
    }
    spark.stop()
  }
}
