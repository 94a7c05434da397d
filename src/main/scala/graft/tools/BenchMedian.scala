package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** The quiesced per-query benchmark protocol — the measurement
  * discipline of the commit-cost probe (`tools/CommitCost`, removed after
  * commit 086f12c) applied to the whole query registry: N passes
  * over the registry (default 5), per-query MEDIAN and SPREAD (min/max)
  * written as a markdown table. The committed table is the
  * round-over-round reference that a single contended driver run can't
  * distort (round 8's official run was uniformly ~1.44× a like-for-like
  * re-run — machine load, but nothing committed could prove it; this
  * table is that proof for future rounds).
  *
  * Isolation (the round-9 tail lesson: q39's 16 s max against a 0.086 s
  * median was q36's background residue bleeding into whichever query
  * always ran next):
  *  - each PASS visits the registry in a different seeded-shuffled
  *    order, so no query systematically inherits a heavy neighbor's
  *    leftovers — contamination lands on a different victim each pass
  *    and the median shrugs it off;
  *  - a settle barrier (cache clear + GC + short quiesce) runs between
  *    queries, draining async cleanup before the next timer starts.
  * Queries whose max/min spread still exceeds 3× (min ≥ 50 ms — below
  * that, scheduler noise dominates any protocol) are FLAGGED in the
  * output for investigation rather than silently averaged away.
  *
  * Usage: `runMain graft.tools.BenchMedian <sfDir> <outFile> [passes] [q...]`
  * — trailing query names restrict the run (the isolated-measurement
  * mode used to attribute a single query's regression). */
object BenchMedian {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(1).getOrElse("BENCH_MEDIANS.md")
    val passes = args.lift(2).map(_.toInt).getOrElse(5)
    val only = args.drop(3).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.harness(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    // settle barrier: drain cached plans, collect the previous query's
    // garbage, and give async executor cleanup a beat to finish — the
    // next timer must start from quiet
    def settle(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(150)
    }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    GraftSession.withTaskClassLoader(spark) {
      Bench.warmUp(spark, sfDir)
      for (pass <- 1 to passes) {
        // a different visiting order every pass (seeded — reruns reproduce)
        val order = new scala.util.Random(42 + pass).shuffle(names)
        System.err.println(s"[median] pass $pass/$passes (${order.take(3).mkString(", ")}, …)")
        order.foreach { name =>
          settle()
          val fn = SparkEntry.queries(name)
          val t0 = System.nanoTime()
          val t =
            try { fn(spark, sfDir).count(): Unit; (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable =>
              System.err.println(s"[median] $name failed: ${e.getMessage}")
              -1.0
            }
          samples(name) = t :: samples(name)
        }
      }
    }
    val rows = names.map { name =>
      val times = samples(name).sorted
      val median = if (times.head < 0) -1.0 else times(times.size / 2)
      System.err.println(f"[median] $name%-28s $median%8.3f s (min ${times.head}%.3f max ${times.last}%.3f)")
      (name, median, times.head, times.last)
    }
    val total = rows.map(_._2).filter(_ >= 0).sum
    val flagged = rows.filter { case (_, med, lo, hi) =>
      med >= 0 && lo >= 0.05 && hi / lo > 3.0
    }
    val sb = new StringBuilder
    sb ++= s"# Quiesced per-query medians\n\n"
    sb ++= s"- data: `$sfDir`; passes over the registry: $passes (median reported); threads: $cpus\n"
    sb ++= f"- total of medians: $total%.1f s over ${rows.size} queries\n"
    sb ++= "- protocol: untimed JIT/codebook warmup; each pass visits queries in a\n"
    sb ++= "  different seeded-shuffled order (no query systematically inherits a\n"
    sb ++= "  heavy neighbor's residue); settle barrier (cache clear + GC + 150 ms)\n"
    sb ++= "  between queries; failures read as -1 (never a fast time). Run\n"
    sb ++= "  quiesced: no other builds, benches, or test suites on the machine.\n"
    if (flagged.isEmpty)
      sb ++= "- spread: no query with min >= 50 ms exceeds 3x max/min.\n\n"
    else {
      sb ++= s"- FLAGGED (max/min > 3x at min >= 50 ms — investigate, don't average away):\n"
      flagged.foreach { case (n, _, lo, hi) =>
        sb ++= f"  - $n: ${hi / lo}%.1fx ($lo%.3f .. $hi%.3f)\n"
      }
      sb ++= "\n"
    }
    sb ++= "| query | median s | min s | max s |\n|---|---|---|---|\n"
    rows.foreach { case (n, med, lo, hi) =>
      sb ++= f"| $n | $med%.3f | $lo%.3f | $hi%.3f |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    System.err.println(s"[median] wrote $outFile (${rows.size} queries, total ${math.round(total)} s, ${flagged.size} flagged)")
    spark.stop()
  }
}
