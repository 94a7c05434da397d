package graft.tools

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Scratch diagnosis harness for the 32-core anti-scaling investigation
  * (not part of the driver contract): runs one SparkEntry query under the
  * exact Bench session confs while a listener aggregates task metrics, so
  * "more cores made it slower" can be attributed to GC, shuffle fetch,
  * scheduler overhead, or task-count explosion instead of guessed at.
  * After each query's last run it lists that run's 15 longest stages.
  *
  *   SPARK_GRAFT_CPUS=32 runMain graft.tools.ScalingLab q119_triangle_counts 2 [sfDir]
  */
object ScalingLab {
  final class Agg extends SparkListener {
    val tasks = new LongAdder
    val stages = new LongAdder
    val runMs = new LongAdder        // executorRunTime
    val gcMs = new LongAdder         // jvmGCTime
    val cpuMs = new LongAdder        // executorCpuTime (ns -> ms)
    val fetchWaitMs = new LongAdder  // shuffleReadMetrics.fetchWaitTime
    val shuffleWriteMs = new LongAdder
    val deserMs = new LongAdder
    val resultSerMs = new LongAdder
    val shuffleReadB = new LongAdder
    val shuffleWriteB = new LongAdder
    val spillB = new LongAdder
    val peakMem = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        tasks.increment()
        runMs.add(m.executorRunTime)
        gcMs.add(m.jvmGCTime)
        cpuMs.add(m.executorCpuTime / 1000000L)
        fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        shuffleWriteMs.add(m.shuffleWriteMetrics.writeTime / 1000000L)
        deserMs.add(m.executorDeserializeTime)
        resultSerMs.add(m.resultSerializationTime)
        shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
        spillB.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
    val stageInfo = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long)]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.increment()
      val si = sc.stageInfo
      stageInfo.add((si.stageId, si.name.takeWhile(_ != '\n').take(60),
        si.numTasks, si.taskMetrics.executorRunTime))
    }
    def report(wallSec: Double): String = {
      val run = runMs.sum() / 1e3
      f"wall=$wallSec%7.2fs stages=${stages.sum()}%4d tasks=${tasks.sum()}%6d " +
        f"runTime=$run%8.1fs cpu=${cpuMs.sum() / 1e3}%8.1fs gc=${gcMs.sum() / 1e3}%7.1fs " +
        f"fetchWait=${fetchWaitMs.sum() / 1e3}%6.1fs deser=${deserMs.sum() / 1e3}%6.1fs " +
        f"shufR=${shuffleReadB.sum() / 1000000L}%6dMB shufW=${shuffleWriteB.sum() / 1000000L}%6dMB " +
        f"spill=${spillB.sum() / 1000000L}%5dMB peakTaskMem=${peakMem.get() / 1e6}%5.0fMB"
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q119_triangle_counts").split(",").toSeq
    val n = args.lift(1).map(_.toInt).getOrElse(2)
    val d = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // A/B seam: extra session confs ride in as "k=v;k=v"
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONFS", "").split(";")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v) }.toSeq
    val spark = GraftSession.harness(cpus, extra: _*)
    spark.sparkContext.setLogLevel("ERROR")
    if (extra.nonEmpty) println(s"[scaling] extra confs: ${extra.mkString(", ")}")
    GraftSession.withTaskClassLoader(spark)(measure(spark, names, n, d, cpus))
    spark.stop()
  }

  private def measure(spark: SparkSession, names: Seq[String], n: Int, d: String,
      cpus: String): Unit =
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // Bench warmup discipline: JIT at the small SF, untimed
      try fn(spark, "/root/testdata/sf0.001").count(): Unit
      catch { case _: Throwable => () }
      println(s"[scaling] $name cpus=$cpus sf=$d")
      (1 to n).foreach { i =>
        spark.catalog.clearCache()
        val agg = new Agg
        spark.sparkContext.addSparkListener(agg)
        val t0 = System.nanoTime()
        fn(spark, d).count(): Unit
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async; give it a beat to drain before reporting
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(agg)
        println(f"[scaling] run$i ${agg.report(wall)}")
        if (i == n) {
          import scala.jdk.CollectionConverters._
          agg.stageInfo.asScala.toSeq.sortBy(-_._4).take(15).foreach {
            case (id, nm, nt, rt) =>
              println(f"[scaling]   stage $id%4d tasks=$nt%4d run=${rt / 1e3}%7.2fs $nm")
          }
        }
      }
    }
}
