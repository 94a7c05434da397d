package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload hands back: its end-to-end metrics except `setup_s`
  * (the runner adds it), and its per-layer metrics except the JVM's and
  * the Spark/driver ledger (the runner adds those in a traced run). */
final case class Outcome(endToEnd: Map[String, Double], layers: Map[String, Double],
    ledgerOps: Seq[OpRec], ledgerUnits: Double)

/** One benchmark run: a single client issuing ops back to back (closed
  * loop). Every op is timed from the benchmark's own code around one call
  * into a module's public function; its output is checked untimed, and an
  * op that throws or returns a wrong output counts as failed and is left
  * out of every latency sample. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double, val work: File) {
  val rng = new scala.util.Random(seed)
  val ops = ArrayBuffer.empty[OpRec]
  var attempted = 0
  var failed = 0
  /** Set-up seconds the workload measured itself: the median fixture time. */
  var setupS = 0.0
  private var loopStartNs = 0L

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  def note(what: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis - jvmStartMs) / 1e3}%7.2f s  $what")

  def startLoop(): Unit = loopStartNs = System.nanoTime
  def loopSeconds: Double = (System.nanoTime - loopStartNs) / 1e9

  def op[A](kind: String, cls: String)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val res = try Right(body) catch {
      case NonFatal(e) => e.printStackTrace(); Left(s"$kind threw $e")
    }
    val ms = (System.nanoTime - t0) / 1e6
    val endMs = System.currentTimeMillis
    res.flatMap(a => (try check(a) catch { case NonFatal(e) => Some(s"$kind check threw $e") })
      .toLeft(a)) match {
      case Right(a) =>
        ops += OpRec(ops.size, kind, cls, startMs, endMs, ms)
        Some(a)
      case Left(msg) =>
        failed += 1
        println(s"[perfbench] FAILED: $msg")
        None
    }
  }

  /** An untimed output check that is not tied to one op (end-state checks). */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case NonFatal(e) => println(s"[perfbench] $e"); false }
    if (!pass) { failed += 1; println(s"[perfbench] FAILED: $what") }
  }

  /** Drop already-sampled ops whose output a later check rejected. */
  def reject(ids: Set[Int], what: String): Unit = {
    val n = ops.count(o => ids.contains(o.id))
    ops.filterInPlace(o => !ids.contains(o.id))
    failed += n
    println(s"[perfbench] FAILED: $what")
  }

  /** `f` over `xs` as concurrent Spark jobs, for untimed checks. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }

  def ms(cls: String): Seq[Double] = ops.filter(_.cls == cls).map(_.ms).toSeq
  def msOf(kind: String): Seq[Double] = ops.filter(_.kind == kind).map(_.ms).toSeq
  /** Ops after the initial load, warm-ups aside, per second of their summed time. */
  def opsPerSecond: Double = {
    val timed = ops.filter(o => o.cls != "load" && o.cls != "warm")
    timed.size / (timed.map(_.ms).sum / 1e3)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))
    val data = new File(opt("data"))
    val cpus = opt("cpus")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    work.mkdirs()

    // graft.Bench's session: GraftSession's required confs plus Bench's own
    // four; the local and warehouse dirs only keep Spark's scratch files
    // inside the benchmark's working directory
    val builder = graft.GraftSession.configure(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
    val spark = (workload match {
      case "nw_build" => builder
      case "table_dml" => TableDml.configure(builder, work)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1e3

    val trace = if (!traced) None else {
      val t = new SparkTrace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    }
    val run = new Run(spark, opt("seed").toLong, opt("seconds").toDouble, work)
    val out = workload match {
      case "nw_build" => NwBuild.run(run, data, new File(opt("expected")),
        opt.get("record").map(new File(_)))
      case "table_dml" => TableDml.run(run, data)
    }
    val endToEnd = out.endToEnd + ("setup_s" -> (sessionS + run.setupS))
    val metrics: Seq[(String, Double, String)] = trace match {
      case None => Units.endToEnd.map { case (k, u) => (k, endToEnd(k), u) }
      case Some(t) =>
        org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        val l = SparkTrace.ledger(t, out.ledgerOps, out.ledgerUnits)
        opt.get("spans").foreach { p =>
          Files.write(new File(p).toPath, l.spans.mkString("", "\n", "\n").getBytes(UTF_8))
        }
        val layers = out.layers ++ l.metrics ++ Map(
          "jvm.peak_rss_mb" -> peakRssMb,
          "nw.cycle1.stages" -> l.stagesByKind.getOrElse("cycle1", 0.0),
          "nw.cycle2.stages" -> l.stagesByKind.getOrElse("cycle2", 0.0))
        // the traced run's own end-to-end numbers, for the tracing overhead
        println("PERFBENCH_TRACED_E2E " + Json(endToEnd))
        Units.perLayer.map { case (k, u) => (k, layers(k), u) }
    }
    println(s"[perfbench] samples: ${run.ops.groupBy(_.cls).toSeq.sortBy(_._1)
      .map { case (c, os) => s"$c=${os.size}" }.mkString(" ")}")
    println("PERFBENCH_RESULT " + Json(ListMap(
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
    spark.stop()
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** The metric names and units, in the order `BENCHMARK.json` lists them. */
object Units {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "load_s" -> "s", "change_mean_ms" -> "ms", "read_mean_ms" -> "ms",
    "ops_per_s" -> "1/s", "write_amp" -> "ratio", "space_amp" -> "ratio")

  val readKinds: Seq[String] = Seq("pruned_range", "bloom_point", "time_travel", "sql_tvf",
    "catalog_read", "meta_agg", "asof_star")
  val commitKinds: Seq[String] = Seq("upsert", "delete", "update", "merge", "change_set",
    "change_set_empty", "mor_delete", "mor_update", "mor_merge", "maintenance")

  val perLayer: Seq[(String, String)] = Seq(
    "jvm.peak_rss_mb" -> "MB",
    "driver.self_ms" -> "ms", "driver.actions" -> "count", "driver.analysis_ms" -> "ms",
    "driver.optimization_ms" -> "ms", "driver.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.cpu_over_run" -> "ratio",
    "spark.task_gc_s" -> "s", "spark.task_deser_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB") ++
    SparkTrace.Files.map(f => s"spark.stage_run_s.$f" -> "s") ++
    Seq("nw.cycle1.stages" -> "count", "nw.cycle2.stages" -> "count") ++
    NwBuild.Dirs.flatMap(d => Seq(s"storage.$d.files" -> "count", s"storage.$d.mb" -> "MB")) ++
    Seq("storage.files_planned" -> "count", "storage.files_skipped_ratio" -> "ratio",
      "storage.table_files" -> "count", "storage.dv_files" -> "count",
      "storage.manifest_kb" -> "KB", "storage.empty_files_added" -> "count") ++
    readKinds.map(k => s"read.$k.p50_ms" -> "ms") ++
    Seq("read.after_write.p50_ms" -> "ms") ++
    commitKinds.map(k => s"commit.$k.p50_ms" -> "ms")

  /** Every per-layer metric a workload does not measure reads 0. */
  def zeroLayers: Map[String, Double] = perLayer.map(_._1 -> 0.0).toMap
}
