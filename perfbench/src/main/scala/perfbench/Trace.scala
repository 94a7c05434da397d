package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a module's public function, as the benchmark saw it. */
final case class OpRec(id: Int, kind: String, cls: String, startMs: Long, endMs: Long, ms: Double)

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int], execId: Option[Long])
final case class StageRec(stageId: Int, name: String, numTasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, deserMs: Long, shuffleWriteB: Long, inputB: Long, outputB: Long)
final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** The traced run's view of Spark from outside the program: a
  * `SparkListener` for jobs, stages and their task metrics, and a
  * `QueryExecutionListener` for actions and their Catalyst phase times.
  * Everything is kept in memory and attributed to ops by wall-clock
  * interval after the timed loop ends (one client, so ops never overlap). */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val jobEndMs = new ConcurrentHashMap[Int, java.lang.Long]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val execSite = new ConcurrentHashMap[java.lang.Long, String]
  val qes = new ConcurrentLinkedQueue[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs.add(JobRec(e.jobId, e.time, e.stageIds, exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEndMs.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages.add(StageRec(si.stageId, si.name, si.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis else ph.values.map(_.startTimeMs).min
    qes.add(QeRec(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
}

object SparkTrace {
  /** Source files a stage is attributed to; any other call site is `other`. */
  val Files: Seq[String] = Seq("TableIO", "Scd2", "AsOf", "NorthwindWarehouse",
    "AuditControl", "GraftTable", "other")

  private val SiteFile = """ at ([\w$]+)\.(?:scala|java):\d+""".r.unanchored

  def fileOf(site: String): String = site match {
    case SiteFile(f) if Files.contains(f) => f
    case _ => "other"
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, end = lo
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(iv => iv._2 > iv._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total - lo
  }

  final case class Ledger(metrics: Map[String, Double], spans: Seq[String],
      stagesByKind: Map[String, Double])

  /** Layer ledger over `ops`, divided by `units` (builds or ops), plus the
    * span list {name, start, end, parent, op_id} the traced run writes
    * out: one span per op and one child span per Spark job it ran. */
  def ledger(t: SparkTrace, ops: Seq[OpRec], units: Double): Ledger = {
    val jobs = t.jobs.asScala.toSeq
    val stageById = t.stages.asScala.map(s => s.stageId -> s).toMap
    def opOf(ms: Long): Option[OpRec] = ops.find(o => ms >= o.startMs && ms <= o.endMs)
    val jobsByOp = jobs.groupBy(j => opOf(j.startMs).map(_.id).getOrElse(-1))
    val qesByOp = t.qes.asScala.toSeq.groupBy(q => opOf(q.startMs).map(_.id).getOrElse(-1))
    val n = math.max(units, 1.0)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val spans = Seq.newBuilder[String]
    val stagesByKind = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // a stage shared by several jobs (a reused shuffle) counts once
    val seen = scala.collection.mutable.Set.empty[Int]
    ops.foreach { o =>
      val js = jobsByOp.getOrElse(o.id, Nil)
      val ivs = js.map(j => (j.startMs, Option(t.jobEndMs.get(j.jobId)).map(_.longValue)
        .getOrElse(o.endMs)))
      acc("driver.self_ms") += (o.endMs - o.startMs) - covered(ivs, o.startMs, o.endMs)
      spans += Json(ListMap("name" -> o.kind, "start" -> o.startMs, "end" -> o.endMs,
        "parent" -> null, "op_id" -> o.id))
      js.zip(ivs).foreach { case (j, (s, e)) =>
        val site = j.execId.flatMap(id => Option(t.execSite.get(id)))
          .getOrElse(j.stageIds.flatMap(stageById.get).map(_.name).headOption.getOrElse(""))
        spans += Json(ListMap("name" -> s"job:${fileOf(site)}", "start" -> s, "end" -> e,
          "parent" -> o.kind, "op_id" -> o.id))
        j.stageIds.filter(seen.add).flatMap(stageById.get).foreach { st =>
          acc("spark.stages") += 1
          acc("spark.tasks") += st.numTasks
          acc("spark.task_run_s") += st.runMs / 1e3
          acc("spark.task_cpu_s") += st.cpuNs / 1e9
          acc("spark.task_gc_s") += st.gcMs / 1e3
          acc("spark.task_deser_s") += st.deserMs / 1e3
          acc("spark.shuffle_write_mb") += st.shuffleWriteB / 1e6
          acc("spark.input_mb") += st.inputB / 1e6
          acc("spark.output_mb") += st.outputB / 1e6
          acc(s"spark.stage_run_s.${fileOf(site)}") += st.runMs / 1e3
          stagesByKind(o.kind) += 1
        }
      }
      acc("spark.jobs") += js.size
      qesByOp.getOrElse(o.id, Nil).foreach { q =>
        acc("driver.actions") += 1
        acc("driver.analysis_ms") += q.analysisMs
        acc("driver.optimization_ms") += q.optimizationMs
        acc("driver.planning_ms") += q.planningMs
      }
    }
    val cpuOverRun =
      if (acc("spark.task_run_s") > 0) acc("spark.task_cpu_s") / acc("spark.task_run_s") else 0.0
    val keys = Seq("driver.self_ms", "driver.actions", "driver.analysis_ms",
      "driver.optimization_ms", "driver.planning_ms", "spark.jobs", "spark.stages",
      "spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
      "spark.task_deser_s", "spark.shuffle_write_mb", "spark.input_mb", "spark.output_mb") ++
      Files.map(f => s"spark.stage_run_s.$f")
    val perOp = keys.map(k => k -> acc(k) / n).toMap + ("spark.cpu_over_run" -> cpuOverRun)
    Ledger(perOp, spans.result(), stagesByKind.toMap.map { case (k, v) => k -> v / n })
  }
}
