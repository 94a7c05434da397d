package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftspec.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpecBase {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.jdk.CollectionConverters._

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Rows sorted by string rendering — order-insensitive comparisons. */
  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Spark jobs started while `body` runs, counted after the listener bus
    * has delivered every event. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  /** Files the EXECUTED scans of `q` planned, after running it: a graft
    * `BatchScan`'s `filesPlanned` driver metric (what the manifest
    * stats/blooms left to read), a plain parquet scan's `numFiles`. */
  def plannedFiles(q: DataFrame): Long = {
    q.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def find(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case s: QueryStageExec => find(s.plan)
      case f: FileSourceScanExec => Seq(f.metrics("numFiles").value)
      case b: BatchScanExec => b.metrics.get("filesPlanned").map(_.value).toSeq
      case o => o.children.flatMap(find)
    }
    find(q.queryExecution.executedPlan).sum
  }

  def df(schema: String, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))
}
