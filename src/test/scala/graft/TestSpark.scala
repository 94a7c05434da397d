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

  def df(schema: String, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))
}
