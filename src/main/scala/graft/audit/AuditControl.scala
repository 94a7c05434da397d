package graft.audit

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp
import graft.core.TableIO
import graft.functions.SqlFunctions.EpochDate

/** One audit row per managed entity — schema per the reference's
  * `initialized_audit` macro (/root/reference/macros/audit_management/
  * initialized_audit.sql:5-14), keyed by `dimension_name` (reference bug B3
  * resolved in favor of the macro pair the models actually run). */
case class AuditInfo(
    dimensionName: String,
    driverTable: String,
    businessKey: String,
    hwmDate: Timestamp,
    lastProcessedDate: Option[Timestamp],
    isProcessed: Boolean,
    isInitialized: Boolean)

/** High-watermark CDC state (SURVEY §2.2 C4-C6, C9).
  *
  * Reference lifecycle: pre-hook `initialized_audit` (create-if-missing +
  * idempotent register, initialized_audit.sql:17-25), compile-time
  * `get_audit_info` read (get_audit_info.sql:3-38), post-hook
  * `updating_audit` (updating_audit.sql:5-12, hwm = max(updated_at)).
  *
  * State lives in one tiny parquet table; every op is a driver-side
  * read-modify-write — O(#entities) rows, never a scale concern.
  */
class AuditControl(spark: SparkSession, root: String) {
  import AuditControl._
  private val path = s"$root/audit_control"

  def table: DataFrame =
    if (TableIO.exists(path)) TableIO.readParquet(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** C4: idempotent registration (INSERT ... WHERE NOT EXISTS ≡ left_anti). */
  def ensureRegistered(entity: String, driverTable: String, businessKey: String): Unit =
    ensureRegisteredAll(Seq((entity, driverTable, businessKey)))

  /** Batch registration: one audit read-modify-write for a whole DAG level
    * instead of one per model (the audit table is tiny; the cost is the
    * serialized driver round-trips, not the rows). */
  def ensureRegisteredAll(entries: Seq[(String, String, String)]): Unit = {
    val rows = spark.createDataFrame(
      java.util.List.of(entries.map { case (e, d, k) =>
        Row(e, d, k, Timestamp.valueOf(s"$EpochDate 00:00:00"), null, false, true)
      }: _*), schema)
    val merged = table.unionByName(rows.join(table, Seq("dimension_name"), "left_anti"))
    // O(#entities) rows: single output file, not one per shuffle partition
    TableIO.overwriteAtomic(merged.coalesce(1), path)
  }

  /** C5: fetch entity state; epoch-default HWM when absent. */
  def info(entity: String): AuditInfo = infoAll(Seq(entity))(entity)

  /** Batch state fetch: one audit read for a whole DAG level. */
  def infoAll(entities: Seq[String]): Map[String, AuditInfo] = {
    val present = table.filter(col("dimension_name").isin(entities: _*)).collect()
      .map { r =>
        r.getString(0) -> AuditInfo(r.getString(0), r.getString(1), r.getString(2),
          r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5), r.getBoolean(6))
      }.toMap
    entities.map(e => e -> present.getOrElse(e, AuditInfo(e, "", "",
      Timestamp.valueOf(s"$EpochDate 00:00:00"), None, false, false))).toMap
  }

  /** C6: advance the HWM after a successful load; `at` stamps
    * `last_processed_date`. */
  def markProcessed(entity: String, hwm: Timestamp, at: Column): Unit =
    markProcessedAll(Map(entity -> hwm), at)

  /** Batch HWM advance: one audit read-modify-write per DAG level. `at`
    * stamps `last_processed_date`: a constant instant keeps the audit file
    * byte-identical across runs, `current_timestamp()` records wall clock. */
  def markProcessedAll(hwms: Map[String, Timestamp], at: Column): Unit = {
    if (hwms.isEmpty) return
    val touched = col("dimension_name").isin(hwms.keys.toSeq: _*)
    val hwmExpr = hwms.foldLeft(col("hwm_date")) { case (acc, (e, h)) =>
      when(col("dimension_name") === e, lit(h)).otherwise(acc)
    }
    val updated = table.withColumn("hwm_date", hwmExpr)
      .withColumn("last_processed_date",
        when(touched, at).otherwise(col("last_processed_date")))
      .withColumn("is_processed", when(touched, lit(true)).otherwise(col("is_processed")))
    TableIO.overwriteAtomic(updated.coalesce(1), path)
  }

  /** C9: processing range derived from audit state vs a target date. */
  def processingRange(entity: String, target: java.time.LocalDate): ProcessingRange = {
    val i = info(entity)
    val start = i.hwmDate.toLocalDateTime.toLocalDate
    val days = java.time.temporal.ChronoUnit.DAYS.between(start, target)
    ProcessingRange(start, target, days, days > 0)
  }
}

case class ProcessingRange(start: java.time.LocalDate, end: java.time.LocalDate,
    totalDays: Long, needsProcessing: Boolean)

object AuditControl {
  val schema: StructType = StructType(Seq(
    StructField("dimension_name", StringType, nullable = false),
    StructField("driver_table", StringType),
    StructField("business_key", StringType),
    StructField("hwm_date", TimestampType),
    StructField("last_processed_date", TimestampType),
    StructField("is_processed", BooleanType),
    StructField("is_initialized", BooleanType)))
}
