package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` classic-session internals the
  * SQL DML router needs (the same seam Delta/Iceberg open with their
  * own `org.apache.spark.sql.*` shim files): wrap a Catalyst expression
  * as a public [[Column]], resolve a parsed logical plan to a
  * [[DataFrame]], translate a predicate the way filter pushdown does,
  * and clone a session. */
object ClassicBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expr(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Spark's own Catalyst → `sources.Filter` translator, the one V2
    * filter pushdown runs: `InSet` becomes `In`, a literal on the left
    * flips, values are external Scala values; top-level columns only.
    * None when any part of `e` has no `sources.Filter` form. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy.translateFilter(
      e, supportNestedPredicatePushdown = false)

  /** A child of `spark` carrying its confs, catalog, cache and optimizer
    * hooks; changes to the child never reach `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Rebind a streaming micro-batch's ALREADY-COMPUTED rows as a batch
    * DataFrame (the `Sink.addBatch` contract hands a DF that cannot be
    * re-planned for a batch write) — the standard V1-sink capture:
    * `toRdd` of the executed batch, wrapped without recompute. */
  def capturedBatch(data: DataFrame): DataFrame = {
    val spark = data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rows = data.queryExecution.toRdd.map(_.copy())
    spark.internalCreateDataFrame(rows, data.schema, isStreaming = false)
  }

  /** Re-bind `df`'s (already analyzed) plan to a FRESH clone of its
    * session whose only divergence is
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` — so the
    * driver staging write emits standard INT64-micros timestamps (INT96
    * footers carry no usable stats) WITHOUT mutating the user's session
    * conf: a save/set/restore on the shared session races concurrent
    * writers (the loser's restore clobbers the winner's) and briefly
    * changes the format of unrelated `df.write.parquet` calls on other
    * threads. The clone is created per staged write rather than cached:
    * `cloneSession` copies the CURRENT session conf, so later user
    * changes (rebase modes, compression codec, ANSI flags) reach every
    * subsequent staged write, and nothing retains the clone past the
    * write — a cached clone would both freeze the conf at first use and
    * pin the parent session's state for the JVM lifetime. The clone
    * shares the SparkContext and the analyzed plan needs no
    * re-resolution; its cost is a conf/state copy, noise next to the
    * write job it fronts. */
  def withMicrosTimestampWrites(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = classic.cloneSession()
    clone.conf.set(
      org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      "TIMESTAMP_MICROS")
    org.apache.spark.sql.classic.Dataset.ofRows(clone, df.queryExecution.analyzed)
  }

  // ----------------------------------------------- executor parquet writing

  /** A serializable Hadoop conf carrying everything
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
    * reads at `init` — the row schema plus the session's parquet write
    * dialect (legacy format, timestamp encoding, rebase modes, zone) —
    * so an executor-side writer produces files BIT-COMPATIBLE with the
    * driver's `df.write.parquet` staging path. Built once on the driver,
    * shipped inside the writer factory. */
  def parquetWriteConf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.util.SerializableConfiguration = {
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = classic.sessionState.newHadoopConf()
    val sql = classic.sessionState.conf
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    // always standard INT64 micros, never legacy INT96 — matches the
    // driver staging path (GraftTable.stageFiles forces the same), and
    // INT96 footers carry no min/max for the footer-stats fast path
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set("spark.sql.parquet.compression.codec", sql.parquetCompressionCodec)
    new org.apache.spark.util.SerializableConfiguration(conf)
  }

  /** An executor-side [[org.apache.parquet.hadoop.ParquetWriter]] of
    * [[org.apache.spark.sql.catalyst.InternalRow]]s — Spark's own write
    * support over parquet-mr's builder, opened directly by a streaming
    * `DataWriter` task (no driver round-trip, no shuffle: each task
    * streams its partition straight to its own file). */
  def parquetRowWriter(conf: org.apache.hadoop.conf.Configuration, file: String)
      : org.apache.parquet.hadoop.ParquetWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.parquet.hadoop.ParquetWriter
    import org.apache.parquet.hadoop.api.WriteSupport
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    class B(p: org.apache.hadoop.fs.Path) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
          : WriteSupport[InternalRow] = new ParquetWriteSupport()
    }
    new B(new org.apache.hadoop.fs.Path(file))
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName
        .fromConf(conf.get("spark.sql.parquet.compression.codec", "snappy")))
      .build()
  }
}
