package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.TableIO

/** Bronze-layer readers for the driver testdata star schema (TESTDATA.md).
  * One parquet file per table; scans are plain parquet relations
  * ([[TableIO.readParquet]]: schema from the footer, no inference job) so
  * Catalyst's pushdown/pruning applies (SURVEY S1/S2).
  */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    TableIO.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")

  /** `events.ts` has changed physical type across testdata generations:
    * originally a nanosecond parquet timestamp (readable only as a long via
    * the legacy flag), now a microsecond TIMESTAMP_NTZ. Branch on the type
    * Spark actually inferred and normalize either way to microsecond
    * TimestampType plus an explicit `ts_us` epoch-micros column, so every
    * downstream consumer sees one stable schema. Values stay bit-identical
    * to DuckDB's `epoch_us(ts)` read: ns→us is floor division (what DuckDB
    * does on a ns file) and the NTZ→TZ cast is value-preserving under the
    * UTC-pinned session every entrypoint sets. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long file
        df.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case TimestampNTZType | TimestampType => // regenerated µs file
        df.withColumn("ts_us", unix_micros(col("ts").cast(TimestampType)))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unexpected parquet type $other (expected long ns or timestamp µs)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
