package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the `private[parquet]` footer-to-schema calls
  * that Spark's parquet schema inference runs inside its one-task probe
  * job (`mergeSchemasInParallel`): read footers, convert them with the
  * session's parquet conf (binary-as-string, INT96, NTZ inference,
  * nanos-as-long), merge. Calling them on the driver yields the same
  * schema without launching a job. Nothing else crosses this boundary. */
object FooterSchemaBridge {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The session's Hadoop conf, as Spark's own file listing sees it. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    classic(spark).sessionState.newHadoopConf()

  /** `spark.sql.parquet.mergeSchema`: infer from every data file, not one. */
  def mergeSchema(spark: SparkSession): Boolean =
    classic(spark).sessionState.conf.isParquetSchemaMergingEnabled

  /** The merged Spark schema of `files`' footers; None when no footer was
    * readable (only possible under `spark.sql.files.ignoreCorruptFiles`). */
  def readSchema(spark: SparkSession, conf: org.apache.hadoop.conf.Configuration,
      files: Seq[FileStatus]): Option[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, files, classic(spark).sessionState.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }
}
