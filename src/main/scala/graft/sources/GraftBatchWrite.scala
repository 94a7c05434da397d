package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering,
  WriterCommitMessage}
import org.apache.spark.sql.graftbridge.ClassicBridge
import org.apache.spark.util.SerializableConfiguration

import graft.core.GraftTable

/** The DSv2 `Write` for named graft tables — a REAL distributed batch
  * write (`INSERT INTO graft.ns.t`, `INSERT OVERWRITE`, CTAS/RTAS
  * through the staging catalog, `df.writeTo("graft.ns.t").append()`),
  * replacing the old `V1Write`/`InsertableRelation` fallback.
  *
  * Two structural wins over the V1 shape:
  *
  *  - '''No second write of the data.''' The V1 path received the whole
  *    DataFrame on the driver side of the API and re-ran it through
  *    `df.write.parquet` into a stage dir — a separate job over the
  *    same rows. Here each executor task streams its partition straight
  *    into its own staged parquet file ([[GraftRowFileWriter]] — the
  *    same writer the Scala API's staged writes use); the commit is one
  *    manifest CAS over O(batch files) entries. At 100 TB the insert's
  *    own tasks ARE the write.
  *  - '''The layout is planned, not re-imposed.''' A table declaring
  *    `graft.bucketBy` reports [[requiredDistribution]] clustered on
  *    the bucket columns with [[requiredNumPartitions]] = numBuckets,
  *    so Catalyst plans ONE hash shuffle whose partition id IS the
  *    bucket id (`pmod(murmur3(key, 42), n)` —
  *    `HashPartitioning.partitionIdExpression`, the exact identity
  *    [[graft.catalog.GraftBoundBucket]] is defined by). Every staged
  *    file is single-bucket by construction, the manifest records its
  *    bucket id, and storage-partitioned joins keep engaging after
  *    plain SQL INSERTs — no OPTIMIZE round-trip to restore the layout.
  *    [[requiredOrdering]] sorts within the bucket so parquet row-group
  *    stats on the key stay tight (the same consolation prize the
  *    Scala API's bucketed writes buy with `sortWithinPartitions`).
  *
  * Stats, blooms and bucket ids are recorded by the writer itself, for
  * the columns [[GraftTable.fileStatsSpec]] resolves before the write
  * (explicit plus property-declared indexing); the CHECK step and the
  * commit CAS are the same as every other staged write's
  * ([[GraftTable.commitWritten]]). Streaming writes keep the
  * epoch-committing [[GraftStreamingWrite]] — same steps, plus the
  * exactly-once high-water mark.
  *
  * Reference analogue: every model materializes through a plain SQL
  * INSERT/CTAS into a Snowflake table whose clustering survives the
  * write (`models/dwh/fact_order.sql:37-42` banks on it); here the
  * declared bucket layout survives stock-session SQL writes the same
  * way. */
private[graft] class GraftWrite(path: String, info: LogicalWriteInfo,
    overwriteAll: Boolean, statsCols: Seq[String], bloomCols: Seq[String])
    extends RequiresDistributionAndOrdering {

  /** Declared bucket layout, when every bucket column is present in the
    * incoming schema (the analyzer aligned INSERT schemas to the table,
    * so absence only happens on schema-evolving RTAS — which redefines
    * the layout anyway). */
  private val bucket: Option[(Seq[String], Int)] =
    GraftTable.bucketSpec(GraftTable.propertiesOf(path))
      .filter { case (cs, _) => cs.forall(info.schema().fieldNames.contains) }

  override def requiredDistribution(): Distribution = bucket match {
    // clustered on the RAW columns (not the bucket transform): Spark
    // plans HashPartitioning(cols, n), whose partition id is exactly
    // GraftBoundBucket's bucket id — one shuffle, single-bucket files,
    // no fanout writer needed
    case Some((cs, _)) =>
      Distributions.clustered(cs.map(c => Expressions.column(c)
        .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]).toArray)
    case None => Distributions.unspecified()
  }

  override def requiredNumPartitions(): Int = bucket.map(_._2).getOrElse(0)

  override def requiredOrdering(): Array[SortOrder] = bucket match {
    case Some((cs, _)) =>
      cs.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
    case None => Array.empty
  }

  override def toBatch: BatchWrite = new GraftBatchWrite(path, info.schema(),
    overwriteAll, statsCols, bloomCols)

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!overwriteAll,
      s"graft streaming writes are append-only — Complete mode would " +
        "truncate per epoch; use foreachBatch with the merge/SCD2 operators")
    new GraftStreamingWrite(path, "q:" + info.queryId, info.schema(),
      statsCols, bloomCols, SparkSession.active)
  }

  override def description(): String = s"GraftWrite $path" +
    (if (overwriteAll) " (overwrite)" else "")
}

/** The batch half of [[GraftWrite]]: one job stage dir, one
  * [[FileStatsSpec]] resolved on the driver for every task's
  * [[GraftRowFileWriter]], and one commit of the files those writers
  * report — their stats, bucket ids and blooms as recorded while they
  * wrote, so the commit reads no file. */
private[graft] class GraftBatchWrite(path: String,
    schema: org.apache.spark.sql.types.StructType, overwriteAll: Boolean,
    statsCols: Seq[String], bloomCols: Seq[String]) extends BatchWrite {

  // each job stages into ITS OWN subdir of .stage-insert: reclamation
  // can then be dir-granular, so one job's sweep can never race another
  // in-flight job file-by-file (a concurrent insert whose early task
  // files closed long before its own commit — multi-wave or straggler
  // jobs at the 100k-file scale — must not lose them to a sibling's
  // commit-time cleanup)
  private val stageRoot = new File(path, ".stage-insert")
  private val jobStageDir =
    new File(stageRoot, "job-" + java.util.UUID.randomUUID.toString.take(8))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    jobStageDir.mkdirs()
    val spark = SparkSession.active
    new GraftBatchWriterFactory(jobStageDir.getAbsolutePath,
      ClassicBridge.parquetWriteConf(spark, schema),
      GraftTable.fileStatsSpec(spark, path, schema, statsCols, bloomCols))
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case w: GraftWrittenFile if w.file.nonEmpty => w }.toSeq
    GraftTable.commitWritten(SparkSession.active, path,
      if (overwriteAll) "overwrite" else "append", files, schema): Unit
    // this job's subdir is now fully ours: the commit moved every named
    // file into data/, so whatever remains is our own dead task
    // attempts' orphans — reclaim the whole dir
    graft.core.TableIO.clearDir(jobStageDir.toString)
    // OPPORTUNISTIC foreign sweep, DIR-granular: a sibling job subdir
    // whose NEWEST entry is older than the orphan grace belongs to a
    // job that stopped writing long ago and never committed (a live
    // job commits promptly after its last task closes its file), so a
    // successful commit reclaims the whole subdir. Never touches
    // individual files inside a fresher subdir — [[GraftTable.vacuum]]
    // sweeps abandoned `.stage-*` trees on the same newest-mtime grace
    // as the backstop for tables that never see another insert.
    val cutoffMs = System.currentTimeMillis - GraftTable.DefaultOrphanGraceUs / 1000L
    Option(stageRoot.listFiles).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName != jobStageDir.getName &&
        GraftTable.newestMtimeMs(d) < cutoffMs)
      .foreach(d => graft.core.TableIO.clearDir(d.toString))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case w: GraftWrittenFile if w.file.nonEmpty => new File(w.file).delete(): Unit
      case _ => ()
    }
    graft.core.TableIO.clearDir(jobStageDir.toString)
  }

  override def toString: String = s"GraftBatchWrite[$path]"
}

private[graft] class GraftBatchWriterFactory(stageDir: String,
    conf: SerializableConfiguration, spec: FileStatsSpec) extends DataWriterFactory {
  // per-job discriminator: retried tasks of a dead job must not collide
  // with its orphans in the stage dir (ParquetWriter CREATE mode fails
  // the task) — same discipline as the streaming factory
  private val runId = java.util.UUID.randomUUID.toString.take(8)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftRowFileWriter(stageDir, s"ins-r$runId", partitionId, taskId, conf, spec)
}
