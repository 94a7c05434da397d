package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftbridge.ClassicBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.core.GraftTable

/** The DSv2 `StreamingWrite` for named graft tables
  * (`writeStream.toTable("graft.ns.t")` — [[graft.catalog.GraftCatalog]]):
  * a genuinely DISTRIBUTED streaming append. Each executor task streams
  * its partition straight into its own staged parquet file
  * ([[GraftRowFileWriter]], the one writer behind every GraftTable
  * write); the driver-side epoch commit folds the staged files into the
  * manifest through [[GraftTable.commitWritten]] — the same
  * writer-recorded stats and blooms, CHECK step, and stream-HWM
  * exactly-once CAS loop as the V1 path sink, but with ZERO row traffic
  * through the driver.
  *
  * At 100 TB the shape is the right one: a 1000-task micro-batch
  * writes 1000 files in parallel, the commit is one manifest CAS of
  * O(batch files) entries, and a replayed epoch (at-least-once
  * delivery) deletes its re-staged files against the high-water mark
  * instead of double-appending. Task-attempt uniqueness rides the
  * file name (`ep<epoch>-p<partition>-t<taskId>`); with the commit
  * coordinator on, exactly one attempt per partition reports its file.
  * Attempts that die before abort leave dot-staged orphans — invisible
  * to every read (the manifest is the catalog), reclaimed by vacuum. */
private[graft] class GraftStreamingWrite(path: String, streamId: String,
    schema: StructType, statsCols: Seq[String], bloomCols: Seq[String],
    spark: SparkSession) extends StreamingWrite {

  private val stageDir = new File(path, ".stage-stream")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    stageDir.mkdirs()
    new GraftStreamWriterFactory(stageDir.getAbsolutePath,
      ClassicBridge.parquetWriteConf(spark, schema),
      GraftTable.fileStatsSpec(spark, path, schema, statsCols, bloomCols))
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case w: GraftWrittenFile if w.file.nonEmpty => w }.toSeq
    GraftTable.commitWritten(spark, path, "stream_append", files, schema,
      mark = Some(streamId -> epochId)): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case w: GraftWrittenFile if w.file.nonEmpty => new File(w.file).delete(): Unit
      case _ => ()
    }

  override def toString: String = s"GraftStreamingWrite[$path]"
}

/** One staged file per committed task attempt, with what its writer
  * recorded of it ([[GraftRowFileWriter]]): its row count, the stats of
  * its [[FileStatsSpec]] columns (and the bucket id under
  * [[GraftTable.BucketStatCol]] when every row fell in one bucket), and
  * each bloom column's bitmap at `GraftTable.MaxBloomBits`. An empty
  * path means the task saw no rows (no zero-row parquet files are ever
  * created). */
private[graft] case class GraftWrittenFile(file: String, rows: Long = 0L,
    stats: Map[String, GraftTable.ColStats] = Map.empty,
    blooms: Map[String, Array[Byte]] = Map.empty) extends WriterCommitMessage

/** What a [[GraftRowFileWriter]] records of each file it writes, resolved
  * once on the driver before the write ([[GraftTable.fileStatsSpec]]):
  * the stats columns by (name, ordinal, type), the bucket-id expression,
  * and each bloom column's (name, ordinal, positions expression) — both
  * expressions analyzed and bound to the written rows' ordinals. */
private[graft] case class FileStatsSpec(stats: Seq[(String, Int, DataType)],
    bucket: Option[Expression], blooms: Seq[(String, Int, Expression)])

private[graft] object FileStatsSpec {
  /** Records the row count only. */
  val Empty: FileStatsSpec = FileStatsSpec(Nil, None, Nil)
}

private[graft] class GraftStreamWriterFactory(stageDir: String,
    conf: SerializableConfiguration, spec: FileStatsSpec) extends StreamingDataWriterFactory {
  // per-run discriminator: after an app restart replaying the same epoch,
  // task IDs restart near 0 and would collide with orphans a dead attempt
  // left in the stage dir (ParquetWriter CREATE mode fails the task) — the
  // same commitId discipline the batch writers use
  private val runId = java.util.UUID.randomUUID.toString.take(8)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftRowFileWriter(stageDir, s"ep$epochId-r$runId", partitionId, taskId, conf, spec)
}

/** The per-task writer behind every GraftTable write (streaming epochs,
  * batch INSERTs — [[GraftBatchWriterFactory]] — row-level COW and MOR
  * writes, and the Scala API's staged writes, `GraftTable.stageFiles`):
  * lazily opens its parquet file on the first row (an empty partition
  * stages nothing) and streams rows through Spark's write support (no
  * buffering beyond parquet's own row groups). As each row goes by it
  * records what the manifest keeps of the file ([[GraftWrittenFile]]):
  *
  *  - per stats column, the null count and the min and max under the
  *    type's Spark SQL ordering (NaN largest, -0.0 equal to 0.0, the
  *    first of equal values kept), converted to external values by
  *    Spark's converter and encoded by `GraftTable.encode` — the same
  *    strings a grouped `min`/`max` over the file collects;
  *  - the bucket id `pmod(hash(cols), n)`, kept only when every row
  *    had the same one;
  *  - per bloom column, the positions `GraftTable.bloomPositions` gives
  *    each non-null value at `MaxBloomBits`, OR-ed into one bitmap (the
  *    commit folds it down to the batch's bloom size). */
private[graft] class GraftRowFileWriter(stageDir: String, namePrefix: String,
    partitionId: Int, taskId: Long, conf: SerializableConfiguration, spec: FileStatsSpec)
    extends DataWriter[InternalRow] {

  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var file: File = _
  private var rows = 0L

  private val statCols = spec.stats.toArray
  private val orderings = statCols.map(c => PhysicalDataType.ordering(c._3))
  private val mins = new Array[Any](statCols.length)
  private val maxs = new Array[Any](statCols.length)
  private val nulls = new Array[Long](statCols.length)
  private var bucketLo = Int.MaxValue
  private var bucketHi = Int.MinValue
  private val bloomCols = spec.blooms.toArray
  private val bloomBits = bloomCols.map(_ => new Array[Byte](GraftTable.MaxBloomBits / 8))

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      file = new File(stageDir, f"$namePrefix-p$partitionId%05d-t$taskId.parquet")
      writer = ClassicBridge.parquetRowWriter(conf.value, file.getAbsolutePath)
    }
    writer.write(row)
    rows += 1
    record(row)
  }

  private def record(row: InternalRow): Unit = {
    var i = 0
    while (i < statCols.length) {
      val (_, ordinal, dt) = statCols(i)
      if (row.isNullAt(ordinal)) nulls(i) += 1
      else {
        val v = row.get(ordinal, dt)
        if (mins(i) == null || orderings(i).lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
        if (maxs(i) == null || orderings(i).gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
      }
      i += 1
    }
    spec.bucket.foreach { e =>
      val b = e.eval(row).asInstanceOf[Int]
      bucketLo = math.min(bucketLo, b)
      bucketHi = math.max(bucketHi, b)
    }
    i = 0
    while (i < bloomCols.length) {
      val (_, ordinal, positions) = bloomCols(i)
      if (!row.isNullAt(ordinal)) {
        val ps = positions.eval(row).asInstanceOf[ArrayData]
        val bits = bloomBits(i)
        var j = 0
        while (j < ps.numElements) {
          val p = ps.getLong(j).toInt
          bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte
          j += 1
        }
      }
      i += 1
    }
  }

  override def commit(): GraftWrittenFile = {
    if (writer == null) return GraftWrittenFile("")
    writer.close()
    ClassicBridge.recordTaskOutput(file.length, rows)
    val stats = statCols.indices.map { i =>
      val (name, _, dt) = statCols(i)
      val tag = GraftTable.statTag(dt).get
      val toScala = CatalystTypeConverters.createToScalaConverter(dt)
      def bound(v: Any) = Option(v).map(b => GraftTable.encode(tag, toScala(b)))
      name -> GraftTable.ColStats(tag, bound(mins(i)), bound(maxs(i)), nulls(i))
    }.toMap
    val bucket = spec.bucket.filter(_ => bucketLo == bucketHi).map(_ =>
      GraftTable.BucketStatCol ->
        GraftTable.ColStats("int", Some(bucketLo.toString), Some(bucketLo.toString), 0L))
    GraftWrittenFile(file.getAbsolutePath, rows, stats ++ bucket,
      bloomCols.map(_._1).zip(bloomBits).toMap)
  }

  override def abort(): Unit = if (writer != null) {
    try writer.close() catch { case _: Throwable => () }
    file.delete(): Unit
  }

  override def close(): Unit = ()
}
