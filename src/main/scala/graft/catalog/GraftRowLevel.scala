package graft.catalog

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graftbridge.ClassicBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.GraftTable
import graft.core.GraftTable.{FileEntry, Manifest}
import graft.sources.{FileStatsSpec, GraftBatch, GraftBatchRead, GraftRowFileWriter,
  GraftWrittenFile}

/** STOCK-SESSION row-level SQL on catalog names — `UPDATE graft.ns.t
  * SET …`, `MERGE INTO graft.ns.t …`, and `DELETE` shapes
  * [[GraftNamedTable.canDeleteWhere]] refuses (subqueries) — via DSv2
  * [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]].
  * No extension parser required: Spark's own
  * `RewriteUpdateTable`/`RewriteMergeIntoTable`/`RewriteDeleteFromTable`
  * plan the GROUP-BASED (copy-on-write) protocol against this
  * operation's scan + write pair.
  *
  * Shape and scale contract:
  *  - the SCAN is the same manifest-planned vectorized
  *    [[graft.sources.GraftBatch]] as every named read, and the pushed
  *    command condition prunes FILES through the per-file stats/blooms
  *    — pushed filters on a row-level scan are group-granularity hints
  *    (a kept file returns ALL its live rows; a pruned file provably
  *    holds no matching row and is never rewritten). On a clustered
  *    layout an `UPDATE … WHERE date = X` rewrites the boundary files,
  *    not the table — the same blast radius as the Scala-API
  *    [[GraftTable.updateWhere]].
  *  - the WRITE is distributed (each task streams its partition into a
  *    staged parquet file — zero row traffic through the driver) and
  *    the commit is ONE manifest CAS replacing exactly the scanned
  *    files ([[GraftTable.replaceFilesCommit]]): concurrent appends
  *    rebase and survive; a concurrent rewrite of a scanned file
  *    refuses loudly.
  *  - MERGE pushes no usable condition (matching depends on the source
  *    join), so its scan keeps every candidate file — correct, with
  *    COW write amplification; `graft.deletionVectors` tables keep the
  *    O(changed rows) MOR path through the extension dialect.
  *
  * Reference analogue: the incremental models' merge semantics
  * (`models/dwh/fact_order.sql:1-7` — `unique_key` upsert) expressed
  * through the engine's own SQL front door. */
private[graft] class GraftRowLevelBuilder(path: String,
    info: RowLevelOperationInfo, mor: Boolean) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    if (mor) new GraftDeltaOperation(path, info.command)
    else new GraftGroupOperation(path, info.command)
}

/** Shared scan-side state of one statement's operation: the snapshot
  * the scan pinned and the files it planned. */
private[graft] trait GraftRowOpState {
  def path: String
  @volatile private[catalog] var pinned: Manifest = _
  @volatile private[catalog] var scanned: Seq[FileEntry] = _
}

/** One statement's operation instance: the scan records the snapshot it
  * pinned and the files it planned (driver-side), the write's commit
  * replaces exactly those files. */
private[graft] class GraftGroupOperation(val path: String, cmd: Command)
    extends RowLevelOperation with GraftRowOpState {

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this)

  /** BUCKET-LAYOUT DURABILITY through COW DML: the replace-data write
    * requires the SAME distribution + ordering as the insert path
    * ([[graft.sources.GraftWrite]]) whenever the table declares
    * `graft.bucketBy` — one hash shuffle whose partition id IS the
    * bucket id, so a stock-SQL UPDATE/MERGE's rewritten files land
    * single-bucket and storage-partitioned joins keep planning
    * zero-exchange after DML. Without it, one rewritten file mixing two
    * buckets silently degrades the WHOLE scan to shuffled joins
    * ([[graft.sources.GraftBatch.bucketedBy]]'s all-or-nothing rule). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        private val bucket: Option[(Seq[String], Int)] =
          GraftTable.bucketSpec(GraftTable.propertiesOf(path))
            .filter { case (cs, _) => cs.forall(info.schema().fieldNames.contains) }

        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution = bucket match {
          case Some((cs, _)) =>
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              cs.map(c => org.apache.spark.sql.connector.expressions.Expressions
                .column(c)
                .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression])
                .toArray)
          case None =>
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
        }

        override def requiredNumPartitions(): Int = bucket.map(_._2).getOrElse(0)

        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          bucket match {
            case Some((cs, _)) => cs.map(c =>
              org.apache.spark.sql.connector.expressions.Expressions.sort(
                org.apache.spark.sql.connector.expressions.Expressions.column(c),
                org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
              .toArray
            case None => Array.empty
          }

        override def toBatch: BatchWrite =
          new GraftReplaceDataWrite(GraftGroupOperation.this, info.schema)
      }
    }

  /** At least one metadata attribute makes Spark build the write-side
    * row projections (`DataAndMetadataWritingSparkTask`) — without one,
    * the raw rewrite rows (leading `__row_operation` marker) would
    * reach the writer unprojected. `_graft_file` also gives the
    * replace rows their provenance for free. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      graft.sources.GraftBatch.FileMetaCol))

  override def description(): String = s"GraftRowLevel($cmd, $path)"
}

private[graft] class GraftRowLevelScanBuilder(op: GraftRowOpState)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  // pin the manifest ONCE, here: both the pruned schema and the scan's
  // snapshot derive from the same read, so a schema-evolving commit
  // landing between builder and scan build can't make the projection
  // disagree with the pinned logical schema
  private val pinnedManifest: Manifest =
    GraftTable.currentManifest(op.path).getOrElse(
      throw new IllegalArgumentException(s"'${op.path}' is not a GraftTable"))
  private val tableSchema: StructType = StructType.fromDDL(pinnedManifest.schemaDdl)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  /** Group-granularity hints: accepted for the file-level stats prune,
    * all reported residual. The rewritten plan re-evaluates the full
    * condition itself — a kept file must (and does) return every live
    * row, matched or not. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters; filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftRowLevelScan(op, pinnedManifest, required, pushed)
}

private[graft] class GraftRowLevelScan(op: GraftRowOpState, m: Manifest,
    required: StructType, pushed: Array[Filter]) extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // the snapshot was pinned at builder construction (one manifest read
  // serves schema AND scan); record it and the planned file set NOW —
  // the write's commit replaces exactly these files
  private val logical = StructType.fromDDL(m.schemaDdl)
  @volatile private var runtime: Array[Filter] = Array.empty
  op.pinned = m
  op.scanned = recomputeKept()

  private def recomputeKept(): Seq[FileEntry] =
    new GraftBatch(SparkSession.active, op.path, m, logical, required,
      pushed ++ runtime).kept

  /** RUNTIME GROUP FILTERING (Spark's
    * `RowLevelOperationRuntimeGroupFiltering`): a dynamic subquery
    * computes the `_graft_file` set actually holding MATCHING rows and
    * pushes it here before partition planning — the group-based
    * rewrite then touches only files with true matches (not every
    * stats candidate), and MERGE stops rewriting the whole candidate
    * set. `op.scanned` narrows with it, so the commit replaces exactly
    * the filtered set. Over-keeping is safe; the file set itself is
    * exact (computed on this same pinned snapshot). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!required.fieldNames.contains(GraftBatch.FileMetaCol)) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftBatch.FileMetaCol))

  override def filter(filters: Array[Filter]): Unit = {
    runtime = runtime ++ filters
    op.scanned = recomputeKept()
  }

  override def readSchema(): StructType = required
  override def description(): String = s"GraftRowLevelScan ${op.path} v${m.version}"

  override def toBatch: Batch =
    new GraftBatch(SparkSession.active, op.path, m, logical, required,
      pushed ++ runtime)
}

/** Distributed replace-data write: per-task staged parquet (the same
  * executor writer as the streaming sink), one CAS commit swapping the
  * operation's scanned files for the staged output. */
private[graft] class GraftReplaceDataWrite(op: GraftGroupOperation,
    schema: StructType) extends BatchWrite {

  private val stageDir = {
    val d = new File(op.path, ".stage-rlo"); d.mkdirs(); d.getAbsolutePath
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    new GraftReplaceWriterFactory(stageDir, ClassicBridge.parquetWriteConf(spark, schema),
      GraftTable.fileStatsSpec(spark, op.path, schema))
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    require(op.scanned != null,
      s"row-level ${op.command} on '${op.path}': write committed before its scan planned")
    val staged = messages.collect { case w: GraftWrittenFile if w.file.nonEmpty => w }.toSeq
    GraftTable.replaceFilesCommit(SparkSession.active, op.path, op.scanned, staged, schema,
      op.command.toString.toLowerCase + "_rowlevel"): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case w: GraftWrittenFile if w.file.nonEmpty => new File(w.file).delete(): Unit
      case _ => ()
    }

  override def toString: String = s"GraftReplaceDataWrite[${op.path}]"
}

private[graft] class GraftReplaceWriterFactory(stageDir: String,
    conf: org.apache.spark.util.SerializableConfiguration, spec: FileStatsSpec)
    extends DataWriterFactory {
  private val runId = java.util.UUID.randomUUID.toString.take(8)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftRowFileWriter(stageDir, s"ep0-r$runId", partitionId, taskId, conf, spec)
}

/** DELTA-BASED (merge-on-read) row-level operation for tables with
  * `graft.deletionVectors=true` — stock-session `UPDATE`/`MERGE INTO`/
  * complex `DELETE` at O(changed rows), the same cost shape as the
  * extension dialect's MOR DML:
  *
  *  - the scan is the shared [[GraftRowLevelScanBuilder]] (manifest-
  *    planned, condition-pruned), and the ROW ID is
  *    (`_graft_file`, `_graft_pos`) — the per-file parquet row index
  *    the reader factory already generates;
  *  - updates are REPRESENTED as delete+insert
  *    ([[representUpdateAsDeleteAndInsert]]), so the writer only ever
  *    sees position deletes and row inserts: each task streams deleted
  *    positions into a staged (file, pos) parquet and inserted rows
  *    into a staged data parquet — zero row traffic through the
  *    driver;
  *  - the commit ([[GraftTable.applyDeltaCommit]]) merges positions
  *    into per-file [[graft.core.DeletionVector]] sidecars FROM THE
  *    EXECUTORS (the same `groupByKey(file)` shape as the dialect's
  *    morDml), swaps dv pointers, appends the staged inserts, and
  *    refuses loudly if a touched file's vector moved concurrently. */
private[graft] class GraftDeltaOperation(val path: String, cmd: Command)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta
    with GraftRowOpState {

  override def command(): Command = cmd

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftBatch.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftBatch.PosMetaCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this)

  /** BUCKET-LAYOUT DURABILITY through MOR DML: on a bucketed table the
    * delta write requires the bucket distribution, so a MERGE's
    * INSERTED rows land single-bucket files and storage-partitioned
    * joins keep planning zero-exchange after MOR DML (deletes are
    * position streams — locality-insensitive, the commit groups them by
    * file regardless). An UNbucketed table keeps the unspecified
    * distribution: the delta write then adds no exchange at all, its
    * defining cost advantage. */
  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          private val bucket: Option[(Seq[String], Int)] =
            GraftTable.bucketSpec(GraftTable.propertiesOf(path))
              .filter { case (cs, _) => cs.forall(info.schema().fieldNames.contains) }

          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            bucket match {
              case Some((cs, _)) =>
                org.apache.spark.sql.connector.distributions.Distributions.clustered(
                  cs.map(c => org.apache.spark.sql.connector.expressions.Expressions
                    .column(c)
                    .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression])
                    .toArray)
              case None =>
                org.apache.spark.sql.connector.distributions.Distributions.unspecified()
            }

          override def requiredNumPartitions(): Int = bucket.map(_._2).getOrElse(0)

          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            bucket match {
              case Some((cs, _)) => cs.map(c =>
                org.apache.spark.sql.connector.expressions.Expressions.sort(
                  org.apache.spark.sql.connector.expressions.Expressions.column(c),
                  org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
                .toArray
              case None => Array.empty
            }

          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftDeltaBatchWrite(GraftDeltaOperation.this, info.schema)
        }
    }

  override def description(): String = s"GraftRowLevelDelta($cmd, $path)"
}

/** One delta task's two staged files: its deleted (file, pos) row ids
  * and its inserted rows, each empty when the task wrote none. */
private[graft] case class GraftDeltaFiles(pos: GraftWrittenFile, data: GraftWrittenFile)
    extends WriterCommitMessage

private[graft] class GraftDeltaBatchWrite(op: GraftDeltaOperation,
    rowSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val stageDir = {
    val d = new File(op.path, ".stage-rlo"); d.mkdirs(); d.getAbsolutePath
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val spark = SparkSession.active
    new GraftDeltaWriterFactory(stageDir,
      ClassicBridge.parquetWriteConf(spark, GraftDeltaBatchWrite.PosSchema),
      ClassicBridge.parquetWriteConf(spark, rowSchema),
      GraftTable.fileStatsSpec(spark, op.path, rowSchema))
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    require(op.pinned != null,
      s"row-level ${op.command} on '${op.path}': write committed before its scan planned")
    val deltas = messages.collect { case d: GraftDeltaFiles => d }.toSeq
    val pos = deltas.map(_.pos).filter(_.file.nonEmpty).map(w => new File(w.file))
    val data = deltas.map(_.data).filter(_.file.nonEmpty)
    GraftTable.applyDeltaCommit(SparkSession.active, op.path, op.pinned,
      pos, data, rowSchema, op.command.toString.toLowerCase + "_rowlevel_mor"): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftDeltaFiles(p, d) =>
        Seq(p, d).filter(_.file.nonEmpty).foreach(w => new File(w.file).delete(): Unit)
      case _ => ()
    }
}

private[graft] object GraftDeltaBatchWrite {
  /** Staged position-delete schema: the row id, verbatim. */
  private[catalog] val PosSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("f",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("p",
      org.apache.spark.sql.types.LongType, nullable = false)))
}

private[graft] class GraftDeltaWriterFactory(stageDir: String,
    posConf: org.apache.spark.util.SerializableConfiguration,
    rowConf: org.apache.spark.util.SerializableConfiguration, rowSpec: FileStatsSpec)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  private val runId = java.util.UUID.randomUUID.toString.take(8)
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaRowWriter(
      new GraftRowFileWriter(stageDir, s"del-r$runId", partitionId, taskId, posConf,
        FileStatsSpec.Empty),
      new GraftRowFileWriter(stageDir, s"ins-r$runId", partitionId, taskId, rowConf, rowSpec))
}

/** Per-task delta writer over two [[GraftRowFileWriter]]s: deleted row
  * ids stream into a staged (file, pos) parquet with no stats, inserted
  * rows into a staged data parquet with the table's stats — each opened
  * on its first row, so a task that only deletes stages no data file
  * and vice versa. Updates never arrive (represented delete+insert). */
private[graft] class GraftDeltaRowWriter(positions: GraftRowFileWriter,
    inserts: GraftRowFileWriter)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  override def delete(metadata: InternalRow, id: InternalRow): Unit = positions.write(id)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "updates are represented as delete+insert") // representUpdateAsDeleteAndInsert

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def commit(): WriterCommitMessage =
    GraftDeltaFiles(positions.commit(), inserts.commit())

  override def abort(): Unit = {
    positions.abort()
    inserts.abort()
  }

  override def close(): Unit = ()
}
