package graft.sources

import java.io.File

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, InMemoryFileIndex, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.core.{DeletionVector, GraftTable}
import graft.core.GraftTable.{FileEntry, Manifest}

/** The REAL DSv2 read path for GraftTables: a [[Batch]] whose input
  * partitions are planned from the MANIFEST (stats/bloom file skipping,
  * zero directory listings, `maxPartitionBytes` packing from manifest
  * sizes) and whose [[PartitionReaderFactory]] serves Spark's OWN
  * vectorized parquet readers over those splits — with per-file
  * deletion-vector and rename handling INSIDE the factory, so one dirty
  * file never changes how the million clean ones decode.
  *
  * This is what lets a catalog-named read in a STOCK session (no
  * [[graft.expressions.GraftExtensions]]) plan exactly like the Scala
  * API: vectorized columnar scan, whole-stage fusion above it,
  * manifest-true statistics driving auto-broadcast — no analysis-rule
  * plan swap, no V1 `RDD[Row]` boundary.
  *
  * Per-file dispatch:
  *  - files are grouped by (rename map, has-deletion-vector); each
  *    group gets one inner [[ParquetScan]]-configured reader factory
  *    whose physical read schema applies the group's renames
  *    positionally (the emitted batches line up with the logical
  *    required schema — names never cross the reader boundary);
  *  - deletion-vectored files additionally request the parquet
  *    ROW-INDEX generated column, and their readers drop dead
  *    positions via a binary search against the file's decoded vector
  *    (executor-cached, [[DeletionVector.load]]) — exact under split
  *    planning and row-group skipping because parquet-mr derives the
  *    index from row-group offsets;
  *  - deletion-vectored files AND metadata-column projections stay
  *    COLUMNAR ([[DvMaskBatchReader]]): the dv mask applies inside the
  *    [[ColumnarBatch]] (an all-live batch passes through with only the
  *    row-index column dropped; a batch with dead rows emits
  *    selection-vector wrappers — [[SelectedVector]] — over the same
  *    decoded vectors, zero copying), `_graft_file` emits as a
  *    per-batch constant vector and `_graft_pos` re-uses the row-index
  *    vector in place — so a churned MOR snapshot with one dirty file
  *    among a million clean ones, and the row-level DML scans that
  *    request provenance, all keep `ColumnarToRow` whole-stage fusion
  *    scan-wide. The per-row shaper survives only as the fallback when
  *    the inner parquet factory itself declines columnar.
  *
  * Reference analogue: every model reads schema-qualified names
  * (`models/source.yml:4-19`) on a platform whose reads are natively
  * columnar — a named read must not cost more than a path read. */
private[graft] class GraftBatch(spark: SparkSession, path: String, m: Manifest,
    logical: StructType, required: StructType, pushed: Array[Filter],
    limitHint: Option[Int] = None,
    entriesOverride: Option[Seq[FileEntry]] = None,
    @transient onPlanned: GraftBatch => Unit = _ => ())
    extends Batch with Serializable {

  import GraftBatch._

  /** The `_graft_file` / `_graft_pos` METADATA columns
    * ([[GraftBatch.FileMetaCol]]/[[GraftBatch.PosMetaCol]]): when
    * requested they must trail the data columns (Spark appends metadata
    * columns to the scan schema). `_graft_file` is a per-file constant;
    * `_graft_pos` rides the parquet generated row index (exact under
    * splits and row-group skipping) — together they are the ROW ID the
    * delta-based row-level protocol positions deletes by. */
  private val metaCols: Seq[String] =
    required.fields.map(_.name).filter(MetaNames).toIndexedSeq
  private val dataRequired = StructType(
    required.fields.filterNot(f => MetaNames(f.name)))
  require(required.fields.drop(dataRequired.length).forall(f => MetaNames(f.name)),
    s"metadata columns must trail the data columns in ${required.toDDL}")
  private val needPos = metaCols.contains(PosMetaCol)

  /** Runtime (DPP / row-level group) filters on the `_graft_file`
    * metadata column arrive as plain V1 filters over URI strings —
    * split them from the data filters: they prune by file IDENTITY,
    * never reach parquet, and an unrecognized shape degrades to
    * keep-everything (pruning is best-effort, the plan re-applies
    * semantics). */
  private val (fileSetFilters, dataFilters) =
    pushed.partition(f => f.references.contains(FileMetaCol))
  private val keepUris: Option[Set[String]] = {
    def uris(f: Filter): Option[Set[String]] = f match {
      case EqualTo(FileMetaCol, v: String) => Some(Set(v))
      case In(FileMetaCol, vs) => Some(vs.collect { case s: String => s }.toSet)
      case Or(l, r) => for (a <- uris(l); b <- uris(r)) yield a ++ b
      case _ => None
    }
    val sets = fileSetFilters.toSeq.map(uris)
    if (sets.isEmpty || sets.exists(_.isEmpty)) None
    else Some(sets.flatten.reduce(_ intersect _))
  }

  /** The files the scan may plan: an `entriesOverride` — the scan
    * builder's exact-prune claim (the provably-inside subset the claimed
    * filters reduce to: with the residual Filter node gone, planning
    * exactly those files IS the filter) or the caller's entry subset
    * ([[GraftTable.readFileSubset]]) — else the whole manifest. */
  @transient private lazy val base: Seq[FileEntry] =
    entriesOverride.getOrElse(GraftTable.filesOf(path, m))

  /** Base entries surviving the pushed-filter stats/bloom prune (a
    * conservative keep test: it can only drop provably-excluded files,
    * never add one back) and, when a runtime file-set filter arrived,
    * the file-identity intersect. */
  @transient private[graft] lazy val kept: Seq[FileEntry] = {
    val statKept = GraftBatchRead.keepByV1Filters(spark, logical, base, dataFilters)(_.stats)
    keepUris match {
      case Some(set) => statKept.filter(fe =>
        set(new HPath(new File(GraftTable.resolveData(path, fe)).toURI).toString))
      case None => statKept
    }
  }

  @transient private lazy val statuses: Seq[(FileEntry, FileStatus)] =
    kept.map { fe =>
      fe -> new FileStatus(fe.bytes, false, 1, 128L << 20, m.tsUs / 1000L,
        new HPath(new File(GraftTable.resolveData(path, fe)).toURI))
    }

  /** A surviving data-bearing file's recorded bucket id, when the file
    * was written single-bucket under the declared `graft.bucketBy`. */
  private def fileBucket(fe: FileEntry): Option[Int] =
    fe.stats.get(GraftTable.BucketStatCol)
      .flatMap(s => for (a <- s.min; b <- s.max if a == b) yield a.toInt)

  /** Storage-partitioned-join shape: `Some((col, n))` when the snapshot
    * declares bucketing AND every surviving data-bearing file carries a
    * single-bucket id (zero-row files are planned away). Any file
    * written outside the bucketing discipline degrades the whole scan
    * to ordinary packing — correct, just shuffled. */
  private[graft] lazy val bucketedBy: Option[(Seq[String], Int)] =
    GraftTable.bucketSpec(m.properties.getOrElse(Map.empty)).filter { _ =>
      val live = kept.filter(_.rows > 0)
      live.nonEmpty && live.forall(fe => fileBucket(fe).isDefined)
    }

  /** Distinct buckets among the planned files (the reported
    * `KeyGroupedPartitioning` width). */
  private[graft] lazy val bucketPartitionCount: Int =
    kept.filter(_.rows > 0).flatMap(fileBucket).distinct.size

  /** Files [[planInputPartitions]] planned, and files the pushed and
    * runtime filters skipped — the scan's driver metrics, handed to
    * `onPlanned` once planning is done. */
  @transient @volatile private[graft] var filesPlanned: Long = 0L
  private[graft] def filesSkipped: Long = (base.size - kept.size).toLong

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = plan()
    onPlanned(this)
    parts
  }

  private def plan(): Array[InputPartition] = {
    filesPlanned = 0L
    if (kept.isEmpty) return Array.empty
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses.map(_._2).toArray[FileStatus])))
    if (bucketedBy.isDefined) {
      // byte-packed splits WITHIN each bucket, every split keyed by its
      // bucket (HasPartitionKey): a PLAIN scan runs one task per split
      // — full parallelism, a bucket is not a straggler unit — while a
      // storage-partitioned join groups same-key splits back into one
      // task per bucket (Spark's groupPartitions handles duplicate
      // keys; Iceberg plans the same shape)
      var idx = -1
      val live = statuses.filter(_._1.rows > 0)
      filesPlanned = live.size.toLong
      return live
        .groupBy { case (fe, _) => fileBucket(fe).get }
        .toSeq.sortBy(_._1).flatMap { case (b, sts) =>
          val split = sts.flatMap { case (_, st) =>
            PartitionedFileUtil.splitFiles(FileStatusWithMetadata(st, Map.empty),
              st.getPath, isSplitable = true, maxSplit, InternalRow.empty)
          }.sortBy(-_.length)
          FilePartition.getFilePartitions(spark, split, maxSplit).map { fp =>
            idx += 1
            new GraftBucketedPartition(idx, fp.files, b): InputPartition
          }
        }.toArray
    }
    // a PUSHED LIMIT (no filters of any kind — the scan builder only
    // forwards it then) needs only enough files to cover `n` live rows:
    // `SELECT * FROM t LIMIT 10` on a 100k-file snapshot plans one
    // file, not one task per file. liveRows is deletion-vector-exact,
    // so the subset can never under-deliver; the plan keeps its Limit
    // node (partial pushdown), so over-delivery is equally safe. The
    // bucketed branch above skips this: a key-grouped scan must plan
    // every reported partition key.
    val wanted = limitHint match {
      case Some(n) =>
        val b = Seq.newBuilder[(FileEntry, FileStatus)]
        var acc = 0L
        val it = statuses.iterator
        while (acc < n && it.hasNext) {
          val e = it.next()
          if (e._1.liveRows > 0) { b += e; acc += e._1.liveRows }
        }
        b.result()
      case None => statuses
    }
    filesPlanned = wanted.size.toLong
    val files = wanted.flatMap { case (_, st) =>
      PartitionedFileUtil.splitFiles(FileStatusWithMetadata(st, Map.empty),
        st.getPath, isSplitable = true, maxSplit, InternalRow.empty)
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, files, maxSplit).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // group by (renames, dv-present): the rename map fixes the physical
    // read schema; dv-presence decides whether the row-index column
    // rides along. Each group's inner factory is Spark's own — built
    // through a ParquetScan so every session conf (timezone, int96,
    // nested vectorization, nanosAsLong) is threaded identically to a
    // stock parquet read.
    val groupKeys = kept.map(fe => (fe.renames.getOrElse(Map.empty), fe.dv.isDefined))
      .distinct.toIndexedSeq
    val groups = groupKeys.map { case (ren, dvd) =>
      val physRequired = StructType(dataRequired.fields.map(f =>
        f.copy(name = ren.getOrElse(f.name, f.name))))
      // NULLABLE row-index request: the DSv2 parquet factory (unlike the
      // V1 ParquetFileFormat) does not strip generated-metadata columns
      // before the parquet schema check, so a required missing column
      // would refuse — nullable passes the check, ParquetColumnVector
      // recognizes the name as a row-index column, and the generator
      // fills exact indexes (row-group/page skipping included)
      val readSchema =
        if (dvd || needPos) StructType(physRequired.fields :+ StructField(
          ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))
        else physRequired
      val physData = StructType(logical.fields.map(f =>
        f.copy(name = ren.getOrElse(f.name, f.name))))
      // only filters whose columns are IN the read schema reach the
      // parquet reader: its record-level filtering evaluates missing
      // columns as NULL and silently drops every row. On the advisory
      // path a residual filter always forces its columns into the
      // projection, so this costs nothing there; on the exact-prune
      // claimed path (where a filter CAN reference an unprojected
      // column) the file set is already exact and the reader-level
      // predicate is redundant.
      val physFilters = dataFilters.flatMap(renameFilter(_, ren))
        .filter(_.references.forall(physRequired.fieldNames.contains))
      val inner = ParquetScan(spark,
        spark.sessionState.newHadoopConfWithOptions(Map.empty),
        new InMemoryFileIndex(spark, Nil, Map.empty, None),
        physData, readSchema, new StructType(), physFilters,
        CaseInsensitiveStringMap.empty()).createReaderFactory()
        .asInstanceOf[FilePartitionReaderFactory]
      GroupReaders(inner, hasRowIdx = dvd || needPos)
    }
    val assign: Map[String, Int] = statuses.map { case (fe, st) =>
      st.getPath.toString ->
        groupKeys.indexOf((fe.renames.getOrElse(Map.empty), fe.dv.isDefined))
    }.toMap
    val dvByFile: Map[String, String] = statuses.collect {
      case (fe, st) if fe.dv.isDefined =>
        st.getPath.toString -> GraftTable.resolveDv(path, fe.dv.get)
    }.toMap
    new GraftReaderFactory(groups, assign, dvByFile,
      dataRequired.fields.map(_.dataType), metaCols, description)
  }

  private[graft] def description: String = s"GraftBatch $path v${m.version}"
}

private[graft] object GraftBatch {

  /** The metadata-column name [[graft.catalog.GraftNamedTable]] exposes:
    * the full URI of the file serving each row. */
  private[graft] val FileMetaCol = "_graft_file"

  /** The row's position within its file (the parquet row index). */
  private[graft] val PosMetaCol = "_graft_pos"

  private[graft] val MetaNames: Set[String] = Set(FileMetaCol, PosMetaCol)

  private[graft] case class GroupReaders(factory: FilePartitionReaderFactory,
      hasRowIdx: Boolean)

  /** Rename a pushed V1 filter's attribute references onto the group's
    * physical column names; any shape with an untranslatable part drops
    * (Spark re-applies every filter post-scan — a dropped translation
    * is only a missed row-group prune, never a wrong answer). */
  private[graft] def renameFilter(f: Filter, ren: Map[String, String]): Option[Filter] = {
    def n(a: String): String = ren.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => Some(EqualTo(n(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(n(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(n(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(n(a), v))
      case LessThan(a, v) => Some(LessThan(n(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(n(a), v))
      case In(a, vs) => Some(In(n(a), vs))
      case IsNull(a) => Some(IsNull(n(a)))
      case IsNotNull(a) => Some(IsNotNull(n(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(n(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(n(a), v))
      case StringContains(a, v) => Some(StringContains(n(a), v))
      case And(l, r) =>
        for (lc <- renameFilter(l, ren); rc <- renameFilter(r, ren)) yield And(lc, rc)
      case Or(l, r) =>
        for (lc <- renameFilter(l, ren); rc <- renameFilter(r, ren)) yield Or(lc, rc)
      case Not(c) => renameFilter(c, ren).map(Not)
      case _ => None
    }
  }
}

/** Per-file dispatching reader factory: routes each [[PartitionedFile]]
  * to its group's inner Spark parquet factory, wrapping deletion-
  * vectored files with the liveness drop + row-index strip. Columnar
  * support is scan-wide (Spark requires uniformity) and INCLUDES dv'd
  * files — their mask applies inside the batch ([[DvMaskBatchReader]]);
  * only a metadata-column request forces the per-row shaper. */
private[graft] class GraftReaderFactory(
    groups: IndexedSeq[GraftBatch.GroupReaders],
    assign: Map[String, Int], dvByFile: Map[String, String],
    requiredTypes: Array[org.apache.spark.sql.types.DataType],
    metaCols: Seq[String], desc: String) extends PartitionReaderFactory {

  private def groupOf(pf: PartitionedFile): GraftBatch.GroupReaders = {
    val key = pf.toPath.toString
    groups(assign.getOrElse(key,
      throw new IllegalStateException(s"$desc: unplanned file '$key'")))
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    groups.forall(g => g.factory.supportColumnarReads(partition))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[FilePartition].files
    new ChainReader[InternalRow](files, { pf =>
      val key = pf.toPath.toString
      val g = groupOf(pf)
      val base = g.factory.buildReader(pf)
      val dv = dvByFile.get(key).map(DeletionVector.load).orNull
      if (!g.hasRowIdx && metaCols.isEmpty) base
      else new MetaEmitReader(base, requiredTypes, g.hasRowIdx, dv, metaCols, key)
    })
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val files = partition.asInstanceOf[FilePartition].files
    new ChainReader[ColumnarBatch](files, { pf =>
      val key = pf.toPath.toString
      val g = groupOf(pf)
      val base = g.factory.buildColumnarReader(pf)
      if (!g.hasRowIdx && metaCols.isEmpty) base
      else new DvMaskBatchReader(base,
        dvByFile.get(key).map(DeletionVector.load).orNull,
        g.hasRowIdx, metaCols, key)
    })
  }
}

/** A [[FilePartition]] that also announces its bucket id
  * ([[org.apache.spark.sql.connector.read.HasPartitionKey]]) — the unit
  * of a storage-partitioned join. Still a FilePartition, so the
  * dispatching reader factory's per-file routing is untouched. */
private[graft] class GraftBucketedPartition(idx: Int,
    fs: Array[PartitionedFile], bucket: Int)
    extends FilePartition(idx, fs)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  private val key = new org.apache.spark.sql.catalyst.expressions
    .GenericInternalRow(Array[Any](bucket))
  override def partitionKey(): InternalRow = key
}

/** Sequential composition of per-file readers within one
  * [[FilePartition]] — readers open lazily (one at a time) and close
  * before the next opens. */
private[graft] class ChainReader[T](files: Seq[PartitionedFile],
    open: PartitionedFile => PartitionReader[T]) extends PartitionReader[T] {

  private val it = files.iterator
  private var cur: PartitionReader[T] = _

  @annotation.tailrec
  final override def next(): Boolean = {
    if (cur == null) {
      if (!it.hasNext) return false
      cur = open(it.next())
    }
    if (cur.next()) true
    else { cur.close(); cur = null; next() }
  }

  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** The per-file row shaper: drops deletion-vectored positions (binary
  * search per row against the sorted vector — paid only on dv'd files),
  * strips the trailing generated row-index column, and emits the
  * requested trailing metadata columns (`_graft_file` as a per-file
  * constant, `_graft_pos` from the row index). Output rows are
  * UnsafeProjection copies — safe to buffer downstream. */
private[graft] class MetaEmitReader(inner: PartitionReader[InternalRow],
    requiredTypes: Array[org.apache.spark.sql.types.DataType],
    hasRowIdx: Boolean, dv: Array[Long], metaCols: Seq[String],
    fileUri: String) extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.{LongType, StringType}

  private val n = requiredTypes.length
  private val proj = UnsafeProjection.create(
    requiredTypes.zipWithIndex.map { case (dt, i) =>
      BoundReference(i, dt, nullable = true): org.apache.spark.sql.catalyst.expressions.Expression
    }.toIndexedSeq ++ metaCols.map {
      case GraftBatch.FileMetaCol =>
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(fileUri), StringType)
      case GraftBatch.PosMetaCol => BoundReference(n, LongType, nullable = false)
    })
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (dv == null ||
          java.util.Arrays.binarySearch(dv, row.getLong(n)) < 0) {
        current = proj(row)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** The COLUMNAR batch shaper: applies the deletion-vector mask INSIDE
  * the batch and emits the requested metadata columns as vectors, so
  * neither a dirty file nor a `_graft_file`/`_graft_pos` projection
  * drops the scan out of whole-stage fusion.
  *
  *  - when `hasRowIdx`, the inner batches carry a trailing generated
  *    row-index column: dead positions (binary search against the
  *    file's sorted vector) drop via [[SelectedVector]] wrappers
  *    (logical→physical indirection, zero row copying — the
  *    Iceberg/Delta reader shape); an all-live batch (the
  *    overwhelmingly common case — vectors are sparse) passes the
  *    decoded vectors through untouched;
  *  - `_graft_file` emits as a [[ConstantUtf8Vector]] (one object per
  *    batch, no per-row work at all); `_graft_pos` IS the row-index
  *    vector, re-used in place (selection-wrapped with the data when
  *    rows drop). */
private[graft] class DvMaskBatchReader(inner: PartitionReader[ColumnarBatch],
    dv: Array[Long], hasRowIdx: Boolean, metaCols: Seq[String],
    fileUri: String) extends PartitionReader[ColumnarBatch] {

  import org.apache.spark.sql.vectorized.ColumnVector

  private val fileVec = new ConstantUtf8Vector(
    org.apache.spark.unsafe.types.UTF8String.fromString(fileUri))
  private var current: ColumnarBatch = _

  private def metaVecs(idxCol: ColumnVector): Seq[ColumnVector] = metaCols.map {
    case GraftBatch.FileMetaCol => fileVec
    case GraftBatch.PosMetaCol => idxCol
  }

  override def next(): Boolean = {
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val dataCount = b.numCols() - (if (hasRowIdx) 1 else 0)
      val dataCols = Array.tabulate(dataCount)(b.column)
      if (n > 0) {
        val idxCol = if (hasRowIdx) b.column(b.numCols() - 1) else null
        var live = n
        if (dv != null) {
          var i = 0
          while (i < n) {
            if (java.util.Arrays.binarySearch(dv, idxCol.getLong(i)) >= 0) live -= 1
            i += 1
          }
        }
        if (live == n) {
          current = new ColumnarBatch(dataCols ++ metaVecs(idxCol), n)
          return true
        } else if (live > 0) {
          val sel = new Array[Int](live)
          var i = 0; var o = 0
          while (i < n) {
            if (java.util.Arrays.binarySearch(dv, idxCol.getLong(i)) < 0) {
              sel(o) = i; o += 1
            }
            i += 1
          }
          def wrap(c: ColumnVector): ColumnVector = c match {
            case k: ConstantUtf8Vector => k // position-independent
            case v => new SelectedVector(v, sel)
          }
          current = new ColumnarBatch(
            (dataCols ++ metaVecs(idxCol)).map(wrap), live)
          return true
        } // live == 0: whole batch dead, pull the next one
      }
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = inner.close()
}

/** A per-file constant string vector — `_graft_file`'s columnar form:
  * every position reads the same [[UTF8String]]. */
private[graft] class ConstantUtf8Vector(v: org.apache.spark.unsafe.types.UTF8String)
    extends org.apache.spark.sql.vectorized.ColumnVector(
      org.apache.spark.sql.types.StringType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String = v
  override def getBoolean(i: Int): Boolean = throw new UnsupportedOperationException
  override def getByte(i: Int): Byte = throw new UnsupportedOperationException
  override def getShort(i: Int): Short = throw new UnsupportedOperationException
  override def getInt(i: Int): Int = throw new UnsupportedOperationException
  override def getLong(i: Int): Long = throw new UnsupportedOperationException
  override def getFloat(i: Int): Float = throw new UnsupportedOperationException
  override def getDouble(i: Int): Double = throw new UnsupportedOperationException
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    throw new UnsupportedOperationException
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    throw new UnsupportedOperationException
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    throw new UnsupportedOperationException
  override def getBinary(i: Int): Array[Byte] = v.getBytes
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    throw new UnsupportedOperationException
}

/** A selection-vector view over a decoded [[ColumnVector]]: logical
  * position `i` reads the base vector at `sel(i)`. No data moves; the
  * base vectors stay owned (and closed) by the inner reader, so
  * `close()` here is a no-op. Struct children wrap lazily with the
  * SAME selection (a child is addressed by its parent's row id). */
private[graft] class SelectedVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {

  import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}

  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = {
    var c = 0; var i = 0
    while (i < sel.length) { if (base.isNullAt(sel(i))) c += 1; i += 1 }
    c
  }
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))

  private[this] val kids = new java.util.HashMap[Integer, ColumnVector]
  override def getChild(ordinal: Int): ColumnVector = {
    val got = kids.get(ordinal)
    if (got != null) got
    else {
      val made = new SelectedVector(base.getChild(ordinal), sel)
      kids.put(ordinal, made); made
    }
  }
}
