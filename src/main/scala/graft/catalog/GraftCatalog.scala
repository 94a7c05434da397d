package graft.catalog

import java.io.File
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NonEmptyNamespaceException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.GraftTable
import graft.sources.{GraftBatchRead, GraftMicroBatchStream}

/** A DSv2 [[TableCatalog]] over a directory warehouse of GraftTables —
  * the piece that turns "a table format with a SQL dialect" into a
  * lakehouse: NAMED tables in layered namespaces, exactly the
  * reference's model (every model reads/writes a schema-qualified name
  * — `kings.load` → `staging` → `intermediate` → `dwh`,
  * `models/source.yml:4-19`, `macros/generate_schema_name.sql:1-3`).
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/warehouse
  *
  *   CREATE NAMESPACE graft.dwh
  *   CREATE TABLE graft.dwh.dim_customer (customer_sk STRING, …)
  *   INSERT INTO graft.dwh.dim_customer SELECT …
  *   SELECT * FROM graft.dwh.dim_customer VERSION AS OF 3      -- grammar-native
  *   SELECT * FROM graft.dwh.dim_customer TIMESTAMP AS OF '…'  -- time travel
  *   spark.readStream.table("graft.dwh.dim_customer")
  * }}}
  *
  * Mapping is the obvious one: namespace = directory chain under the
  * warehouse root, table = a GraftTable directory ([[GraftTable.exists]]
  * distinguishes the two). The catalog is PURE METADATA — every data
  * operation routes to the same [[GraftTable]] operators the
  * path-addressed surface uses, so named and path access see identical
  * snapshots, stats skipping, and commit semantics.
  *
  * Scale shape: catalog calls are manifest-grain driver metadata (one
  * directory listing per namespace op, one manifest head read per
  * loadTable — never a data file touched). Reads are a REAL DSv2
  * `Scan → Batch` ([[graft.sources.GraftBatch]]): splits planned from
  * the manifest (stats/bloom file skipping, no directory listing),
  * Spark's own vectorized parquet readers underneath, per-file
  * deletion-vector/rename handling inside the reader factory, and
  * manifest-true prune-aware `estimateStatistics` driving
  * auto-broadcast — identical plan shape with or without
  * [[graft.expressions.GraftExtensions]] (no analysis-rule swap).
  *
  * Time travel: Spark's grammar only enables `VERSION AS OF` /
  * `TIMESTAMP AS OF` for catalog tables — [[loadTable(ident,version)]]
  * pins the manifest, closing the dialect gap with the reference's
  * `AT (TIMESTAMP => …)` reads (`models/intermediate/stg_dim_customer.sql:71`).
  *
  * As-a-path bridge: `graft.`/abs/path`` (empty namespace, name starting
  * `/`) resolves to that table directly, so plain SQL `SELECT … FROM
  * graft.`/p` VERSION AS OF 2` works on path-addressed tables too. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  // ------------------------------------------------------------- functions

  /** The one catalog function: `bucket` ([[GraftBucketFunction]]) —
    * resolved by Spark's `V2ExpressionUtils` when a bucketed table's
    * reported partitioning becomes a storage-partitioned-join key.
    * Exposing it through [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]
    * is what populates `DataSourceV2Relation.funCatalog`, without which
    * the `bucket(n, k)` transform cannot bind and SPJ never engages. */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] = Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse=<directory>"))
  }

  override def name(): String = catalogName

  /** namespace chain + name → directory; the `/abs/path` escape hatch
    * keeps the DML dialect's path-addressed habit readable through the
    * same catalog. */
  private[catalog] def tablePath(ident: Identifier): String =
    if (ident.namespace.isEmpty && ident.name.startsWith("/")) ident.name
    else (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def nsDir(ns: Array[String]): File =
    new File((warehouse +: ns.toSeq).mkString("/"))

  private def visibleDirs(d: File): Seq[File] =
    Option(d.listFiles).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && !GraftTable.tombstoned(f.getPath))

  // ------------------------------------------------------------- namespaces

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] =
    visibleDirs(new File(warehouse)).filterNot(f => GraftTable.exists(f.getPath))
      .map(f => Array(f.getName)).sortBy(_.head).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = nsDir(namespace)
    if (!d.isDirectory || GraftTable.exists(d.getPath))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    visibleDirs(d).filterNot(f => GraftTable.exists(f.getPath))
      .map(f => namespace :+ f.getName).sortBy(_.last).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = nsDir(namespace)
    namespace.nonEmpty && d.isDirectory && !GraftTable.exists(d.getPath) &&
      !GraftTable.tombstoned(d.getPath)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    Map(SupportsNamespaces.PROP_LOCATION -> nsDir(namespace).getPath).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    val d = nsDir(namespace)
    if (d.exists) throw new NamespaceAlreadyExistsException(namespace)
    require(d.mkdirs(), s"cannot create namespace directory '$d'")
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories — they carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!namespaceExists(namespace)) return false
    if (!cascade && visibleDirs(d).nonEmpty)
      throw new NonEmptyNamespaceException(namespace)
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(d); true
  }

  // ----------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (namespace.isEmpty || !d.isDirectory)
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    visibleDirs(d).filter(f => GraftTable.exists(f.getPath))
      .map(f => Identifier.of(namespace, f.getName)).sortBy(_.name).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftTable.exists(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    if (!GraftTable.exists(path)) {
      // Iceberg-style metadata CHILD table: `graft.ns.t.changes` is the
      // NAMED change-feed surface of `graft.ns.t` — batch and streaming
      changesParent(ident).foreach(parent =>
        return new GraftChangesTable(fullName(ident), parent))
      throw new NoSuchTableException(ident)
    }
    new GraftNamedTable(fullName(ident), path, pin = None)
  }

  /** `ident` = [ns…, table, "changes"] over an existing GraftTable →
    * that table's directory. */
  private def changesParent(ident: Identifier): Option[String] =
    if (ident.name != "changes" || ident.namespace.isEmpty) None
    else {
      val parent = (warehouse +: ident.namespace.toSeq).mkString("/")
      if (GraftTable.exists(parent)) Some(parent) else None
    }

  /** `VERSION AS OF v` — grammar-native time travel. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    if (!GraftTable.exists(path)) throw new NoSuchTableException(ident)
    require(version.forall(_.isDigit),
      s"VERSION AS OF takes a version number, got '$version'")
    new GraftNamedTable(fullName(ident), path,
      pin = Some(GraftTable.manifestAt(path, version.toLong).version))
  }

  /** `TIMESTAMP AS OF t` — Spark hands the instant as epoch MICROS. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tablePath(ident)
    if (!GraftTable.exists(path)) throw new NoSuchTableException(ident)
    new GraftNamedTable(fullName(ident), path,
      pin = Some(GraftTable.manifestAsOf(path, timestamp).version))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  /** Spark-managed metadata keys a directory-backed table does not
    * store (location IS the identity; provider/owner are catalog-level
    * concepts). Everything else — including `comment` and user
    * properties — lands in the manifest. */
  private val DroppedProps = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE,
    TableCatalog.PROP_COLLATION)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables have no static partitioning — cluster with writeClustered / " +
        "OPTIMIZE ZORDER BY, prune through per-file stats")
    val path = tablePath(ident)
    if (GraftTable.exists(path)) throw new TableAlreadyExistsException(ident)
    if (ident.namespace.nonEmpty && !namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace.toSeq)
    val props = properties.asScala.toMap
      .filterNot { case (k, _) => DroppedProps(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
    GraftTable.create(path, schema, props)
    new GraftNamedTable(fullName(ident), path, pin = None)
  }

  // ------------------------------------------------------- atomic CTAS/RTAS

  /** Atomic `CREATE TABLE … AS SELECT`: the query writes into a HIDDEN
    * staged sibling (`.name__stage-<uuid>` — the dot keeps it out of
    * [[listTables]]); commit is one atomic directory move, so a failed
    * or killed CTAS leaves NO half-written table and concurrent readers
    * never see a partial result. The loser of a racing pair fails
    * loudly at the move. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable =
    stageTable(ident, schema, partitions, properties, StageMode.Create)

  /** Atomic `REPLACE TABLE … AS SELECT`: stages like [[stageCreate]],
    * but commit adopts the staged files into the EXISTING table as one
    * overwrite-shaped manifest commit ([[GraftTable.replaceFrom]]) —
    * table identity, history, time travel, and stream marks survive;
    * schema/checks/properties are the staged definition's (replace is
    * wholesale). Readers see old contents until the commit instant. */
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stageTable(ident, schema, partitions, properties, StageMode.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable =
    stageTable(ident, schema, partitions, properties, StageMode.CreateOrReplace)

  private def stageTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String],
      mode: StageMode.Value): StagedTable = {
    require(partitions.isEmpty,
      "graft tables have no static partitioning — cluster with writeClustered / " +
        "OPTIMIZE ZORDER BY, prune through per-file stats")
    if (mode == StageMode.Create && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (ident.namespace.nonEmpty && !namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace.toSeq)
    val target = new File(tablePath(ident))
    val stagedPath = new File(target.getParentFile,
      s".${target.getName}__stage-${java.util.UUID.randomUUID}").getPath
    val props = properties.asScala.toMap
      .filterNot { case (k, _) => DroppedProps(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
    GraftTable.create(stagedPath, schema, props)
    new GraftStagedTable(fullName(ident), ident, target.getPath, stagedPath, mode)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!GraftTable.exists(path)) throw new NoSuchTableException(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft tables are flat — cannot add nested field ${a.fieldNames.mkString(".")}")
        require(a.position == null,
          "graft ADD COLUMN appends — column position is parquet-physical, not logical")
        GraftTable.addColumn(path, a.fieldNames.head, a.dataType.sql)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"graft tables are flat — cannot rename nested field ${r.fieldNames.mkString(".")}")
        GraftTable.renameColumn(path, r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft tables are flat — cannot drop nested field ${d.fieldNames.mkString(".")}")
        GraftTable.dropColumn(path, d.fieldNames.head)
      case s: TableChange.SetProperty =>
        GraftTable.setProperties(path, Map(s.property -> s.value))
      case r: TableChange.RemoveProperty =>
        GraftTable.unsetProperties(path, Seq(r.property))
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog does not support table change $other")
    }
    loadTable(ident)
  }

  /** DROP with a racing-committer fence: the tombstone lands FIRST
    * ([[GraftTable.markDropped]]) so any in-flight CAS commit fails
    * loudly instead of landing in a half-deleted directory; then the
    * tree is reclaimed with the fence kept. A later CREATE at the same
    * name clears the fence ([[GraftTable.tryCommit]]'s v1 rule). */
  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    val live = GraftTable.exists(path)
    if (!live && !GraftTable.tombstoned(path)) return false
    if (live) GraftTable.markDropped(path, "dropped")
    GraftTable.reclaimDropped(path)
    live
  }

  /** RENAME with the same fence: after the directory moves, a tombstone
    * ("renamed to …") lands at the OLD path so a racing writer cannot
    * resurrect the table there — its commit fails loudly naming the new
    * location. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    val to = tablePath(newIdent)
    if (!GraftTable.exists(from)) throw new NoSuchTableException(oldIdent)
    if (GraftTable.exists(to) || new File(to).exists)
      throw new TableAlreadyExistsException(newIdent)
    if (newIdent.namespace.nonEmpty && !namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(catalogName +: newIdent.namespace.toSeq)
    java.nio.file.Files.move(new File(from).toPath, new File(to).toPath)
    GraftTable.markDropped(from, s"renamed to '$to'")
  }
}

private[catalog] object StageMode extends Enumeration {
  val Create, Replace, CreateOrReplace = Value
}

/** The in-flight half of atomic CTAS/RTAS: a REAL GraftTable at a
  * hidden staged path — the query's write lands through the ordinary
  * named-table write path (same staging, stats, CHECK enforcement) —
  * plus the two commit verbs. Commit for CREATE is one atomic directory
  * move (a racing creator fails loudly at the move); for REPLACE it is
  * [[GraftTable.replaceFrom]]'s adopt-files-and-commit (history-
  * preserving). Abort deletes the staged directory; nothing else ever
  * existed. */
private[catalog] class GraftStagedTable(tableName: String, ident: Identifier,
    targetPath: String, stagedPath: String, mode: StageMode.Value)
    extends StagedTable with SupportsRead with SupportsWrite {

  private val inner = new GraftNamedTable(tableName, stagedPath, pin = None)

  override def name(): String = tableName
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): JMap[String, String] = inner.properties()
  override def capabilities(): java.util.Set[TableCapability] = inner.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  private def rmStaged(): Unit = {
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    rm(new File(stagedPath))
  }

  override def commitStagedChanges(): Unit = {
    val targetExists = GraftTable.exists(targetPath)
    mode match {
      case StageMode.Replace | StageMode.CreateOrReplace if targetExists =>
        try GraftTable.replaceFrom(targetPath, stagedPath): Unit
        finally rmStaged()
      case StageMode.Replace => // target vanished between stage and commit
        rmStaged()
        throw new NoSuchTableException(ident)
      case _ =>
        try java.nio.file.Files.move(new File(stagedPath).toPath,
          new File(targetPath).toPath): Unit
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException =>
            // a racing creator moved in first. CREATE OR REPLACE keeps
            // its promise by replacing the winner; plain CREATE loses.
            if (mode == StageMode.CreateOrReplace && GraftTable.exists(targetPath))
              try GraftTable.replaceFrom(targetPath, stagedPath): Unit
              finally rmStaged()
            else {
              rmStaged()
              throw new TableAlreadyExistsException(ident)
            }
        }
    }
  }

  override def abortStagedChanges(): Unit = rmStaged()
}

/** A named GraftTable as a DSv2 [[Table]]: REAL Batch read
  * ([[graft.sources.GraftBatch]] — vectorized manifest-planned splits,
  * per-file DV/rename handling, runtime file pruning), metadata columns
  * `_graft_file`/`_graft_pos`, micro-batch streaming read (the SAME
  * [[GraftMicroBatchStream]] the path-addressed source uses — named and
  * path streams share offsets semantics), REAL distributed batch write
  * ([[graft.sources.GraftWrite]] — append + INSERT OVERWRITE, bucketed
  * layout as a required distribution), native DELETE/TRUNCATE, and row-level
  * UPDATE/MERGE (group-based COW, or the delta protocol on
  * `graft.deletionVectors` tables). `pin` is a version pinned by time
  * travel: pinned tables are read-only. `snapshot` is a manifest the
  * caller already resolved and `subset` an entry subset of it — every
  * Scala-API and `format("graft")` read is this table over the snapshot
  * it pinned ([[GraftTable.readFileSubset]]); such a table is read-only
  * too. */
private[graft] class GraftNamedTable(tableName: String, val path: String,
    val pin: Option[Long], snapshot: Option[GraftTable.Manifest] = None,
    subset: Option[Seq[GraftTable.FileEntry]] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with TruncatableTable
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  private def manifest: GraftTable.Manifest = snapshot.getOrElse(pin match {
    case Some(v) => GraftTable.manifestAt(path, v)
    case None => GraftTable.currentManifest(path).getOrElse(
      throw new IllegalStateException(s"graft table '$path' vanished"))
  })

  /** The entries a read of this table plans before any filter: the
    * caller's subset, else every live file of the snapshot.
    * [[graft.plans.GraftPrune]]'s manifest folds answer from these. */
  private[graft] def entries: Seq[GraftTable.FileEntry] =
    subset.getOrElse(GraftTable.filesOf(path, manifest))

  override def name(): String = tableName
  override def schema(): StructType = StructType.fromDDL(manifest.schemaDdl)

  /** Declared bucketing (`graft.bucketBy` — [[GraftTable.writeBucketed]])
    * surfaces as a v2 `bucket(n, k)` transform: with the scan's
    * [[GraftNamedScan.outputPartitioning]] this is what lets two
    * co-bucketed facts join with ZERO exchange (storage-partitioned
    * join). Range clustering (`graft.clusterBy`) intentionally does NOT
    * report — its per-file ranges drive file skipping, not a discrete
    * partition function. */
  override def partitioning(): Array[Transform] =
    GraftTable.bucketSpec(GraftTable.propertiesOf(path))
      .filter { case (cs, _) => cs.forall(schema().fieldNames.contains) }
      .map { case (cs, n) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, cs: _*) }
      .toArray

  // NOTE: composite (multi-column) bucket specs still declare here, but
  // the SCAN reports key-grouped partitioning only for single-column
  // specs — Spark 4.1's catalyst transform binding for SPJ is
  // single-reference bucket() only (empirically: a multi-ref bucket
  // never populates the relation's keyGroupedPartitioning and the join
  // plans its fallback shuffle). The composite layout remains a valid
  // write/clustering discipline; joins on it are correct, just shuffled.

  override def properties(): JMap[String, String] =
    GraftTable.propertiesOf(path).asJava

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    caps.add(TableCapability.MICRO_BATCH_READ)
    if (pin.isEmpty && snapshot.isEmpty) {
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps.add(TableCapability.STREAMING_WRITE)
    }
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftNamedScanBuilder(path, schema(), pin, options, snapshot, subset)

  /** `_graft_file` — the full URI of the file serving each row (Delta's
    * hidden file-path metadata analog) — and `_graft_pos`, the row's
    * position within that file (the parquet row index), both served by
    * the [[graft.sources.GraftBatch]] reader wrapper. Together they are
    * the ROW ID the delta-based (merge-on-read) row-level protocol
    * positions deletes by; `_graft_file` alone is the group-based
    * protocol's required metadata attribute. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = graft.sources.GraftBatch.FileMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "full URI of the data file serving this row"
    },
    new MetadataColumn {
      override def name(): String = graft.sources.GraftBatch.PosMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row position within the serving data file"
    })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pin.isEmpty, s"cannot write to time-travel pinned '$tableName'")
    new GraftNamedWriteBuilder(path, info)
  }

  /** Native `DELETE FROM graft.ns.t WHERE …` in sessions WITHOUT the
    * extension parser (with it, the parse-time rewrite claims the
    * statement first). Spark hands the V1 filters; untranslatable
    * shapes refuse via [[canDeleteWhere]] — loud, never partial. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftBatchRead.v1FilterToColumn(f).isDefined)

  /** Grammar-native `TRUNCATE TABLE graft.ns.t` — the same ONE
    * metadata-only commit as [[GraftTable.truncate]]: no file read,
    * rewritten, or deleted; the old snapshot time-travels until
    * vacuum. */
  override def truncateTable(): Boolean = {
    require(pin.isEmpty, s"cannot TRUNCATE time-travel pinned '$tableName'")
    GraftTable.truncate(path)
    true
  }

  /** Stock-session `UPDATE` / `MERGE INTO` / complex `DELETE` on this
    * name: Spark's row-level rewrite rules plan the group-based
    * protocol against [[GraftGroupOperation]]'s scan + write pair
    * (simple DELETEs keep the metadata-only [[deleteWhere]] path —
    * `OptimizeMetadataOnlyDeleteFromTable` swaps it back in whenever
    * [[canDeleteWhere]] accepts). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pin.isEmpty, s"cannot modify time-travel pinned '$tableName'")
    new GraftRowLevelBuilder(path, info,
      mor = GraftTable.deletionVectorsEnabled(path))
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pin.isEmpty, s"cannot DELETE from time-travel pinned '$tableName'")
    val spark = SparkSession.active
    val cols = filters.toSeq.map(f => GraftBatchRead.v1FilterToColumn(f).getOrElse(
      throw new UnsupportedOperationException(s"cannot translate DELETE filter $f")))
    val pred = cols.reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
    if (GraftTable.deletionVectorsEnabled(path))
      GraftTable.deleteWhereMor(spark, path, pred)
    else GraftTable.deleteWhere(spark, path, pred)
  }
}

private[graft] class GraftNamedScanBuilder(path: String, tableSchema: StructType,
    pin: Option[Long], options: CaseInsensitiveStringMap,
    snapshot: Option[GraftTable.Manifest], subset: Option[Seq[GraftTable.FileEntry]])
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None
  private var aggPushed = false
  private var limit: Option[Int] = None

  /** The ONE snapshot every pushdown decision and the built scan read —
    * resolved lazily (an unfiltered, un-aggregated scan build is the
    * first and only resolution; unsupported aggregate shapes still pay
    * zero manifest IO), then shared: the exact-prune claim below and
    * the file set [[GraftNamedScan]] plans must never diverge across a
    * concurrent commit. */
  private lazy val snap: Option[GraftTable.Manifest] =
    snapshot.orElse(pin.map(GraftTable.manifestAt(path, _)))
      .orElse(GraftTable.currentManifest(path))

  /** The EXACT-PRUNE claim: when every pushed filter is a recognized
    * conjunct over stats-tagged columns AND every data-bearing file of
    * the snapshot classifies provably fully-inside or fully-outside
    * the conjunction — with inside files null-free on every constrained
    * column, so EVERY row of a planned file passes — then file pruning
    * alone applies the filters exactly, and [[pushFilters]] may report
    * zero residual. That removes the post-scan Filter node (the plan
    * shape Spark's complete aggregate pushdown requires), so a stock
    * session's `SELECT count(*)/min/max … WHERE d BETWEEN x AND y` on a
    * boundary-aligned layout — the single most common BI probe — folds
    * from the manifest with zero files read. Any unrecognized shape,
    * straddling file, null, or rename degrades to the advisory path
    * (all filters residual) — correct, just scanned.
    *
    * DPP GUARD: the claim is gated to scans BIGGER than the broadcast
    * threshold. Spark's dynamic-pruning injection looks for a Filter
    * node on the dim side of a join ('hasSelectivePredicate'); claiming
    * a small dim's filter would remove that node and silently cost the
    * FACT side its runtime file pruning — a far bigger loss than the
    * dim's own scan. A scan above the broadcast threshold can never be
    * the (broadcast-reuse) DPP build side, so nothing is lost there;
    * with broadcasts disabled (threshold -1) there is no broadcast DPP
    * to protect and the claim applies everywhere. */
  private var exactInside: Option[Seq[GraftTable.FileEntry]] = None

  /** PARTIAL limit pushdown: `SELECT … FROM t LIMIT n` plans only
    * enough files to cover `n` live rows (deletion-vector-exact), so a
    * bare LIMIT on a 100k-file snapshot is one task, not a full sweep.
    * Partial — the plan keeps its Limit node — so over-delivery is
    * always safe; the batch applies the subset only when no filter of
    * any kind reached the scan. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** STOCK-SESSION metadata aggregates: `count(*)` / `count(col)` /
    * `min` / `max` answer straight from the manifest — zero files read,
    * a [[GraftLocalAggScan]] (planned as a LocalTableScan) instead of a
    * distributed job. WHERE folds under the exact-prune claim
    * ([[pushFilters]]); `GROUP BY k` folds on partition-shaped layouts
    * (every file single-valued on `k` — [[graft.plans.GraftPrune
    * .foldGroupedMetaAgg]]). This is the v2 twin of the extension rules
    * ([[graft.plans.GraftPrune]] `rewriteMetaAgg` /
    * `rewriteGroupedMetaAgg`), for sessions WITHOUT `GraftExtensions`;
    * same bail discipline (renames, deletion vectors on anything but
    * `count(*)`, missing per-file stats, multi-valued group files →
    * scan the data, never guess).
    * COMPLETE pushdown only — a partial manifest answer would still
    * cost the scan, so [[pushAggregation]] refuses whenever the fold
    * could not answer every aggregate. */
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = {
    // pushed filters without the claim bail: a partial manifest answer
    // would still cost the scan
    aggAnswer =
      if (pushed.nonEmpty && exactInside.isEmpty) None
      else GraftMetaAggFold.fold(path, () => snap, agg, exactInside.orElse(subset))
    aggAnswer.isDefined
  }

  /** The fold is RECORDED in [[supportCompletePushDown]] but only ARMED
    * here — a caller probing support without committing to the pushdown
    * must never change scan semantics ([[build]] checks the flag, not
    * the answer). */
  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = {
    aggPushed = aggAnswer.isDefined
    aggPushed
  }

  /** Advisory pushdown by default — accept every filter but report ALL
    * as residual, Spark re-applies them post-scan, so a
    * partially-translatable conjunction can still prune files inside
    * [[graft.sources.GraftBatch]] without any correctness exposure.
    * When the [[exactInside]] claim holds, the filters ARE the file
    * prune and the residual is empty (still forwarded to the scan for
    * parquet row-group skipping). Claim failures of any kind — shape,
    * stats, IO — degrade to advisory. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    exactInside =
      if (filters.isEmpty) None
      else try {
        // cheap shape pre-vet against the resolution-time schema (no
        // manifest IO for unsupported shapes); the claim itself
        // re-resolves against the FOLDED manifest's schema — the same
        // staleness discipline as the aggregate fold
        val bcast = org.apache.spark.sql.internal.SQLConf.get
          .autoBroadcastJoinThreshold
        for {
          _ <- graft.plans.GraftPrune.v1StatPred(tableSchema, filters.toSeq)
          m <- snap
          pred <- graft.plans.GraftPrune.v1StatPred(
            StructType.fromDDL(m.schemaDdl), filters.toSeq)
          entries = subset.getOrElse(GraftTable.filesOf(path, m))
          if !entries.exists(_.renames.exists(_.nonEmpty))
          (_, inside) <- graft.plans.GraftPrune.classifyFilteredTree(entries,
            pred, forbidDv = false)
          // DPP guard on the CLAIMED (inside-subset) bytes — the size
          // estimateStatistics will report once the claim holds, and
          // therefore the size that drives Spark's broadcast decision:
          // a selective claim on a dim just above the threshold would
          // otherwise remove the Filter node, get broadcast anyway
          // (defeating PartitionPruning's hasSelectivePredicate), and
          // silently cost the fact side its runtime file pruning
          if bcast < 0 || inside.map(_.bytes).sum > bcast
        } yield inside
      } catch { case scala.util.control.NonFatal(_) => None }
    if (exactInside.isDefined) Array.empty else filters
  }
  override def pushedFilters(): Array[Filter] =
    if (exactInside.isDefined) pushed else Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggAnswer match {
    case Some((schema, values)) if aggPushed =>
      new GraftLocalAggScan(path, schema, values)
    case _ =>
      new GraftNamedScan(path, tableSchema, required, pushed, pin, options,
        limit, snap, exactInside.orElse(subset))
  }
}

/** A completely-pushed metadata aggregate: driver-local rows holding
  * the manifest-folded answers — ONE row for a scalar aggregate, one
  * per group for `GROUP BY` over a partition-shaped layout. Planned as
  * `LocalTableScanExec` — no job, no file IO, no exchange. */
private[graft] class GraftLocalAggScan(path: String, schema: StructType,
    values: Seq[Seq[Any]]) extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    values.map(org.apache.spark.sql.catalyst.InternalRow.fromSeq).toArray
  override def description(): String = s"GraftMetaAgg $path (manifest-answered)"
}

/** The v2-pushdown surface of the ONE shared manifest fold
  * ([[graft.plans.GraftPrune.foldMetaAgg]] — the extension rule's
  * `rewriteMetaAgg` rides the same function, so the bail discipline
  * can never fork). This wrapper only translates connector
  * [[Aggregation]] shapes and assembles the pushed-scan schema.
  *
  * Two orderings matter here:
  *  - the SYNTACTIC vet runs before any manifest IO — an unsupported
  *    aggregate (sum, avg, distinct, nested field, a non-column
  *    grouping expression, WHERE without the exact-prune claim) must
  *    not pay an O(table-files) listing parse just to bail;
  *  - names resolve against the FOLDED manifest's schema, not the scan
  *    builder's resolution-time schema — a concurrent
  *    nullability-widening commit between analysis and pushdown would
  *    otherwise let `count(col)` answer `total` from a stale NOT NULL
  *    claim while the folded snapshot already holds nulls. */
private[graft] object GraftMetaAggFold {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.types.{LongType, StructField}
  import graft.plans.GraftPrune

  private sealed trait Shape
  private case object SCountStar extends Shape
  private case class SCount(col: String) extends Shape
  private case class SMin(col: String) extends Shape
  private case class SMax(col: String) extends Shape

  /** `snap` is the builder's PINNED snapshot (by-name — the syntactic
    * vet must stay ahead of any manifest IO); `entries`, when given, is
    * the file set the scan reads in place of the whole snapshot: the
    * provably-inside subset of the builder's exact-prune claim (the fold
    * then answers the FILTERED aggregate — every live row of an inside
    * file passes the filter, so liveRows/null-counts/bounds are exact),
    * else the table's entry subset.
    *
    * GROUP BY: single-part column references translate to the grouped
    * fold ([[GraftPrune.foldGroupedMetaAgg]]) — answered only on
    * partition-shaped layouts (every file single-valued and null-free
    * on every grouping column). Returned schema follows Spark's
    * complete-pushdown convention: group columns FIRST, then aggregate
    * columns, matched positionally by `V2ScanRelationPushDown`. */
  def fold(path: String, snap: () => Option[GraftTable.Manifest],
      agg: Aggregation, entries: Option[Seq[GraftTable.FileEntry]])
      : Option[(StructType, Seq[Seq[Any]])] = {
    def ref(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    val groupRefs: Seq[String] =
      agg.groupByExpressions().toSeq.map(e => ref(e).getOrElse(return None))
    val shapes: Seq[Shape] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => SCountStar
      case c: Count if !c.isDistinct => SCount(ref(c.column).getOrElse(return None))
      case mn: Min => SMin(ref(mn.column).getOrElse(return None))
      case mx: Max => SMax(ref(mx.column).getOrElse(return None))
      case _ => return None
    }
    // zero aggregates + GROUP BY is `SELECT DISTINCT part` — on a
    // partition-shaped layout the distinct set IS the manifest's group
    // keys (live groups only); zero aggregates WITHOUT grouping has
    // nothing to answer
    if (shapes.isEmpty && groupRefs.isEmpty) return None
    val m = snap().getOrElse(return None)
    val schema = StructType.fromDDL(m.schemaDdl)
    def field(n: String): Option[StructField] = schema.fields.find(_.name == n)
    val translated: Seq[(StructField, GraftPrune.MetaReq)] = shapes.map {
      case SCountStar =>
        (StructField("count_star", LongType, nullable = false),
          GraftPrune.CountStarReq)
      case SCount(n) =>
        val f = field(n).getOrElse(return None)
        (StructField(s"count_$n", LongType, nullable = false),
          GraftPrune.CountColReq(n, f.nullable))
      case SMin(n) =>
        val f = field(n).getOrElse(return None)
        (StructField(s"min_$n", f.dataType),
          GraftPrune.BoundReq(n, f.dataType, takeMax = false))
      case SMax(n) =>
        val f = field(n).getOrElse(return None)
        (StructField(s"max_$n", f.dataType),
          GraftPrune.BoundReq(n, f.dataType, takeMax = true))
    }
    val files = entries.getOrElse(GraftTable.filesOf(path, m))
    if (groupRefs.isEmpty) {
      val answers = GraftPrune.foldMetaAgg(files, translated.map(_._2))
        .getOrElse(return None)
      Some((StructType(translated.map(_._1).toArray), Seq(answers)))
    } else {
      val groupFields = groupRefs.map(n => field(n).getOrElse(return None))
      val rows = GraftPrune.foldGroupedMetaAgg(files,
        GraftPrune.identityDims(groupFields.map(f => f.name -> f.dataType)),
        translated.map(_._2))
        .getOrElse(return None)
        .map { case (key, answers) => key ++ answers }
      // group fields keep the TABLE's nullability: the fold proved the
      // grouping columns null-free, but the pushed-scan schema is
      // matched against the relation's attributes
      Some((StructType(groupFields ++ translated.map(_._1)), rows))
    }
  }
}

private[graft] class GraftNamedScan(path: String, tableSchema: StructType,
    required: StructType, private[graft] val pushed: Array[Filter], pin: Option[Long],
    options: CaseInsensitiveStringMap, limit: Option[Int] = None,
    pinned: Option[GraftTable.Manifest] = None,
    baseEntries: Option[Seq[GraftTable.FileEntry]] = None) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Runtime (dynamic partition/file pruning) filters Spark pushes at
    * execution: a join against a selective dim injects an IN-set on
    * the join key, and the re-planned Batch prunes files through the
    * per-file stats/blooms — q170's dim-driven file skipping, native
    * to every v2 join, no readPrunedByKeys call. */
  @volatile private var runtime: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // must resolve against THIS scan's (column-pruned) output — Spark
    // rejects attributes the scan does not produce
    required.fields
      .filter(f => GraftTable.statTag(f.dataType).isDefined)
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit =
    runtime = runtime ++ filters

  override def readSchema(): StructType = required
  override def description(): String = s"GraftNamed $path" +
    pin.map(v => s" VERSION AS OF $v").getOrElse("") +
    (if (pushed.isEmpty) "" else pushed.mkString(" PushedFilters: [", ", ", "]"))

  /** Resolved ONCE — normally the builder's pinned snapshot (the SAME
    * one its exact-prune claim classified against) — so everything
    * downstream (stats, split planning, reader factory) sees one
    * snapshot and a concurrent commit between pushdown, planning and
    * execution cannot tear the read or un-anchor the claim. */
  private val manifest: GraftTable.Manifest =
    pinned.orElse(pin.map(GraftTable.manifestAt(path, _)))
      .orElse(GraftTable.currentManifest(path))
      .getOrElse(throw new IllegalStateException(s"graft table '$path' vanished"))

  /** The REAL DSv2 read: manifest-planned splits through Spark's own
    * vectorized parquet readers, per-file deletion-vector/rename
    * handling inside the factory ([[graft.sources.GraftBatch]]). Stock
    * sessions — no extensions — get columnar whole-stage-fused scans
    * and the manifest-true statistics below (which a real v2 scan DOES
    * forward, unlike the old `V1ScanWrapper` fallback), so small named
    * dims auto-broadcast everywhere. */
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new graft.sources.GraftBatch(SparkSession.active, path, manifest,
      StructType.fromDDL(manifest.schemaDdl), required, pushed ++ runtime,
      // the limit file-subset composes with NOTHING: any static or
      // runtime filter drops rows after file selection, and a subset
      // chosen by liveRows could then under-deliver — forward the hint
      // only on a bare unfiltered scan
      limit.filter(_ => pushed.isEmpty && runtime.isEmpty),
      entriesOverride = baseEntries, onPlanned = b => lastPlanned = Some(b))

  /** The entries this scan plans before the pushed filters' stats
    * prune: the exact-prune claim's inside set (the filters then hold
    * on every live row), else the table's subset or whole snapshot. */
  private[graft] def entries: Seq[GraftTable.FileEntry] =
    baseEntries.getOrElse(GraftTable.filesOf(path, manifest))

  /** The batch whose partitions Spark planned last (a runtime filter
    * re-plans; `toBatch` also runs for plan equality checks, which plan
    * nothing). */
  @volatile private var lastPlanned: Option[graft.sources.GraftBatch] = None

  /** Files planned and files skipped by manifest stats/blooms (or a
    * runtime file-set filter), shown on the `BatchScan` node in the SQL
    * plan — the scan-level counterpart of [[GraftTable.PrunedScan]]'s
    * `filesRead`/`filesTotal`. */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftFilesPlannedMetric, new GraftFilesSkippedMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    lastPlanned.toArray.flatMap { b =>
      Seq(GraftScanMetrics.value(GraftScanMetrics.FilesPlanned, b.filesPlanned),
        GraftScanMetrics.value(GraftScanMetrics.FilesSkipped, b.filesSkipped))
    }

  /** Storage-partitioned joins: when the snapshot is cleanly bucketed
    * (`graft.bucketBy` declared, every surviving data-bearing file
    * single-bucket), report `bucket(n, k)` key-grouped partitioning —
    * with [[GraftCatalog.loadFunction]] binding the transform, two
    * co-bucketed tables join with ZERO exchange. Computed against the
    * STATIC pushed filters only: runtime filtering can only remove
    * whole buckets, which stays a subset of the reported key set. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val probe = new graft.sources.GraftBatch(SparkSession.active, path, manifest,
      StructType.fromDDL(manifest.schemaDdl), required, pushed,
      entriesOverride = baseEntries)
    probe.bucketedBy match {
      // single-column specs only: Spark's SPJ transform binding is
      // single-reference bucket() (see the partitioning() NOTE)
      case Some((cs, n)) if cs.length == 1 &&
          required.fieldNames.contains(cs.head) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, cs.head)),
          math.max(probe.bucketPartitionCount, 1))
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  /** Manifest-true, PRUNE-AWARE stats: called post-pushdown, so the
    * pushed filters have already narrowed the entry set through the
    * per-file stats/blooms — a sliced fact reports the slice's bytes,
    * not the table's, and join planning sees real cardinalities.
    *
    * COLUMN statistics ride along for Catalyst's CBO: exact null
    * counts from the per-file stats, and DISTINCT-COUNT estimates
    * folded from the bloom sidecars ([[GraftTable.bloomNdv]] — the
    * k-hash blooms double as cardinality sketches, zero extra write
    * cost). With `spark.sql.cbo.joinReorder.enabled` the multi-way
    * joins over named tables order themselves from real manifest
    * cardinalities instead of the syntactic order — at 100 TB that is
    * the difference between joining through the 100-row dim first and
    * materializing a fact×fact intermediate. Renamed entries report no
    * column stats (a retired physical name can collide with a current
    * logical one); DV'd snapshots keep NDV (the sketch is of the
    * physical key set — an upper bound) but drop null counts. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val entries = graft.sources.GraftBatchRead.keepByV1Filters(SparkSession.active,
      StructType.fromDDL(manifest.schemaDdl), this.entries, pushed)(_.stats)
    val (bytes, rows) = (entries.map(_.bytes).sum, entries.map(_.liveRows).sum)
    val anyDv = entries.exists(_.dv.isDefined)
    val anyRen = entries.exists(_.renames.exists(_.nonEmpty))
    val colStats: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      new java.util.HashMap()
    // zero-row part files (empty write partitions) carry no stats and
    // can't affect null counts or NDV — they must not veto the columns
    val statEntries = entries.filter(_.rows > 0)
    if (statEntries.nonEmpty && !anyRen) {
      StructType.fromDDL(manifest.schemaDdl).fields.foreach { f =>
        val ss = statEntries.flatMap(_.stats.get(f.name))
        if (ss.size == statEntries.size) {
          val nulls: Option[Long] = if (anyDv) None else Some(ss.map(_.nulls).sum)
          val blooms = ss.flatMap(_.bloom)
          val ndv: Option[Long] =
            if (blooms.size == statEntries.size) GraftTable.bloomNdv(blooms) else None
          if (nulls.isDefined || ndv.isDefined)
            colStats.put(
              org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  ndv.map(n => java.util.OptionalLong.of(math.min(n, rows)))
                    .getOrElse(java.util.OptionalLong.empty())
                override def nullCount(): java.util.OptionalLong =
                  nulls.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
              })
        }
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  /** `spark.readStream.table("graft.ns.t")` — the same micro-batch
    * stream as `readStream.format("graft").load(path)`, so named and
    * path-addressed consumers share offset/limit/consumer semantics.
    * Change-feed reads go through the metadata CHILD table
    * `graft.ns.t.changes` ([[GraftChangesTable]]), whose declared
    * schema carries the CDF columns this table's cannot. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(pin.isEmpty, "cannot stream from a time-travel pinned snapshot")
    require(!(options.containsKey("startingVersion") &&
        options.containsKey("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    new GraftMicroBatchStream(path, tableSchema, tableSchema, cdf = false,
      Option(options.get("startingVersion")),
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      options.getBoolean("ignoreChanges", false),
      Option(options.get("consumerId")),
      Option(options.get("startingTimestamp")))
  }
}

private[graft] object GraftScanMetrics {
  val FilesPlanned = "filesPlanned"
  val FilesSkipped = "filesSkipped"
  def value(n: String, v: Long)
      : org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

/** `filesPlanned` on a graft `BatchScan` node (Spark instantiates the
  * class by name to aggregate it, so it takes no arguments). */
class GraftFilesPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesPlanned
  override def description(): String = "files planned"
}

/** `filesSkipped` on a graft `BatchScan` node. */
class GraftFilesSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftScanMetrics.FilesSkipped
  override def description(): String = "files skipped by stats"
}

/** Batch writes as the REAL distributed DSv2 write
  * ([[graft.sources.GraftWrite]] — executor tasks stream their
  * partitions straight to staged parquet, the commit is one manifest
  * CAS; bucketed tables request their layout as a required
  * distribution + ordering, so plain SQL INSERTs keep
  * storage-partitioned joins engaged); streaming writes as the
  * distributed [[graft.sources.GraftStreamingWrite]]
  * (`writeStream.toTable`), keyed by the query's STABLE id so the
  * manifest high-water mark survives restarts (exactly-once across the
  * checkpoint/commit race). Append-only, like the V1 path sink:
  * Complete mode (truncate) refuses, Update mode is rejected by Spark
  * itself (no SupportsStreamingUpdateAsAppend — use foreachBatch with
  * the merge/SCD2 operators). */
private[graft] class GraftNamedWriteBuilder(path: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var overwriteAll = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  private def csv(k: String): Seq[String] =
    Option(info.options.get(k)).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  override def build(): Write = new graft.sources.GraftWrite(path, info,
    overwriteAll, csv("statsCols"), csv("bloomCols"))
}

/** The NAMED change-feed surface — an Iceberg-style metadata CHILD
  * table: `graft.ns.t.changes` exposes `graft.ns.t`'s row-level change
  * feed with the data columns plus `_change_type` / `_commit_version`,
  * so replica and audit consumers never need a filesystem path:
  *
  * {{{
  *   -- batch: a version span (defaults: full history → head)
  *   spark.read.option("startingVersion", 2).option("endingVersion", 5)
  *     .table("graft.ns.t.changes")
  *   -- streaming: the same incremental CDF as
  *   -- readStream.format("graft").option("readChangeFeed", true)
  *   spark.readStream.table("graft.ns.t.changes")
  * }}}
  *
  * Both forms ride [[graft.sources.GraftMicroBatchStream]]'s change
  * planner: COW rewrites emit delete(pre-image) + insert(new rows),
  * MOR vector swaps emit only their delta rows, planning is
  * O(changed files) per version — never a snapshot scan. The batch
  * form is the same partition set the stream would plan for the span,
  * served by the same reader factory. */
private[graft] class GraftChangesTable(tableName: String, parent: String)
    extends Table with SupportsRead {

  private def dataSchema: StructType = StructType.fromDDL(
    GraftTable.currentManifest(parent).getOrElse(
      throw new IllegalStateException(s"graft table '$parent' vanished")).schemaDdl)

  override def name(): String = tableName
  override def schema(): StructType = StructType(dataSchema.fields ++ Seq(
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): JMap[String, String] =
    java.util.Collections.emptyMap[String, String]()
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var required: StructType = schema()
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      /** Advisory: `_commit_version` bounds narrow the planned span
        * (whole versions never decode); everything reports residual, so
        * Spark re-applies the full predicate post-scan. */
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = { pushed = filters; filters }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def build(): Scan =
        new GraftChangesScan(parent, schema(), required, pushed, options)
    }
}

private[graft] class GraftChangesScan(parent: String, cdfSchema: StructType,
    required: StructType, pushed: Array[org.apache.spark.sql.sources.Filter],
    options: CaseInsensitiveStringMap) extends Scan {

  import GraftChangesScan.MetaNames

  private def dataSchema = StructType(cdfSchema.fields.dropRight(2))

  /** COLUMN PRUNING: only the requested data columns are decoded (the
    * per-file reader pushes the projection into the parquet read
    * schema), and the CDF metadata columns emit only when asked — a
    * named CDF consumer reading two columns of a wide table pays two
    * columns. */
  private val dataRequired = StructType(
    required.fields.filterNot(f => MetaNames.contains(f.name)))
  private val metaPick: Seq[Int] = required.fields
    .filter(f => MetaNames.contains(f.name))
    .map(f => MetaNames.indexOf(f.name)).toSeq

  override def readSchema(): StructType = required
  override def description(): String = s"GraftChanges $parent"

  /** Batch span: `startingVersion`/`startingTimestamp` pin the first
    * consumed version (default: full history), `endingVersion` the last
    * (default: head) — the exact partitions the stream would plan for
    * that span, through the same reader factory. Span options validate
    * LOUDLY at planning: non-numeric versions, a span beyond the head,
    * or an empty range each name the problem instead of surfacing an
    * opaque manifest-read failure mid-scan. */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    require(!(options.containsKey("startingVersion") &&
        options.containsKey("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    def numeric(k: String): Option[Long] = Option(options.get(k)).map { s =>
      try s.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"option '$k' must be a version number, got '$s'") }
    }
    val head = GraftTable.currentManifest(parent).getOrElse(
      throw new IllegalArgumentException(s"'$parent' is not a GraftTable")).version
    val from = numeric("startingVersion").map(v => math.max(0L, v - 1))
      .orElse(Option(options.get("startingTimestamp")).map { s =>
        val ts = GraftBatchRead.tsMicros(s)
        try GraftTable.manifestAsOf(parent, ts - 1).version
        catch { case _: IllegalArgumentException => 0L }
      }).getOrElse(0L)
    val to = numeric("endingVersion").getOrElse(head)
    require(to <= head,
      s"endingVersion $to is beyond the head of '$parent' (v$head)")
    require(from <= to, s"change span is empty: after v$from through v$to")
    // FILTER PUSHDOWN on the version axis: conjunctive `_commit_version`
    // bounds narrow the planned span — whole versions outside it never
    // even load their manifests. Best-effort (every filter is residual);
    // a filter-empty span legitimately plans zero partitions, unlike the
    // loud option-span refusal above.
    val (fLo, fHi) = GraftChangesScan.versionBounds(pushed)
    // DATA-predicate pruning: pushed filters entirely over data columns
    // feed the planner's per-file stats/bloom keep test — a keyed CDF
    // consumer skips changed files whose stats exclude the predicate
    // (best-effort; every filter is residual, so a skipped file only
    // ever removes rows the post-scan filter would drop anyway)
    val dataFilters = pushed.filter(f => f.references.nonEmpty &&
      f.references.forall(r => dataSchema.fieldNames.contains(r)))
    val planner = new GraftMicroBatchStream(parent, dataSchema, dataRequired,
      cdf = true, None, None, None, ignoreChanges = false,
      pruneFilters = dataFilters)
    val f = math.max(from, fLo.map(_ - 1).getOrElse(from))
    val t = math.min(to, fHi.getOrElse(to))
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        planner.planInputPartitions(graft.sources.GraftVersionOffset(f),
          graft.sources.GraftVersionOffset(t))
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        // full projection rides the stream factory untouched; a pruned
        // one shapes [data..., ct, cv] (or the no-data-column count
        // rows) into exactly the required columns
        if (dataRequired.nonEmpty && metaPick == Seq(0, 1))
          new graft.sources.GraftGroupReaderFactory
        else new graft.sources.GraftCdfProjectFactory(
          dataRequired.length, metaPick.toArray)
    }
  }

  /** `spark.readStream.table("graft.ns.t.changes")` — the identical
    * micro-batch CDF stream as the path-addressed
    * `readStream.format("graft").option("readChangeFeed", true)`. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!(options.containsKey("startingVersion") &&
        options.containsKey("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    // streaming stays full-schema: Spark applies no column pruning to
    // streaming DSv2 relations (see GraftScanBuilder's NOTE — verified
    // empirically, matching the built-in Kafka source)
    new GraftMicroBatchStream(parent, dataSchema, dataSchema, cdf = true,
      Option(options.get("startingVersion")),
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      ignoreChanges = false,
      Option(options.get("consumerId")),
      Option(options.get("startingTimestamp")))
  }
}

private[graft] object GraftChangesScan {
  /** The two trailing CDF metadata columns, in declared order. */
  val MetaNames: Seq[String] = Seq("_change_type", "_commit_version")

  /** Conjunctive `_commit_version` bounds from the pushed filters —
    * (lo, hi), both inclusive. Unrecognized shapes contribute nothing
    * (the plan re-applies every filter; a missed bound is only a missed
    * prune, never a wrong answer). */
  private[catalog] def versionBounds(
      fs: Array[org.apache.spark.sql.sources.Filter]): (Option[Long], Option[Long]) = {
    import org.apache.spark.sql.sources._
    val V = "_commit_version"
    def num(a: Any): Option[Long] = a match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    def walk(f: Filter): Unit = f match {
      case EqualTo(V, v) => num(v).foreach { n => tightenLo(n); tightenHi(n) }
      case GreaterThan(V, v) => num(v).foreach(n => tightenLo(n + 1))
      case GreaterThanOrEqual(V, v) => num(v).foreach(tightenLo)
      case LessThan(V, v) => num(v).foreach(n => tightenHi(n - 1))
      case LessThanOrEqual(V, v) => num(v).foreach(tightenHi)
      case In(V, vs) =>
        val ns = vs.toSeq.flatMap(num)
        if (ns.nonEmpty && ns.length == vs.length) { tightenLo(ns.min); tightenHi(ns.max) }
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    fs.foreach(walk)
    (lo, hi)
  }
}
