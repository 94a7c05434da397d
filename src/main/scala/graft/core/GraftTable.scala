package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.sources.{FileStatsSpec, GraftRowFileWriter, GraftWrittenFile}

/** A manifest-committed versioned table format — the "Delta/Iceberg seam"
  * [[TableIO]] documents, delivered in-repo. Closes SURVEY §2.1 S6
  * (Snowflake time travel, reference `models/intermediate/stg_dim_customer.sql:71`
  * `AT (TIMESTAMP => …)`) with a real snapshot-isolated read path instead of
  * the HWM-equivalence argument alone.
  *
  * Layout:
  * {{{
  *   table/
  *     _graft_log/v00000000000000000001.json   // one manifest per commit
  *     data/<commit>-part-*.parquet            // immutable data files
  * }}}
  * A manifest lists the table's data files with per-file column stats
  * (min/max/null-count). Readers resolve the latest manifest and read
  * exactly its file list — never a directory listing of `data/` — so a
  * reader racing any writer sees a complete committed snapshot
  * (snapshot isolation), and a crash between data-file upload and
  * manifest commit leaves only invisible orphans ([[vacuum]] reclaims).
  *
  * The commit point is a single put-if-absent of `v<N+1>.json`
  * (hard-link creation locally — atomic EEXIST on POSIX; conditional PUT
  * on an object store). Two writers racing the same version: exactly one
  * wins; [[append]]/[[overwrite]] rebase and retry, [[upsertByKey]]
  * surfaces `ConcurrentModificationException` (its read-set may be stale).
  *
  * Why this is the 100 TB shape (vs [[TableIO]]'s rename-swap):
  *  - object-store rename is copy+delete, not atomic — a manifest pointer
  *    commit is (Delta's protocol; re-derived here);
  *  - planning reads ONE small JSON instead of listing millions of
  *    objects;
  *  - per-file stats generalize partition pruning: any range predicate on
  *    a stats column skips whole files ([[readPruned]]), and
  *    [[writeClustered]] (range- or z-order-clustered layout,
  *    [[graft.operators.Ops.zorderKey]]) makes those ranges tight;
  *  - [[upsertByKey]] is copy-on-write at FILE granularity — only files
  *    actually holding a delta key are rewritten, O(touched files) write
  *    amplification vs O(touched partitions), with a delta-key-range
  *    stats prefilter so the touched-file scan itself skips.
  */
object GraftTable {

  private val LogDir = "_graft_log"
  private val DataDir = "data"
  private val DvDir = "_dv"
  private implicit val formats: Formats = DefaultFormats

  /** Per-file, per-column stats. `min`/`max` are encoded strings compared
    * under `t`'s ordering ([[cmp]]); absent when the file is all-NULL in
    * that column (or the type is unsupported). `bloom` (only for columns
    * the writer listed in `bloomCols`) is a split-block-free classic
    * bloom filter over the file's non-NULL values, encoded
    * `"<k>:<mBits>:<base64 bit array>"` — the point-lookup complement to
    * min/max: a hash-distributed layout where every file spans the full
    * key range prunes NOTHING by range, but a bloom proves most files
    * clean for an IN probe ([[readPrunedIn]]). */
  case class ColStats(t: String, min: Option[String], max: Option[String], nulls: Long,
      bloom: Option[String] = None)
  /** `renames` maps LOGICAL column name → PHYSICAL (in-file) name for
    * columns renamed after this file was written — [[renameColumn]] is a
    * metadata-only operation, so files keep their original field names
    * and readers project. Absent for files written under the current
    * schema. */
  /** A data file's deletion vector ([[DeletionVector]]): `path` names
    * the sidecar (relative to the table root, absolute for shallow
    * clones — [[resolveDv]]), `rows` is the TOTAL deleted-position
    * count (vectors only grow, so successive refs on one data file
    * have monotone `rows` and `newRows - oldRows` is the exact count
    * one commit deleted), `bytes` the encoded sidecar size. */
  case class DvRef(path: String, rows: Long, bytes: Long)

  case class FileEntry(path: String, rows: Long, bytes: Long, stats: Map[String, ColStats],
      renames: Option[Map[String, String]] = None, dv: Option[DvRef] = None) {
    /** Rows a read of this entry returns: physical minus deleted. */
    def liveRows: Long = rows - dv.map(_.rows).getOrElse(0L)
  }

  /** A pointer to a LEAF manifest: `path` (relative to `_graft_log/`)
    * names a JSON holding a `Seq[FileEntry]` chunk of the snapshot's file
    * list; `stats` aggregates the chunk's per-column bounds (min of mins,
    * max of maxes, summed null counts — a column appears only when EVERY
    * member file carries stats for it, so leaf-level pruning is exactly as
    * conservative as file-level). Leaves are immutable and content-
    * addressed by UUID name, so a commit that doesn't touch a chunk
    * carries the POINTER — the Iceberg manifest-list shape, re-derived:
    * commit cost is O(new files + leaf count), not O(table files), and a
    * pruned read parses only leaves whose aggregate stats intersect. */
  case class LeafRef(path: String, files: Int, rows: Long, bytes: Long,
      stats: Map[String, ColStats], dvRows: Long = 0L)

  /** The per-commit change-file log (Delta CDF's file-grain trick,
    * re-derived): every commit records the file entries it ADDED and the
    * entries it REMOVED relative to its parent — both already known at
    * commit time, so the log costs O(this commit's changes) manifest
    * bytes and zero extra IO. `truncate` marks an overwrite, whose
    * removed set is "everything before" (enumerating it would cost
    * O(table) at commit — the one op where the log can't be O(changes),
    * because the change itself isn't). A span of logged commits lets
    * [[diffVersions]]/[[readSince]] derive net changed-file sets by
    * chain replay — never calling [[filesOf]] on either snapshot, so a
    * diff over a billion-file table plans at O(changed files) without
    * parsing a single leaf manifest. Removed entries are recorded in
    * full (stats + renames) so the from-side pre-image read needs no
    * snapshot lookup. */
  case class ChangeLog(added: Seq[FileEntry], removed: Seq[FileEntry],
      truncate: Boolean = false)

  /** Entries as the change log stores them: path + rename map + row/byte
    * counts, stats and blooms STRIPPED — a diff read needs only enough
    * to locate and project the file ([[readFileSubset]]), and logging
    * full stats would double-store every added entry (it already lives
    * in `files`/a leaf) and make a wide COW commit's manifest carry
    * thousands of bloom strings. The log stays O(paths), which is what
    * keeps manifests planning-sized at 100 TB. */
  private def logEntries(es: Seq[FileEntry]): Seq[FileEntry] =
    es.map(fe => fe.copy(stats = Map.empty))

  /** `streamMarks` is the exactly-once ledger for streaming appends: per
    * stream id (a checkpoint-derived stable name), the highest micro-batch
    * id whose append COMMITTED. foreachBatch is at-least-once and batches
    * commit in order per query, so a high-water mark is a complete replay
    * filter. Optional for manifest-format backward compatibility.
    *
    * A snapshot's file list is `files` (inline entries — small/recent
    * commits) plus every [[LeafRef]] in `leaves`; `changes` is this
    * commit's [[ChangeLog]]. All three optional layers keep old
    * single-level manifests parsing unchanged (a missing change log just
    * breaks the chain fast path back to the snapshot diff). */
  case class Manifest(version: Long, tsUs: Long, op: String, schemaDdl: String,
      files: Seq[FileEntry], streamMarks: Option[Map[String, Long]] = None,
      leaves: Option[Seq[LeafRef]] = None, changes: Option[ChangeLog] = None,
      checks: Option[Map[String, String]] = None,
      properties: Option[Map[String, String]] = None)

  /** A range constraint for [[readPruned]]: keep files whose [min,max]
    * can intersect [lo,hi] (either bound optional). Bounds take ordinary
    * Scala/Java values (Int, Long, String, java.sql.Date/Timestamp,
    * LocalDate/LocalDateTime/Instant, BigDecimal, Double). */
  case class ColRange(col: String, lo: Option[Any] = None, hi: Option[Any] = None)

  /** A pruned scan: `df` holds every file that MAY satisfy the ranges
    * (callers apply the exact predicate on top); skip effectiveness is
    * `filesRead` of `filesTotal`. */
  case class PrunedScan(df: DataFrame, filesRead: Int, filesTotal: Int)

  // ---------------------------------------------------------------- manifest

  private def logDir(path: String) = new File(path, LogDir)
  private def manifestName(v: Long) = f"v$v%020d.json"

  private def manifestFiles(path: String): Seq[File] =
    Option(logDir(path).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.matches("v\\d{20}\\.json")).sortBy(_.getName).toSeq

  /** All commits, oldest first: (version, commit micros, operation). */
  def versions(path: String): Seq[(Long, Long, String)] =
    manifestFiles(path).map(parseManifest).map(m => (m.version, m.tsUs, m.op))

  /** DESCRIBE HISTORY as a relation: one row per retained commit —
    * (version, ts_us, op, n_files, n_rows, bytes, n_leaves). Manifest-
    * grain driver work; file counts come from leaf metadata without
    * parsing leaf bodies, so a deep history over a huge table stays
    * cheap to describe. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    manifestFiles(path).map(parseManifest).map { m =>
      val leaves = m.leaves.getOrElse(Nil)
      (m.version, m.tsUs, m.op,
        m.files.size + leaves.map(_.files).sum,
        m.files.map(_.liveRows).sum + leaves.map(l => l.rows - l.dvRows).sum,
        m.files.map(_.bytes).sum + leaves.map(_.bytes).sum,
        leaves.size)
    }.toDF("version", "ts_us", "op", "n_files", "n_rows", "bytes", "n_leaves")
  }

  /** DESCRIBE DETAIL at file grain: one row per live data file of the
    * current snapshot (or `version`) with its row/byte counts, its
    * deletion-vector load, and, per requested stats column, the
    * recorded [min, max, nulls] — the layout-debugging view (is my
    * clustering tight? which files would a predicate skip?) from
    * manifest metadata alone, zero data IO.
    *
    * The DV columns are the PURGE-SCHEDULING signal: `deleted_frac`
    * (masked rows / physical rows) is the per-row probe tax every scan
    * of that file pays and the dead fraction of its bytes read;
    * `dv_bytes` the sidecar weight. `SELECT * FROM graft_table_files(p)
    * WHERE deleted_frac > 0.2` is the operator's "what should REORG
    * PURGE fold?" query — SCALE.md documents the measured
    * read-amplification crossover. */
  def describeFiles(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val m = version.map(manifestAt(path, _)).orElse(currentManifest(path))
      .getOrElse(throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    filesOf(path, m).map { fe =>
      val stats = fe.stats.toSeq.sortBy(_._1).map { case (c, st) =>
        s"$c:[${st.min.getOrElse("")}..${st.max.getOrElse("")} nulls=${st.nulls}" +
          st.bloom.map(_ => " bloom").getOrElse("") + "]"
      }.mkString(" ")
      (fe.path, fe.liveRows, fe.bytes, fe.renames.map(_.size).getOrElse(0),
        fe.dv.map(_.rows).getOrElse(0L),
        fe.dv.map(_.bytes).getOrElse(0L),
        if (fe.rows == 0) 0.0 else fe.dv.map(_.rows).getOrElse(0L).toDouble / fe.rows,
        stats)
    }.toDF("file", "n_rows", "bytes", "n_renames", "n_deleted",
      "dv_bytes", "deleted_frac", "stats")
  }

  /** Per-column stats COVERAGE of the current snapshot as a relation —
    * the "what should I ANALYZE?" introspection behind [[analyzeStats]]:
    * for every schema column, how many live files carry min/max stats
    * and how many carry a bloom, against the live file total. Manifest
    * metadata alone, zero data IO. A column with partial coverage
    * prunes only its covered files (stats prune, never filter) — this
    * relation is how an operator spots that before paying for a scan
    * that reads everything. */
  def describeStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val m = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val files = filesOf(path, m)
    StructType.fromDDL(m.schemaDdl).fields.toSeq.map { f =>
      val per = files.flatMap(_.stats.get(f.name))
      (f.name, f.dataType.simpleString, statTag(f.dataType).isDefined,
        per.size.toLong, per.count(_.bloom.isDefined).toLong, files.size.toLong)
    }.toDF("column", "type", "stats_capable", "files_with_stats",
      "files_with_bloom", "files_total")
  }

  /** Registered consumers (CDC replicas, streaming checkpoints — the
    * vacuum retention contract's bookmark holders) as a relation:
    * consumer id, the last version it fully processed, the table head,
    * and its lag in versions. Manifest metadata alone. The operational
    * question this answers: "which lagging consumer is pinning my
    * vacuum horizon?" */
  def describeConsumers(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val m = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    m.streamMarks.getOrElse(Map.empty).toSeq
      .collect { case (k, v) if k.startsWith(ConsumerMarkPrefix) =>
        (k.stripPrefix(ConsumerMarkPrefix), v, m.version, m.version - v) }
      .sortBy(_._1)
      .toDF("consumer", "processed_version", "head_version", "lag_versions")
  }

  def currentVersion(path: String): Option[Long] =
    manifestFiles(path).lastOption.map(f => f.getName.stripPrefix("v").stripSuffix(".json").toLong)

  private def parseManifest(f: File): Manifest =
    JsonMethods.parse(new String(Files.readAllBytes(f.toPath), UTF_8)).extract[Manifest]

  private[graft] def manifestAt(path: String, version: Long): Manifest = {
    val f = new File(logDir(path), manifestName(version))
    require(f.exists, s"table '$path' has no version $version" +
      (if (manifestFiles(path).isEmpty) " (not a GraftTable)"
       else s" — earliest retained is ${manifestFiles(path).head.getName} (vacuumed?)"))
    parseManifest(f)
  }

  private[graft] def currentManifest(path: String): Option[Manifest] =
    if (tombstoned(path)) None
    else manifestFiles(path).lastOption.map(parseManifest)

  def exists(path: String): Boolean =
    !tombstoned(path) && manifestFiles(path).nonEmpty

  // ------------------------------------------------------ drop tombstones

  /** The DROP/RENAME fence: `_graft_log/_dropped` marks a reclaimed
    * name. It is written BEFORE the tree is deleted (or right after a
    * rename moves it), and [[tryCommit]] refuses to land any further
    * version behind it — a racing writer mid-CAS fails loudly instead
    * of committing into a half-deleted directory or resurrecting a
    * moved table at its old path. The fence outlives the delete; a
    * fresh v1 creation (CREATE/first write/CTAS) reclaims the name by
    * clearing it. [[exists]]/[[currentManifest]] treat a tombstoned
    * path as no-table, so readers never see the torn residue. */
  private def tombstoneFile(path: String): File = new File(logDir(path), "_dropped")

  private[graft] def tombstoned(path: String): Boolean = tombstoneFile(path).isFile

  private[graft] def tombstoneReason(path: String): String =
    try new String(Files.readAllBytes(tombstoneFile(path).toPath), UTF_8)
    catch { case _: java.io.IOException => "dropped" }

  /** Write the fence (idempotent). `reason` surfaces in the racing
    * writer's error — "dropped" or "renamed to '<new path>'". */
  private[graft] def markDropped(path: String, reason: String): Unit = {
    logDir(path).mkdirs()
    Files.write(tombstoneFile(path).toPath, reason.getBytes(UTF_8)): Unit
  }

  /** Delete a dropped table's tree but KEEP the fence (the tombstone
    * file and its directory chain) so stragglers stay fenced after the
    * reclaim completes. */
  private[graft] def reclaimDropped(path: String): Unit = {
    val keep = tombstoneFile(path).getCanonicalFile
    val keepDirs = Set(new File(path).getCanonicalFile, keep.getParentFile)
    def rm(f: File): Unit = {
      val cf = f.getCanonicalFile
      if (cf != keep) {
        Option(f.listFiles).foreach(_.foreach(rm))
        if (!keepDirs(cf)) f.delete(): Unit
      }
    }
    rm(new File(path))
  }

  /** Commit timestamp, strictly greater than the parent's so
    * [[readAsOf]] resolves unambiguously even for sub-microsecond
    * commit bursts. */
  private def commitTs(parent: Option[Manifest]): Long =
    math.max(System.currentTimeMillis * 1000L, parent.map(_.tsUs + 1).getOrElse(0L))

  /** Put-if-absent commit: hard-link a written temp file to the version
    * name — atomically fails with EEXIST if another writer committed this
    * version first (the object-store analogue is a conditional PUT). */
  private[graft] def tryCommit(path: String, m: Manifest): Boolean = {
    if (tombstoned(path)) {
      val reason = tombstoneReason(path)
      // a FIRST commit over a fully-reclaimed name re-creates the table
      // fresh — clear the fence; anything else is a racing writer whose
      // table vanished under it: refuse loudly, never resurrect
      if (m.version == 1 && manifestFiles(path).isEmpty)
        tombstoneFile(path).delete(): Unit
      else throw new IllegalStateException(
        s"graft table '$path' was $reason — cannot commit v${m.version}; " +
          "the snapshot this write was based on no longer exists")
    }
    val dir = logDir(path); dir.mkdirs()
    val tmp = new File(dir, ".tmp-" + java.util.UUID.randomUUID.toString)
    Files.write(tmp.toPath, Serialization.writePretty(m).getBytes(UTF_8))
    val target = new File(dir, manifestName(m.version))
    try { Files.createLink(target.toPath, tmp.toPath); tmp.delete(); true }
    catch { case _: FileAlreadyExistsException => tmp.delete(); false }
  }

  // ----------------------------------------------------------- leaf layer

  /** Inline-entry cap: commits whose running inline list stays under this
    * keep everything in the manifest (one JSON write, zero extra IO);
    * larger lists spill to a leaf. Volatile var ONLY so LeafManifestSpec
    * can shrink it to exercise the leaf machinery at test scale —
    * production code must treat it as a constant, and test suites that
    * mutate it must restore in `finally` and not run concurrently with
    * other writers in the JVM (sbt runs suites sequentially). Volatile
    * guarantees a mid-commit reader sees a current value, never a torn
    * one. */
  @volatile private[graft] var InlineFileLimit = 100
  /** Leaf-count cap: when a commit would carry more leaves than this, the
    * smallest half merge into one — size-tiered, so total consolidation
    * work over N appends is O(N log N) entries, amortized O(log N) per
    * commit, while read planning stays O(leaf count) manifest-side.
    * Same test-only-mutation contract as [[InlineFileLimit]]. */
  @volatile private[graft] var MaxLeaves = 32

  private def leafFile(path: String, ref: String): File = new File(logDir(path), ref)

  private def loadLeaf(path: String, ref: LeafRef): Seq[FileEntry] =
    JsonMethods.parse(new String(Files.readAllBytes(leafFile(path, ref.path).toPath), UTF_8))
      .extract[Seq[FileEntry]]

  /** Aggregate a chunk's per-file stats into leaf-level bounds. A column
    * qualifies only when every file tracks it (else leaf pruning could
    * skip a stats-less file the file-level rule would read); all-NULL
    * members contribute no bounds but keep the column qualified — rows
    * that could match a range live only in files WITH values, so bounds
    * over those files cover every possibly-matching row.
    *
    * When EVERY member file carries a bloom of identical (k, mBits)
    * shape, the leaf carries their bitwise OR — sound (a value in any
    * member sets its bits in the union) and the only leaf-grain pruner a
    * HASH-distributed layout has, where every leaf spans the full key
    * range and min/max prune nothing. Mixed shapes (writes under
    * different batch sizes) drop the leaf bloom — conservative, never
    * wrong. */
  private def aggregateStats(entries: Seq[FileEntry]): Map[String, ColStats] = {
    val cols = entries.map(_.stats.keySet).reduceOption(_ intersect _).getOrElse(Set.empty)
    cols.iterator.map { c =>
      val sts = entries.map(_.stats(c))
      val tag = sts.head.t
      val mins = sts.flatMap(_.min)
      val maxs = sts.flatMap(_.max)
      val bloom: Option[String] =
        if (sts.exists(_.bloom.isEmpty)) None
        else {
          val parsed = sts.map(_.bloom.get.split(":", 3))
          if (parsed.map(a => (a(0), a(1))).distinct.size != 1) None
          else {
            val acc = java.util.Base64.getDecoder.decode(parsed.head(2)).clone()
            parsed.tail.foreach { a =>
              val b = java.util.Base64.getDecoder.decode(a(2))
              var i = 0
              while (i < acc.length) { acc(i) = (acc(i) | b(i)).toByte; i += 1 }
            }
            Some(s"${parsed.head(0)}:${parsed.head(1)}:" +
              java.util.Base64.getEncoder.encodeToString(acc))
          }
        }
      c -> ColStats(tag,
        if (mins.isEmpty) None else Some(mins.min(Ordering.fromLessThan[String](cmp(tag, _, _) < 0))),
        if (maxs.isEmpty) None else Some(maxs.max(Ordering.fromLessThan[String](cmp(tag, _, _) < 0))),
        sts.map(_.nulls).sum, bloom)
    }.toMap
  }

  private[graft] def writeLeaf(path: String, entries: Seq[FileEntry]): LeafRef = {
    val dir = logDir(path); dir.mkdirs()
    val name = s"leaf-${java.util.UUID.randomUUID}.json"
    Files.write(leafFile(path, name).toPath,
      Serialization.writePretty(entries).getBytes(UTF_8))
    LeafRef(name, entries.size, entries.map(_.rows).sum, entries.map(_.bytes).sum,
      aggregateStats(entries), entries.map(fe => fe.dv.map(_.rows).getOrElse(0L)).sum)
  }

  /** Pack a snapshot's file list for the next commit: carry the parent's
    * leaves by pointer, keep the combined inline tail while it is small,
    * spill it to a new leaf when it is not, and size-tier-merge when the
    * leaf count itself outgrows [[MaxLeaves]]. Old-format manifests
    * (everything inline) roll into the policy unchanged — their inline
    * list simply spills on the first commit that overflows the cap. */
  private[graft] def packCommit(path: String, inline: Seq[FileEntry],
      parentLeaves: Seq[LeafRef]): (Seq[FileEntry], Option[Seq[LeafRef]]) = {
    val (files, leaves) =
      if (inline.size <= InlineFileLimit) (inline, parentLeaves)
      else (Nil, parentLeaves :+ writeLeaf(path, inline))
    val merged =
      if (leaves.size <= MaxLeaves) leaves
      else {
        val (small, big) = leaves.sortBy(_.files).splitAt(leaves.size / 2)
        big :+ writeLeaf(path, small.flatMap(loadLeaf(path, _)))
      }
    (files, if (merged.isEmpty) None else Some(merged))
  }

  /** The complete file list of a snapshot — inline entries plus every
    * leaf's, loaded in order. */
  private[graft] def filesOf(path: String, m: Manifest): Seq[FileEntry] =
    m.files ++ m.leaves.getOrElse(Nil).flatMap(loadLeaf(path, _))

  /** A data file's readable location: entry paths are normally relative
    * to the table root (`data/<name>.parquet`); a SHALLOW CLONE's
    * entries reference the source table's files by ABSOLUTE path
    * ([[cloneTable]]) and resolve as-is. */
  private[graft] def resolveData(path: String, fe: FileEntry): String =
    if (fe.path.startsWith("/")) fe.path else s"$path/${fe.path}"

  /** A deletion-vector sidecar's readable location — same relative/
    * absolute convention as [[resolveData]]. */
  private[graft] def resolveDv(path: String, ref: DvRef): String =
    if (ref.path.startsWith("/")) ref.path else s"$path/${ref.path}"

  private def totalFiles(m: Manifest): Int =
    m.files.size + m.leaves.getOrElse(Nil).map(_.files).sum

  // ------------------------------------------------------------ stats codec

  /** Stats type tag for a column, or None if the type carries no file
    * stats (arrays, structs, binary — never pruned, always read). */
  private[graft] def statTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case DateType => Some("date")
    case TimestampType | TimestampNTZType => Some("ts")
    case FloatType | DoubleType => Some("double")
    case _: DecimalType => Some("decimal")
    case StringType => Some("string")
    case _ => None
  }

  /** Encode a collected/caller value into the tag's comparable string
    * form (dates → epoch day, timestamps → epoch micros, numbers →
    * their exact decimal rendering, strings verbatim). */
  private[graft] def encode(tag: String, v: Any): String = (tag, v) match {
    case (_, null) => throw new IllegalArgumentException("null bound")
    case ("long", n: Number) => n.longValue.toString
    case ("date", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ("date", d: java.time.LocalDate) => d.toEpochDay.toString
    case ("ts", t: java.sql.Timestamp) =>
      // floorDiv, not /: pre-epoch fractional timestamps truncate toward
      // zero under integer division, recording bounds one second high
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case ("ts", t: java.time.Instant) =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case ("ts", t: java.time.LocalDateTime) =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case ("double", n: Number) => n.doubleValue.toString
    case ("decimal", d: java.math.BigDecimal) => d.toPlainString
    case ("decimal", d: scala.math.BigDecimal) => d.bigDecimal.toPlainString
    case ("decimal", n: Number) => new java.math.BigDecimal(n.toString).toPlainString
    case ("string", s: String) => s
    case (t, other) => throw new IllegalArgumentException(
      s"can't encode ${other.getClass.getName} as stats type '$t'")
  }

  /** Ordering under a tag: numeric tags compare numerically, strings in
    * UTF-8 BINARY order — matching Spark's own min/max and comparison
    * semantics exactly. (Java `String.compareTo` is UTF-16 code-unit
    * order, which diverges from Spark's UTF-8 byte order for
    * supplementary-plane code points: U+10000 sorts below U+E000 in
    * UTF-16 but above it in UTF-8. Stats bounds are computed BY Spark,
    * so probing them with the Java order could false-skip a matching
    * file in pruning and mis-fold the metadata aggregates.) */
  private[graft] def cmp(tag: String, a: String, b: String): Int = tag match {
    case "long" | "date" | "ts" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "decimal" => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  // ----------------------------------------------------------------- blooms

  /** Bloom shape: k hash probes per value, ~[[BloomBitsPerKey]] bits per
    * row capped at [[MaxBloomBits]] per file per column (8 KiB — the
    * manifest must stay planning-sized; files bigger than the cap keep a
    * working bloom with a gracefully higher false-positive rate, and a
    * false positive only costs a read, never a wrong result). */
  private[graft] val BloomK = 5
  private val BloomBitsPerKey = 10
  private[graft] val MaxBloomBits = 1 << 16

  private def bloomBits(maxRowsPerFile: Long): Int = {
    var m = 1024
    while (m < MaxBloomBits && m < BloomBitsPerKey * maxRowsPerFile) m <<= 1
    m
  }

  /** A writer's [[MaxBloomBits]] bitmap folded to an `m`-bit bloom by
    * OR-ing its `m`-bit slices: exact, because the positions are
    * `pmod(h, MaxBloomBits)` and `pmod(h, m) == pmod(h, MaxBloomBits) mod m`
    * for powers of two `m <= MaxBloomBits`. */
  private def foldBloom(bits: Array[Byte], m: Int): String = {
    val out = new Array[Byte](m / 8)
    for (i <- bits.indices) out(i % out.length) = (out(i % out.length) | bits(i)).toByte
    s"$BloomK:$m:" + java.util.Base64.getEncoder.encodeToString(out)
  }

  /** The write-side and probe-side hash MUST be the same function, so both
    * are the engine's own `xxhash64(value, probeIndex)` — the probe side
    * evaluates it through a one-row local job ([[probeHashes]]) instead of
    * re-implementing the hash on the driver. */
  private[graft] def bloomPositions(c: Column, dt: DataType, k: Int, m: Int): Column =
    array((0 until k).map(i => pmod(xxhash64(c.cast(dt), lit(i)), lit(m.toLong))): _*)

  /** DISTINCT-COUNT estimate from the per-file bloom sidecars — the
    * manifest's NDV channel for join planning, zero extra write cost:
    * a k-hash bloom doubles as a cardinality sketch via the standard
    * fill-ratio estimator `n ≈ -(m/k)·ln(1 − X/m)` (X = set bits).
    * Same-geometry blooms OR-merge first, so the estimate is of the
    * UNION of the files' key sets (duplicates across files collapse —
    * the right semantics for a table-level NDV); mixed geometries fall
    * back to the sum of per-file estimates, an upper bound. A
    * saturated bloom (every bit set) carries no signal — None. */
  private[graft] def bloomNdv(blooms: Seq[String]): Option[Long] = try {
    if (blooms.isEmpty) return None
    def parse(s: String): (Int, Int, Array[Byte]) = {
      val Array(k, m, b64) = s.split(":", 3)
      (k.toInt, m.toInt, java.util.Base64.getDecoder.decode(b64))
    }
    def estimate(k: Int, m: Int, bits: Array[Byte]): Option[Long] = {
      val x = bits.foldLeft(0L)((acc, b) => acc + java.lang.Integer.bitCount(b & 0xff))
      if (x >= m) None
      else Some(math.round(-(m.toDouble / k) * math.log1p(-x.toDouble / m)))
    }
    val parsed = blooms.map(parse)
    val geos = parsed.map(p => (p._1, p._2)).distinct
    if (geos.size == 1) {
      val (k, m) = geos.head
      val merged = new Array[Byte](m / 8)
      parsed.foreach(p => for (i <- merged.indices)
        merged(i) = (merged(i) | p._3(i)).toByte)
      estimate(k, m, merged)
    } else {
      val per = parsed.map(p => estimate(p._1, p._2, p._3).getOrElse(return None))
      Some(per.sum)
    }
    // a truncated/corrupt sidecar (even one whose declared geometry matches
    // the others but whose byte array is short) must degrade to no-NDV, not
    // fail planning from estimateStatistics
  } catch { case scala.util.control.NonFatal(_) => None }

  private[graft] def packBloom(k: Int, m: Int, positions: Seq[Long]): String = {
    val bytes = new Array[Byte](m / 8)
    positions.foreach { p => bytes(p.toInt >>> 3) = (bytes(p.toInt >>> 3) | (1 << (p.toInt & 7))).toByte }
    s"$k:$m:${java.util.Base64.getEncoder.encodeToString(bytes)}"
  }

  /** Raw `xxhash64(v, i)` for every probe value × hash index, computed BY
    * SPARK on the values (bit-identical to the write side by construction);
    * one driver-local job per pruned read, probe-list-sized. Positions for
    * a file with m bits are `floorMod(hash, m)`.
    *
    * Shape matters: the values ride as ROWS of a one-partition local
    * relation with k hash columns — NOT as values×k literal columns over
    * one row, which for a DPP-sized probe list (10³-10⁶ keys) builds a
    * 10⁴+-expression projection that Janino takes seconds to compile
    * (measured 3.8 s of q170's 4.4 s inside readPrunedByKeys). */
  private[graft] def probeHashes(spark: SparkSession, dt: DataType, values: Seq[Any],
      k: Int): Map[Any, Seq[Long]] = {
    val vals = values.toIndexedSeq
    val schema = StructType(Seq(
      StructField("__vi", org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("__v", dt)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      scala.jdk.CollectionConverters.SeqHasAsJava(
        vals.zipWithIndex.map { case (v, i) =>
          org.apache.spark.sql.Row(i, toExternal(dt, v)) }).asJava
    val hashed = spark.createDataFrame(rows, schema)
      .select(col("__vi") +: (0 until k).map(i =>
        xxhash64(col("__v"), lit(i)).as(s"h_$i")): _*)
      .collect()
    hashed.map(r => vals(r.getInt(0)) -> (1 to k).map(j => r.getLong(j)).toSeq).toMap
  }

  /** Coerce a probe value to `dt`'s external row type before it rides the
    * local relation: a row-based createDataFrame requires the exact JVM
    * class (an Integer probed against a BIGINT column throws
    * ClassCastException at collect — the literal path this replaced
    * coerced via `lit(v).cast(dt)`). Widening Number → the column's
    * numeric type reproduces that cast for every value that fits; a value
    * that does NOT fit (2^40 against an INT column) can match no row, so
    * any hash for it prunes safely — stats prune, the caller's exact
    * filter decides. Non-numeric types pass through unchanged. */
  private def toExternal(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (LongType, n: java.lang.Number) => n.longValue()
    case (IntegerType, n: java.lang.Number) => n.intValue()
    case (ShortType, n: java.lang.Number) => n.shortValue()
    case (ByteType, n: java.lang.Number) => n.byteValue()
    case (DoubleType, n: java.lang.Number) => n.doubleValue()
    case (FloatType, n: java.lang.Number) => n.floatValue()
    case (d: DecimalType, n: java.math.BigDecimal) =>
      n.setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case (d: DecimalType, n: scala.math.BigDecimal) =>
      n.bigDecimal.setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case (d: DecimalType, n: java.lang.Number) =>
      new java.math.BigDecimal(n.toString).setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case _ => v
  }

  /** One file's bloom sidecar decoded for repeated probing: (k, m, bits).
    * Decode ONCE per file per call site — a probe loop that re-decodes
    * the 8 KiB base64 payload per VALUE turns an O(files) planning pass
    * into O(files × values) allocation churn (the other 3.8 s half of
    * the q170 measurement). */
  private[graft] def parseBloom(bloom: String): (Int, Long, Array[Byte]) = {
    val Array(kS, mS, b64) = bloom.split(":", 3)
    (kS.toInt, mS.toLong, java.util.Base64.getDecoder.decode(b64))
  }

  private def bloomHit(pb: (Int, Long, Array[Byte]), rawHashes: Seq[Long]): Boolean = {
    val (k, m, bytes) = pb
    rawHashes.take(k).forall { h =>
      val p = java.lang.Math.floorMod(h, m).toInt
      (bytes(p >>> 3) & (1 << (p & 7))) != 0
    }
  }

  // ---------------------------------------------------------------- writing

  /** Default cap on auto-selected stats columns — the writer compares
    * every stats column of every row it writes and the manifest carries
    * each one per file, so "all of a 500-column table" would grow both
    * with the schema (Delta's dataSkippingNumIndexedCols draws the same
    * line at 32). An explicit `statsCols` list bypasses the cap. */
  val DefaultStatsCols = 32

  /** Columns that get file stats: the caller's list (uncapped), or the
    * first [[DefaultStatsCols]] stats-capable top-level columns. */
  private def resolveStatsCols(schema: StructType, statsCols: Seq[String]): Seq[StructField] = {
    if (statsCols.nonEmpty) statsCols.map(c => schema(c)).filter(f => statTag(f.dataType).isDefined)
    else schema.fields.toSeq.filter(f => statTag(f.dataType).isDefined).take(DefaultStatsCols)
  }

  /** What the one writer records of each file a write of `schema` into
    * `path` stages, resolved once on the driver before the write.
    * PROPERTY-DECLARED indexing: a table carrying `graft.statsCols` /
    * `graft.bloomCols` / `graft.bucketBy` stamps skipping stats on EVERY
    * write path — SQL INSERT, the streaming sink, COW rewrites, MOR
    * appends — not only callers that passed columns explicitly. Declared
    * columns absent from `schema` (evolution in flight) or of
    * un-indexable types are ignored; EXPLICIT arguments fail loudly.
    *
    *  - stats: the explicit and declared columns, or the first
    *    [[DefaultStatsCols]] when there are none ([[resolveStatsCols]]);
    *    every bloom column is a stats column too, to carry its filter;
    *  - bucket: the explicit spec, else `graft.bucketBy`, when its
    *    columns are all in `schema`. Each file records its bucket id —
    *    the shuffle-aligned `pmod(hash(cols), n)` that
    *    [[graft.catalog.GraftBoundBucket]] is defined by — under
    *    [[BucketStatCol]] if the file is single-bucket. A multi-bucket
    *    file records nothing; the scan then degrades from
    *    storage-partitioned joins, never lies. */
  private[graft] def fileStatsSpec(spark: SparkSession, path: String, schema: StructType,
      explicitStats: Seq[String] = Nil, explicitBlooms: Seq[String] = Nil,
      explicitBucket: Option[(Seq[String], Int)] = None): FileStatsSpec = {
    val declaredProps = currentManifest(path)
      .flatMap(_.properties).getOrElse(Map.empty)
    def declared(k: String): Seq[String] = declaredProps.get(k).toSeq
      .flatMap(_.split(',')).map(_.trim)
      .filter(c => c.nonEmpty && schema.fieldNames.contains(c) &&
        statTag(schema(c).dataType).isDefined)
    val statsCols = (explicitStats ++ declared("graft.statsCols")).distinct
    val bloomCols = (explicitBlooms ++ declared("graft.bloomCols")).distinct
    bloomCols.foreach(c =>
      require(statTag(schema(c).dataType).isDefined, s"column '$c' can't carry a bloom filter"))
    val fields0 = resolveStatsCols(schema, statsCols)
    val fields = fields0 ++ bloomCols.filterNot(c => fields0.exists(_.name == c)).map(c => schema(c))
    val bucket = (explicitBucket orElse bucketSpec(declaredProps))
      .filter { case (cs, _) => cs.forall(schema.fieldNames.contains) }
    val exprs = boundExprs(spark, schema,
      bucket.toSeq.map { case (cs, n) => pmod(hash(cs.map(col): _*), lit(n)) } ++
        bloomCols.map(c => bloomPositions(col(c), schema(c).dataType, BloomK, MaxBloomBits)))
    FileStatsSpec(fields.map(f => (f.name, schema.fieldIndex(f.name), f.dataType)),
      bucket.map(_ => exprs.head),
      bloomCols.zip(exprs.drop(bucket.size)).map { case (c, e) => (c, schema.fieldIndex(c), e) })
  }

  /** `cols` analyzed over a relation of `schema` and bound to its
    * ordinals, for a writer task to evaluate against each row. */
  private def boundExprs(spark: SparkSession, schema: StructType,
      cols: Seq[Column]): Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    if (cols.isEmpty) Nil
    else {
      val p = spark.createDataFrame(java.util.Collections.emptyList[Row], schema)
        .select(cols: _*).queryExecution.analyzed.asInstanceOf[Project]
      val input = new org.apache.spark.sql.catalyst.expressions.AttributeSeq(p.child.output)
      p.projectList.map(e =>
        org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference(e, input))
    }

  /** Write `df` into a hidden stage dir, one file per non-empty
    * partition, then hand the files to [[stageWritten]] (move into
    * `data/` under commit-unique names, CHECKs against `checks`). The
    * files come from the same executor writer as the v2 write surfaces
    * ([[graft.sources.GraftRowFileWriter]] over
    * [[org.apache.spark.sql.graftbridge.ClassicBridge.parquetWriteConf]]),
    * in one job over `df`'s rows, and each reports the stats, bucket id
    * and blooms [[fileStatsSpec]] asks for; an empty partition opens no
    * file, so an empty write stages nothing and commits its parent's
    * file list verbatim. */
  private def stageFiles(df: DataFrame, path: String, statsCols: Seq[String],
      clusterBy: Option[(Column, Int)], checks: Map[String, String],
      bloomCols: Seq[String] = Nil, bucket: Option[(Seq[String], Int)] = None): Seq[FileEntry] = {
    val spark = df.sparkSession
    val stage = new File(path, ".stage-" + java.util.UUID.randomUUID.toString.take(8))
    stage.mkdirs()
    // a declared `graft.bucketBy` keeps EVERY driver-staged write path
    // (append / upsert / SQL INSERT) single-bucket-per-file — the
    // repartition IS Spark's shuffle assignment, so the id the writer
    // records matches GraftBoundBucket by construction
    val effBucket = (bucket orElse bucketSpec(
      currentManifest(path).flatMap(_.properties).getOrElse(Map.empty)))
      .filter { case (cs, _) => cs.forall(df.schema.fieldNames.contains) }
    val out = clusterBy match {
      case Some((c, n)) => df.repartitionByRange(n, c).sortWithinPartitions(c)
      case None => effBucket match {
        // sorted within each bucket: file-level min/max on a hashed key
        // can't prune, but parquet ROW-GROUP stats inside the bucket
        // file become tight, so point/range probes on the bucket key
        // still skip row groups — clustering's consolation prize at
        // zero extra shuffle (the sort is in-task)
        case Some((cs, n)) =>
          df.repartition(n, cs.map(col): _*).sortWithinPartitions(cs.map(col): _*)
        case None => df
      }
    }
    val conf = org.apache.spark.sql.graftbridge.ClassicBridge.parquetWriteConf(spark, df.schema)
    val spec = fileStatsSpec(spark, path, df.schema, statsCols, bloomCols, effBucket)
    val dir = stage.getAbsolutePath
    try {
      val written = org.apache.spark.sql.graftbridge.ClassicBridge.writePartitions(out) {
        (task, rows) =>
          val w = new GraftRowFileWriter(dir, "part", task.partitionId, task.taskAttemptId,
            conf, spec)
          try { rows.foreach(w.write); w.commit() }
          catch { case e: Throwable => w.abort(); throw e }
      }.filter(_.file.nonEmpty)
      stageWritten(spark, path, df.schema, written.toSeq, checks)
    } finally TableIO.clearDir(stage.toString)
  }

  /** The stage step every write shares, over files the one writer
    * already wrote (from [[stageFiles]] or straight from executor
    * DataWriters): move into `data/` ([[stagePartEntries]]), then the
    * one CHECK step ([[checkStaged]]) against `checks`. */
  private def stageWritten(spark: SparkSession, path: String, schema: StructType,
      written: Seq[GraftWrittenFile], checks: Map[String, String]): Seq[FileEntry] = {
    if (written.isEmpty) return Nil
    val staged = stagePartEntries(path, java.util.UUID.randomUUID.toString.take(8), written)
    checkStaged(spark, path, schema, staged, checks)
    staged
  }

  /** The move half of [[stageWritten]]: MOVE the files the one executor
    * writer ([[graft.sources.GraftRowFileWriter]]) wrote — for
    * [[stageFiles]] or for a v2 batch, streaming or row-level write —
    * into `data/` under commit-unique names, and build their manifest
    * entries from what that writer recorded: rows, stats and bucket id,
    * with each bloom folded to the batch's size ([[bloomBits]] of its
    * largest file, [[foldBloom]]). It reads no file and runs no Spark
    * job. */
  private def stagePartEntries(path: String, commitId: String,
      written: Seq[GraftWrittenFile]): Seq[FileEntry] = {
    val m = bloomBits(written.map(_.rows).max)
    val dataDir = new File(path, DataDir); dataDir.mkdirs()
    written.map { w =>
      val p = new File(w.file)
      val name = s"$commitId-${p.getName}"
      val bytes = p.length
      Files.move(p.toPath, new File(dataDir, name).toPath): Unit
      val stats = w.stats.map { case (c, cs) =>
        c -> w.blooms.get(c).fold(cs)(b => cs.copy(bloom = Some(foldBloom(b, m))))
      }
      FileEntry(s"$DataDir/$name", w.rows, bytes, stats)
    }
  }

  private def activeChecks(path: String): Map[String, String] =
    currentManifest(path).flatMap(_.checks).getOrElse(Map.empty)

  /** The one CHECK step of every write (SQL semantics: a row violates
    * only when the predicate evaluates FALSE — NULL passes): one limit-1
    * job over the STAGED files themselves (never a recompute of the
    * frame that produced them) when any checks are given, zero cost
    * otherwise; a violation deletes those files before it throws. The
    * stage step runs it against the checks read before staging; the
    * commit loops run it again whenever the head they rebase on carries
    * a different set (a concurrent [[addCheck]] scanned the table it
    * saw, never our uncommitted stage — without the re-check the loser
    * would attach a check it never ran). */
  private def checkStaged(spark: SparkSession, path: String, schema: StructType,
      staged: Seq[FileEntry], checks: Map[String, String]): Unit =
    if (staged.nonEmpty && checks.nonEmpty) {
      val viol = checks.toSeq.map { case (n, sql) => (n, expr(sql) <=> lit(false)) }
      val hit =
        try spark.read.schema(schema).parquet(staged.map(resolveData(path, _)): _*)
          .filter(viol.map(_._2).reduce(_ || _))
          .select(viol.map { case (n, c) => c.as(n) }: _*).head(1)
        catch { case e: Throwable => reclaim(path, staged); throw e }
      hit.headOption.foreach { row =>
        reclaim(path, staged)
        val names = viol.map(_._1).zipWithIndex.collect { case (n, i) if row.getBoolean(i) => n }
        throw new IllegalArgumentException(
          s"write to '$path' violates CHECK constraint(s) " +
            names.map(n => s"$n [${checks(n)}]").mkString(", ") +
            " — fix the batch or dropCheck first")
      }
    }

  /** Delete staged files a refused commit leaves in no manifest. */
  private def reclaim(path: String, staged: Seq[FileEntry]): Unit =
    staged.foreach(fe => new File(resolveData(path, fe)).delete(): Unit)

  private def sameSchema(ddl: String, schema: StructType): Boolean = {
    val a = StructType.fromDDL(ddl).fields.map(f => (f.name, f.dataType)).toSeq
    a == schema.fields.map(f => (f.name, f.dataType)).toSeq
  }

  /** Test seam: runs between staging and the first commit attempt — the
    * window a concurrent commit (e.g. [[addCheck]]) can land in. The spec
    * uses it to stage the check-attach race deterministically. */
  private[graft] var betweenStageAndCommitForTests: () => Unit = () => ()

  private def writeOp(df: DataFrame, path: String, op: String, statsCols: Seq[String],
      clusterBy: Option[(Column, Int)], bloomCols: Seq[String] = Nil,
      bucket: Option[(Seq[String], Int)] = None,
      mark: Option[(String, Long)] = None): Long = {
    val checks = activeChecks(path)
    commitStaged(df.sparkSession, path, op, df.schema,
      stageFiles(df, path, statsCols, clusterBy, checks, bloomCols, bucket), checks, mark)
  }

  /** The ONE CAS loop behind every staged `overwrite`, `append` and
    * `stream_append` — the Scala API ([[writeOp]]) and the v2 batch and
    * streaming commits ([[commitWritten]]) alike: rebase `staged` on
    * whatever head it finds until its conditional PUT wins. On each
    * rebase it re-runs the CHECK step against a moved check set (on the
    * staged files, never a recompute of the source frame). Appends and
    * stream appends refuse a drop/rename fence (the overwrite/create
    * paths reclaim a name deliberately; an append never does) and a
    * schema that differs from the table's by name or type. A `mark`
    * (stream id → batch id) makes the commit exactly-once: a head whose
    * mark for that stream already reached the batch means a replay
    * committed first, and the commit returns -1. Every refusal deletes
    * the staged files. */
  private def commitStaged(spark: SparkSession, path: String, op: String,
      schema: StructType, staged: Seq[FileEntry], checked: Map[String, String],
      mark: Option[(String, Long)]): Long = {
    def refuse(e: Throwable): Nothing = { reclaim(path, staged); throw e }
    val append = op != "overwrite"
    var validated = checked
    betweenStageAndCommitForTests()
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(path)
      val marks = cur.flatMap(_.streamMarks)
      if (mark.exists { case (id, b) => marks.flatMap(_.get(id)).exists(_ >= b) }) {
        reclaim(path, staged)
        return -1L
      }
      val curChecks = cur.flatMap(_.checks).getOrElse(Map.empty)
      if (curChecks != validated) {
        checkStaged(spark, path, schema, staged, curChecks)
        validated = curChecks
      }
      if (append && cur.isEmpty && tombstoned(path))
        refuse(new IllegalStateException(
          s"graft table '$path' was ${tombstoneReason(path)} — append aborted"))
      cur.filter(m => append && !sameSchema(m.schemaDdl, schema)).foreach { m =>
        refuse(new IllegalArgumentException(
          s"$op schema mismatch vs '$path' v${m.version}: table has " +
            s"[${m.schemaDdl}], append has [${schema.toDDL}] — overwrite to evolve"))
      }
      val (files, leaves) =
        if (append) packCommit(path, cur.map(_.files).getOrElse(Nil) ++ staged,
          cur.flatMap(_.leaves).getOrElse(Nil))
        else packCommit(path, staged, Nil)
      // an append keeps the TABLE's declared schema (the batch conforms
      // to it; it must not redefine it) — adopting the batch's DDL could
      // flip an evolved always-nullable column to NOT NULL while old
      // files still null-fill it, poisoning every consumer that trusts
      // declared nullability (metadata count(col), join planning).
      // Nullability only ever WIDENS: a batch that declares a column
      // nullable relaxes the table's claim.
      val nextDdl = cur match {
        case Some(m) if append =>
          val batchNullable = schema.map(f => f.name -> f.nullable).toMap
          StructType(StructType.fromDDL(m.schemaDdl).fields.map(f =>
            f.copy(nullable = f.nullable ||
              batchNullable.getOrElse(f.name, f.nullable)))).toDDL
        case _ => schema.toDDL
      }
      val next = Manifest(cur.map(_.version + 1).getOrElse(1L),
        commitTs(cur), op, nextDdl, files,
        mark.map(marks.getOrElse(Map.empty) + _) orElse marks, leaves,
        Some(ChangeLog(logEntries(staged), Nil, truncate = !append)),
        checks = cur.flatMap(_.checks), properties = cur.flatMap(_.properties))
      if (tryCommit(path, next)) committed = next.version
      // else: another writer took this version — rebase on its snapshot and retry
    }
    committed
  }

  /** Replace the table's contents (schema may change). Returns the
    * committed version. `bloomCols` adds a per-file bloom filter on those
    * columns for [[readPrunedIn]] point-lookup skipping (one extra
    * staged-files pass per column at write time; copy-on-write rewrites
    * drop the bloom for rewritten files — safe, stats only ever PRUNE). */
  def overwrite(df: DataFrame, path: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long =
    writeOp(df, path, "overwrite", statsCols, None, bloomCols)

  /** Add `df`'s rows (schema must match). Returns the committed version. */
  def append(df: DataFrame, path: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long =
    writeOp(df, path, "append", statsCols, None, bloomCols)

  /** Create an EMPTY table: a schema-only v1 commit (op `create`) so
    * DDL-first workflows — `CREATE TABLE graft.dwh.t (k INT, …)` through
    * [[graft.catalog.GraftCatalog]] — get a readable zero-row table
    * whose first data write is an ordinary append. Racing creators are
    * safe: the v1 conditional PUT admits exactly one winner, the loser
    * fails loudly (reference analogue: every model materializes into a
    * schema-qualified named table, `macros/generate_schema_name.sql:1-3`). */
  def create(path: String, schema: StructType,
      properties: Map[String, String] = Map.empty): Long = {
    require(schema.nonEmpty, s"CREATE TABLE '$path' needs at least one column")
    require(!exists(path), s"graft table '$path' already exists")
    val m = Manifest(1L, commitTs(None), "create", schema.toDDL, Nil,
      properties = if (properties.isEmpty) None else Some(properties))
    require(tryCommit(path, m), s"graft table '$path' already exists (racing creator won)")
    1L
  }

  /** Schema-EVOLVING append (Delta's mergeSchema, re-derived): the
    * committed schema becomes the union of the table's and the batch's —
    * batch-only columns join as always-nullable (existing files read
    * them as NULL through the guaranteed-absent indirection
    * [[addColumn]] uses, so a re-added dropped name can never resurrect
    * stale on-disk values), table-only columns land as NULL in the new
    * rows (parquet schema-on-read — the staged files simply lack them),
    * and a same-name dataType conflict refuses loudly (silent coercion
    * on a 100 TB table is how data dies). Widening + append is ONE
    * commit — readers never observe the half-evolved state. Zero data
    * IO beyond the batch itself. */
  def appendEvolve(df: DataFrame, path: String, statsCols: Seq[String] = Nil): Long = {
    // union-merge the batch schema into `table`, refusing type conflicts
    def mergeInto(table: StructType): (StructType, Seq[StructField]) = {
      val conflicts = df.schema.fields.flatMap { f =>
        table.fields.find(_.name == f.name)
          .filter(_.dataType != f.dataType)
          .map(t => s"${f.name}: table ${t.dataType.sql} vs batch ${f.dataType.sql}")
      }
      require(conflicts.isEmpty,
        s"appendEvolve type conflict(s) on '$path': ${conflicts.mkString("; ")} — " +
          "evolution adds columns, it never retypes them")
      val newCols = df.schema.fields.filterNot(f => table.fieldNames.contains(f.name))
      (StructType(table.fields ++ newCols.map(_.copy(nullable = true))), newCols.toSeq)
    }
    // Staged files carry the full merged schema at stage time (batch rows
    // under the merged column ORDER, table-only columns as typed NULLs —
    // stats-richer than schema-on-read). A racing schema change between
    // stage and commit forces a RESTAGE under the new merge (a staged
    // column could carry a type the new merge contradicts); the orphaned
    // first stage is invisible and vacuum reclaims it. On a not-yet-
    // existing table this rebase loop is what makes two racing creators
    // safe: the loser re-reads the winner's manifest and evolves against
    // it instead of overwriting — no committed batch is ever dropped.
    var stagedAgainst: Option[Option[String]] = None
    var staged: Seq[FileEntry] = Nil
    var stagedSchema: StructType = df.schema
    var validatedChecks = Map.empty[String, String]
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(path)
      val (merged, newCols) = cur match {
        case Some(c) => mergeInto(StructType.fromDDL(c.schemaDdl))
        case None => (df.schema, Nil)
      }
      val curChecks = cur.flatMap(_.checks).getOrElse(Map.empty)
      if (!stagedAgainst.contains(cur.map(_.schemaDdl))) {
        val aligned = df.select(merged.fields.map { f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq: _*)
        staged = stageFiles(aligned, path, statsCols, None, curChecks)
        stagedSchema = aligned.schema
        validatedChecks = curChecks
        stagedAgainst = Some(cur.map(_.schemaDdl))
      }
      if (curChecks != validatedChecks) {
        checkStaged(df.sparkSession, path, stagedSchema, staged, curChecks)
        validatedChecks = curChecks
      }
      // pre-existing files route each NEW column to a guaranteed-absent
      // physical name (the addColumn discipline)
      val absent = newCols.map(f =>
        f.name -> s"__graft_absent_${java.util.UUID.randomUUID.toString.take(8)}").toMap
      def evolveEntry(fe: FileEntry): FileEntry =
        if (absent.isEmpty) fe
        else fe.copy(renames = Some(fe.renames.getOrElse(Map.empty) ++ absent))
      val inline = cur.map(_.files.map(evolveEntry)).getOrElse(Nil) ++ staged
      val leaves = cur.flatMap(_.leaves).getOrElse(Nil).map { l =>
        if (absent.isEmpty) l else writeLeaf(path, loadLeaf(path, l).map(evolveEntry))
      }
      val (files, packedLeaves) = packCommit(path, inline, leaves)
      val next = Manifest(cur.map(_.version + 1).getOrElse(1L), commitTs(cur),
        "append_evolve", merged.toDDL, files, cur.flatMap(_.streamMarks), packedLeaves,
        Some(ChangeLog(logEntries(staged), Nil)), checks = cur.flatMap(_.checks), properties = cur.flatMap(_.properties))
      if (tryCommit(path, next)) committed = next.version
    }
    committed
  }

  /** EXACTLY-ONCE streaming append: a no-op if `batchId` is at or below
    * `streamId`'s committed high-water mark (the at-least-once foreachBatch
    * replay case — a replay can only happen when the original attempt's
    * manifest commit never landed, or when the checkpoint commit was lost
    * AFTER our commit; both resolve correctly against the mark). Returns
    * the committed version, or -1 for a skipped replay. Data files written
    * by an attempt that failed before its manifest commit are invisible
    * orphans (vacuum reclaims) — never partial table state. */
  def appendStream(df: DataFrame, path: String, streamId: String, batchId: Long,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    require(streamId.nonEmpty, "need a stable stream id")
    val hwm = currentManifest(path).flatMap(_.streamMarks).flatMap(_.get(streamId))
    if (hwm.exists(_ >= batchId)) return -1L
    writeOp(df, path, "stream_append", statsCols, None, bloomCols,
      mark = Some(streamId -> batchId))
  }

  /** The commit half of the DSv2 BATCH and STREAMING writes
    * ([[graft.sources.GraftBatchWrite]] — stock-session `INSERT INTO` /
    * `INSERT OVERWRITE` / CTAS on catalog names;
    * [[graft.sources.GraftStreamingWrite]] — `writeStream.toTable`):
    * fold files ALREADY WRITTEN by executor DataWriter tasks into the
    * manifest through the same two steps as the driver-staged
    * [[append]]/[[overwrite]]/[[appendStream]] — [[stageWritten]] (move,
    * CHECKs; the writers recorded the stats) and the [[commitStaged]] CAS
    * loop. The rows never pass through the driver. `op` is `overwrite`,
    * `append` or `stream_append`; a stream append carries its (stream
    * id, epoch) `mark`, and a replayed epoch deletes its files and
    * returns -1. */
  private[graft] def commitWritten(spark: SparkSession, path: String, op: String,
      parts: Seq[GraftWrittenFile], schema: StructType,
      mark: Option[(String, Long)] = None): Long = {
    val checks = activeChecks(path)
    commitStaged(spark, path, op, schema,
      stageWritten(spark, path, schema, parts, checks), checks, mark)
  }

  /** The commit half of a DSv2 GROUP-BASED row-level operation
    * ([[graft.catalog.GraftGroupOperation]] — stock-session
    * `UPDATE`/`MERGE INTO`/complex `DELETE` on catalog names): replace
    * `removed` (the files the operation's scan planned, already
    * narrowed by the pushed-condition stats prune) with the
    * executor-written `stagedParts`, in ONE manifest CAS. Same
    * writer-recorded stats and blooms, CHECK enforcement, and
    * property-declared indexing as every other write
    * ([[fileStatsSpec]], [[stagePartEntries]]).
    *
    * Concurrency: the rebase loop tolerates concurrent APPENDS (the
    * removed set is still present — new files carry forward), but a
    * concurrent rewrite of any scanned file means the rows this
    * operation computed are stale — refuse loudly, never merge-blind.
    * Removing a dv'd scanned file retires its sidecar reference with
    * it (the rewritten rows were read live-only). */
  private[graft] def replaceFilesCommit(spark: SparkSession, path: String,
      removed: Seq[FileEntry], stagedParts: Seq[GraftWrittenFile], schema: StructType,
      op: String): Long = {
    val removedKeys = removed.map(_.path).toSet
    // scan-time vector per scanned file: a concurrent DV swap keeps the
    // path but changes which rows are live — rows this operation computed
    // under the old vector would silently resurrect concurrent deletes
    val removedDv: Map[String, Option[DvRef]] =
      removed.map(fe => fe.path -> fe.dv).toMap
    var validatedChecks = activeChecks(path)
    val entries = stageWritten(spark, path, schema, stagedParts, validatedChecks)
    betweenStageAndCommitForTests()
    try {
      var committed = -1L
      while (committed < 0) {
        val cur = currentManifest(path).getOrElse(
          throw new IllegalStateException(s"graft table '$path' vanished mid-operation"))
        val curChecks = cur.checks.getOrElse(Map.empty)
        if (curChecks != validatedChecks) {
          checkStaged(spark, path, schema, entries, curChecks)
          validatedChecks = curChecks
        }
        val loaded = cur.leaves.getOrElse(Nil).map(l => l -> loadLeaf(path, l))
        def isRemoved(fe: FileEntry) = removedKeys(fe.path)
        val (tInline, uInline) = cur.files.partition(isRemoved)
        val (dirtyLeaves, cleanLeaves) = loaded.partition(_._2.exists(isRemoved))
        val removedNow = tInline ++ dirtyLeaves.flatMap(_._2).filter(isRemoved)
        if (removedNow.map(_.path).toSet != removedKeys)
          throw new java.util.ConcurrentModificationException(
            s"row-level $op on '$path' lost a race: scanned file(s) were rewritten " +
              "by a concurrent commit — re-run the statement")
        // same-path-different-vector is just as stale as a rewrite: the
        // operation read rows under the scan-time vector (applyDeltaCommit
        // guards the identical hazard via pinnedDv)
        removedNow.find(fe => removedDv.get(fe.path).exists(_ != fe.dv)).foreach { fe =>
          throw new java.util.ConcurrentModificationException(
            s"row-level $op on '$path' lost a race: scanned file '${fe.path}' was " +
              "re-vectored by a concurrent commit — re-run the statement")
        }
        val survivors = dirtyLeaves.flatMap(_._2).filterNot(isRemoved)
        val (files, leaves) = packCommit(path, uInline ++ survivors ++ entries,
          cleanLeaves.map(_._1))
        val next = Manifest(cur.version + 1, commitTs(Some(cur)), op,
          cur.schemaDdl, files, cur.streamMarks, leaves,
          Some(ChangeLog(logEntries(entries), logEntries(removedNow))),
          checks = cur.checks, properties = cur.properties)
        if (tryCommit(path, next)) committed = next.version
      }
      committed
    } catch { case e: Throwable => reclaim(path, entries); throw e }
  }

  /** The commit half of a DSv2 DELTA-BASED (merge-on-read) row-level
    * operation ([[graft.catalog.GraftDeltaOperation]] — stock-session
    * `UPDATE`/`MERGE`/complex `DELETE` on `graft.deletionVectors`
    * tables): merge the executor-staged (file, pos) deletes into
    * per-file [[DeletionVector]] sidecars — written FROM THE EXECUTORS,
    * the driver never holds a position list — swap dv pointers, append
    * the staged inserted rows, ONE commit. O(changed rows) end to end,
    * the same cost shape as the extension dialect's morDml.
    *
    * Concurrency: a touched file must still be present with the SAME
    * vector this operation's scan read (positions were computed against
    * it); anything else refuses loudly — a concurrent MOR write to the
    * same file could have killed rows this statement resurrects as
    * updates. Untouched files rebase freely. */
  private[graft] def applyDeltaCommit(spark: SparkSession, path: String,
      pinned: Manifest, posParts: Seq[File], dataParts: Seq[GraftWrittenFile],
      schema: StructType, op: String): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalStateException(s"graft table '$path' vanished mid-operation"))
    val loaded = cur.leaves.getOrElse(Nil).map(l => l -> loadLeaf(path, l))
    val allEntries = cur.files ++ loaded.flatMap(_._2)
    val byUri: Map[String, FileEntry] =
      allEntries.map(fe => fileUri(path, fe) -> fe).toMap
    // executor-side merge: per touched file, union the fresh positions
    // with the file's CURRENT vector and write one new sidecar
    val merged: Map[String, (String, Long, Long)] = // fileUri -> (dv name, total, bytes)
      if (posParts.isEmpty) Map.empty
      else {
        import spark.implicits._
        val oldDvByFile: Map[String, String] = allEntries.flatMap(fe =>
          fe.dv.map(d => fileUri(path, fe) -> resolveDv(path, d))).toMap
        val dvDirAbs = { val d = new File(path, DvDir); d.mkdirs(); d.getAbsolutePath }
        val posSchema = StructType(Seq(
          org.apache.spark.sql.types.StructField("f", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.LongType)))
        spark.read.schema(posSchema).parquet(posParts.map(_.toString): _*)
          .as[(String, Long)].groupByKey(_._1).mapGroups { (f, it) =>
            val fresh = it.map(_._2).toArray.distinct.sorted
            val union = DeletionVector.union(
              oldDvByFile.get(f).map(DeletionVector.load)
                .getOrElse(Array.emptyLongArray), fresh)
            val name = s"dv-${java.util.UUID.randomUUID}.dv"
            val bytes = DeletionVector.write(new File(dvDirAbs, name), union)
            (f, name, union.length.toLong, bytes)
          }.collect().map(r => (r._1, (r._2, r._3, r._4))).toMap
      }
    // every touched file must still exist UNDER ITS SCAN-TIME VECTOR: a
    // concurrent MOR write to the same file may have killed rows this
    // statement resurrects as update images — never merge blind
    val pinnedDv: Map[String, Option[DvRef]] = filesOf(path, pinned)
      .map(fe => fileUri(path, fe) -> fe.dv).toMap
    val entries = stageWritten(spark, path, schema, dataParts, Map.empty)
    // a refusal must reclaim EVERYTHING this statement placed: the staged
    // data entries, the freshly-written dv sidecars (already in DvDir from
    // the executor mapGroups job), and the staged position parts
    try {
    merged.keys.foreach { uri =>
      val now = byUri.get(uri)
      if (now.isEmpty || now.map(_.dv) != pinnedDv.get(uri))
        throw new java.util.ConcurrentModificationException(
          s"row-level $op on '$path' lost a race: scanned file '$uri' was " +
            "rewritten or re-vectored by a concurrent commit — re-run the statement")
    }
    checkStaged(spark, path, schema, entries, cur.checks.getOrElse(Map.empty))
    def touchedBy(fe: FileEntry) = merged.contains(fileUri(path, fe))
    def updatedEntry(fe: FileEntry): Option[FileEntry] = {
      val (dvName, total, bytes) = merged(fileUri(path, fe))
      if (total >= fe.rows) None
      else Some(fe.copy(dv = Some(DvRef(s"$DvDir/$dvName", total, bytes))))
    }
    val (liveLeaves2, cleanLeaves) = loaded.partition(_._2.exists(touchedBy))
    val (tInline, uInline) = cur.files.partition(touchedBy)
    val touched = tInline ++ liveLeaves2.flatMap(_._2).filter(touchedBy)
    val survivors = liveLeaves2.flatMap(_._2).filterNot(touchedBy)
    val updatedEntries = touched.flatMap(updatedEntry(_))
    val (files, leaves) = packCommit(path,
      uInline ++ survivors ++ updatedEntries ++ entries,
      cleanLeaves.map(_._1))
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), op,
      cur.schemaDdl, files, cur.streamMarks, leaves,
      Some(ChangeLog(logEntries(updatedEntries ++ entries), logEntries(touched))),
      checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"commit v${next.version} of '$path' lost the race — re-run the $op")
    posParts.foreach(_.delete())
    next.version
    } catch { case e: Throwable =>
      reclaim(path, entries)
      merged.values.foreach { case (dvName, _, _) =>
        new File(new File(path, DvDir), dvName).delete() }
      posParts.foreach(_.delete())
      throw e
    }
  }

  /** Overwrite with a CLUSTERED layout: range-partition by `clusterBy`
    * into `numFiles` files, sorted within each — so every file owns a
    * tight `clusterBy` range and [[readPruned]] on that expression skips
    * hard. Pass [[graft.operators.Ops.zorderKey]] to interleave two
    * dimensions (2-D skipping on both stats columns). One extra exchange
    * (the range partitioner) is the entire clustering cost. */
  def writeClustered(df: DataFrame, path: String, clusterBy: Column, numFiles: Int,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    require(numFiles > 0, "numFiles must be positive")
    writeOp(df, path, "overwrite", statsCols, Some((clusterBy, numFiles)), bloomCols)
  }

  /** The reserved per-file stats key carrying a bucketed file's bucket
    * id (`min == max == id`); never a real column name (leading
    * underscores are rejected by parquet-adjacent tooling and the name
    * is double-underscored on purpose). */
  private[graft] val BucketStatCol = "__bucket"

  /** Parse `graft.bucketBy` = `"<col>[,<col2>…],<numBuckets>"` — the
    * last comma-separated token is the bucket count, everything before
    * it the (composite) bucket key. */
  private[graft] def bucketSpec(props: Map[String, String]): Option[(Seq[String], Int)] =
    props.get("graft.bucketBy").flatMap { s =>
      val parts = s.split(',').map(_.trim).toSeq
      parts.lastOption.filter(n => n.nonEmpty && n.forall(_.isDigit) &&
          n.toLong <= Int.MaxValue && n.toInt > 0) match {
        case Some(n) if parts.init.nonEmpty && parts.init.forall(_.nonEmpty) =>
          Some((parts.init, n.toInt))
        case _ => None
      }
    }

  /** Overwrite with a HASH-BUCKETED layout and declare it
    * (`graft.bucketBy`): rows land in `numBuckets` files by
    * `pmod(murmur3(bucketBy), numBuckets)` — Spark's own shuffle
    * assignment, so the one `repartition` IS the bucketing. From then
    * on:
    *  - every driver-staged write (append / upsert / SQL INSERT)
    *    re-buckets automatically ([[stageFiles]]) and stamps each
    *    file's bucket id into the manifest;
    *  - catalog-named reads report the layout as a v2 `bucket(n, k)`
    *    partitioning, and two tables bucketed on the same key with the
    *    same count JOIN WITH ZERO EXCHANGE (storage-partitioned join)
    *    — at 100 TB the dominant cost of a fact⋈fact join;
    *  - a write path that bypasses the repartition (executor-staged
    *    COW rewrites, streaming sink files) records no bucket id for
    *    its files and the scan DEGRADES to ordinary planning (correct,
    *    just shuffled) until a re-bucketing overwrite — same contract
    *    as Delta clustering after OPTIMIZE drift.
    * Bucketing and range-clustering are alternatives: buckets
    * co-locate joins, ranges skip files. */
  def writeBucketed(df: DataFrame, path: String, bucketBy: String, numBuckets: Int,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    require(numBuckets > 0, "numBuckets must be positive")
    // `bucketBy` may name a COMPOSITE key: comma-separated columns,
    // hashed together exactly as `repartition(n, c1, c2, …)` chains them
    val cols0 = bucketBy.split(',').map(_.trim).toSeq
    require(cols0.nonEmpty && cols0.forall(_.nonEmpty), "bucketBy must name column(s)")
    val missing = cols0.filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"bucketBy column(s) ${missing.mkString(", ")} not in the batch schema")
    writeOp(df, path, "overwrite", statsCols, None, bloomCols,
      bucket = Some((cols0, numBuckets)))
    setProperties(path, Map("graft.bucketBy" -> s"${cols0.mkString(",")},$numBuckets"))
  }

  // ---------------------------------------------------------------- reading

  /** Read a subset of a manifest's files under its LOGICAL schema —
    * the one batch read path of the format. Every Scala-API read
    * (`read`/`readVersion`/`readAsOf`, `readPruned*`, the COW/MOR
    * candidate scans, diffs, the `graft_table*` TVFs) and every
    * `format("graft")` load is a DSv2 relation over
    * [[graft.catalog.GraftNamedTable]] pinned to `m` and `subset`, and
    * [[graft.sources.GraftBatch]] plans it: splits from the manifest,
    * stats/bloom file skipping against whatever filters Catalyst pushes
    * down, each file's rename map and deletion vector applied inside
    * the reader factory, and the `_graft_file`/`_graft_pos` metadata
    * columns (the file URI and row position the DML paths key on). */
  private[graft] def readFileSubset(spark: SparkSession, path: String, m: Manifest,
      subset: Seq[FileEntry]): DataFrame =
    org.apache.spark.sql.graftbridge.ClassicBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new graft.catalog.GraftNamedTable(s"graft.`$path`", path, pin = None,
          Some(m), Some(subset)),
        None, None, org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()))

  /** The scan-visible identity of a data file: its qualified URI,
    * exactly as the `_graft_file` metadata column renders it. Keyed by
    * FULL path (not basename): two entries with identical basenames — a
    * shallow clone's absolute-path files next to local ones — must never
    * apply one file's deletion vector to the other's rows. */
  private def fileUri(path: String, fe: FileEntry): String =
    new org.apache.hadoop.fs.Path(new File(resolveData(path, fe)).toURI).toString

  /** The shared touched-file split every file-granular DML commit does:
    * partition the inline list, dissolve leaves holding a touched
    * member (survivors inline), carry clean and untouched-parsed
    * leaves by pointer. Returns (touched, untouched inline,
    * carried leaf refs). */
  private def splitByTouched(cur: Manifest,
      loaded: Seq[(LeafRef, Seq[FileEntry])], cleanLeaves: Seq[LeafRef],
      isTouched: FileEntry => Boolean)
      : (Seq[FileEntry], Seq[FileEntry], Seq[LeafRef]) = {
    val (inTouched, inUntouched) = cur.files.partition(isTouched)
    val (dirtyLeaves, carriedLive) = loaded.partition(_._2.exists(isTouched))
    (inTouched ++ dirtyLeaves.flatMap(_._2).filter(isTouched),
      inUntouched ++ dirtyLeaves.flatMap(_._2).filterNot(isTouched),
      cleanLeaves ++ carriedLive.map(_._1))
  }

  private def readManifest(spark: SparkSession, path: String, m: Manifest): DataFrame =
    readFileSubset(spark, path, m, filesOf(path, m))

  /** Latest committed snapshot. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = currentManifest(path)
    require(m.isDefined, s"'$path' is not a GraftTable (no ${LogDir}/)")
    readManifest(spark, path, m.get)
  }

  /** Time travel by version — the reference's `AT (TIMESTAMP => …)` with a
    * version pin (SURVEY S6). */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readManifest(spark, path, manifestAt(path, version))

  /** Time travel by timestamp: the last snapshot committed at or before
    * `tsUs` (epoch micros) — exactly Snowflake's `AT (TIMESTAMP => …)`.
    * Binary search over the (version-ordered = commit-time-ordered,
    * [[commitTs]] is strictly monotonic) manifest names, parsing only
    * O(log versions) manifests — history length never taxes the read. */
  def readAsOf(spark: SparkSession, path: String, tsUs: Long): DataFrame =
    readManifest(spark, path, manifestAsOf(path, tsUs))

  /** The manifest the timestamp pin resolves to — also the batch
    * `format("graft")` `timestampAsOf` resolver. */
  private[graft] def manifestAsOf(path: String, tsUs: Long): Manifest = {
    val files = manifestFiles(path).toIndexedSeq
    require(files.nonEmpty, s"'$path' is not a GraftTable")
    var (lo, hi) = (0, files.size - 1)
    var best: Option[Manifest] = None
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = parseManifest(files(mid))
      if (m.tsUs <= tsUs) { best = Some(m); lo = mid + 1 } else hi = mid - 1
    }
    require(best.isDefined, s"no snapshot of '$path' at or before $tsUs")
    best.get
  }

  /** File-skipping scan: drop every file whose stats PROVE it cannot
    * satisfy the conjunction of `ranges` (min > hi, max < lo, or all-NULL
    * in a range-constrained column — SQL range predicates never match
    * NULL). Files without stats for a constrained column are kept: stats
    * prune, they never filter. The caller applies the exact predicate to
    * the returned frame; this is partition pruning generalized to any
    * stats column, no directory layout required. */
  def readPruned(spark: SparkSession, path: String, ranges: Seq[ColRange],
      version: Option[Long] = None): PrunedScan = {
    val m = version.map(manifestAt(path, _))
      .orElse(currentManifest(path))
      .getOrElse(throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    // two-level skip: a leaf whose AGGREGATE stats can't intersect the
    // ranges is never even parsed — planning cost is O(inline + leaf
    // count + surviving leaves' entries), sub-linear in table files for
    // selective predicates over a clustered layout
    val liveLeaves = m.leaves.getOrElse(Nil).filter(l => mayMatch(l.stats, ranges))
    val kept = statsKeep(m.files ++ liveLeaves.flatMap(loadLeaf(path, _)), ranges)
    PrunedScan(readFileSubset(spark, path, m, kept), kept.size, totalFiles(m))
  }

  /** IN-list file skipping: keep files whose [min,max] in `column` can
    * contain AT LEAST ONE of `values` (the point-in-range test per
    * value) — the read pattern of an inverted-list probe, where the
    * wanted keys are a set, not a range. When the file carries a bloom
    * for `column` (written via `bloomCols`), values that pass the range
    * test must ALSO hit all k bloom bits — on a hash-distributed layout,
    * where every file spans the whole key range and min/max prune
    * nothing, the bloom does all the skipping. Stats-less files are
    * kept, all-NULL files skipped (an IN list never matches NULL). The
    * exact `isin` filter stays with the caller, as in [[readPruned]]. */
  def readPrunedIn(spark: SparkSession, path: String, column: String, values: Seq[Any],
      version: Option[Long] = None): PrunedScan = {
    require(values.nonEmpty, "need at least one probe value")
    val m = version.map(manifestAt(path, _))
      .orElse(currentManifest(path))
      .getOrElse(throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    // the probe-hash job runs lazily — only a manifest that actually
    // carries a bloom on `column` pays it
    lazy val hashes: Map[Any, Seq[Long]] = {
      val dt = StructType.fromDDL(m.schemaDdl)(column).dataType
      probeHashes(spark, dt, values, BloomK)
    }
    // leaf-level point test first: aggregate range AND (when present)
    // the leaf's OR-union bloom — a leaf provably clean for every probe
    // value is never even parsed, which is what makes point lookups
    // O(candidate leaves) on BOTH clustered layouts (ranges prune) and
    // hash layouts (the union bloom prunes)
    val liveLeaves = m.leaves.getOrElse(Nil)
      .filter(l => mayContainIn(l.stats, column, values, hashes))
    val kept = (m.files ++ liveLeaves.flatMap(loadLeaf(path, _)))
      .filter(fe => mayContainIn(fe.stats, column, values, hashes))
    PrunedScan(readFileSubset(spark, path, m, kept), kept.size, totalFiles(m))
  }

  /** DYNAMIC FILE PRUNING — the fact-dim join shape at 100 TB:
    * `fact JOIN dim ON fact.k = dim.k WHERE dim.pred`. Static stats
    * cannot skip fact files (the predicate constrains the DIM), so this
    * runs the dim side FIRST, collects its distinct non-null join keys
    * (the dim side of a pruning-worthy join is broadcast-small — the
    * same bound Spark's own partition-DPP places on the build side),
    * and probes every fact file's [min,max] and bloom with the key set
    * ([[readPrunedIn]]'s core — so a clustered layout prunes by range
    * and a hash layout prunes by bloom). The caller joins the returned
    * scan as usual; semantics are identical to the unpruned join
    * because an inner/semi equi-join can only match rows whose key the
    * dim holds.
    *
    * Degrade, never fail: a pruning optimization must not break a
    * correct query, so past `maxKeys` (or with a key set the stats
    * cannot encode) the scan comes back UNPRUNED — visible as
    * `filesRead == filesTotal`, the caller's signal that the dim side
    * outgrew pruning. An EMPTY key set short-circuits to a zero-file
    * scan (the join is provably empty). */
  def readPrunedByKeys(spark: SparkSession, path: String, column: String,
      keys: DataFrame, maxKeys: Int = 1000000,
      version: Option[Long] = None): PrunedScan = {
    require(keys.columns.length == 1,
      s"keys must be a single-column DataFrame of join keys, " +
        s"got [${keys.columns.mkString(", ")}]")
    val m = version.map(manifestAt(path, _))
      .orElse(currentManifest(path))
      .getOrElse(throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val collected = keys.na.drop().distinct().limit(maxKeys + 1)
      .collect().map(_.get(0)).toSeq
    if (collected.isEmpty)
      PrunedScan(readFileSubset(spark, path, m, Nil), 0, totalFiles(m))
    else if (collected.size > maxKeys)
      PrunedScan(readFileSubset(spark, path, m, filesOf(path, m)),
        totalFiles(m), totalFiles(m))
    else
      try readPrunedIn(spark, path, column, collected, version)
      catch { case scala.util.control.NonFatal(_) =>
        PrunedScan(readFileSubset(spark, path, m, filesOf(path, m)),
          totalFiles(m), totalFiles(m))
      }
  }

  /** The file-skipping core shared by [[readPruned]] and [[deleteWhere]]:
    * drop files whose stats PROVE no row can satisfy the range
    * conjunction; keep files with no stats for a constrained column. */
  private def statsKeep(files: Seq[FileEntry], ranges: Seq[ColRange]): Seq[FileEntry] =
    files.filter(fe => mayMatch(fe.stats, ranges))

  /** The point-probe keep test shared by [[readPrunedIn]] and
    * [[graft.plans.GraftPrune]]'s IN-list path: can `stats` hold AT
    * LEAST ONE of `values` in `column`? Range containment per value,
    * AND the bloom probe when the stats carry one; `hashes` supplies
    * the write-side-identical xxhash64 probe positions (computed by
    * Spark, see [[probeHashes]] — call it lazily, only stats that
    * actually carry blooms pay the one-row job). No stats for the
    * column → keep (stats prune, never filter); all-NULL → skip (an IN
    * list never matches NULL). */
  private[graft] def mayContainIn(stats: Map[String, ColStats], column: String,
      values: Seq[Any], hashes: Any => Seq[Long]): Boolean =
    stats.get(column) match {
      case None => true
      case Some(st) =>
        if (st.min.isEmpty && st.max.isEmpty) false
        else {
          // decode once per file, not per value — and LAZILY, so a file
          // whose range test rejects every probe value (the clustered
          // layout, where blooms are never consulted) pays zero decodes
          lazy val parsed = st.bloom.map(parseBloom)
          values.exists { v =>
            val ev = encode(st.t, v)
            st.min.forall(mn => cmp(st.t, mn, ev) <= 0) &&
              st.max.forall(mx => cmp(st.t, mx, ev) >= 0) &&
              parsed.forall(pb => bloomHit(pb, hashes(v)))
          }
        }
    }

  /** One file's keep test — also the seam [[graft.plans.GraftPrune]]
    * (the transparent optimizer-rule skipper) probes per scanned file. */
  private[graft] def mayMatch(stats: Map[String, ColStats], ranges: Seq[ColRange]): Boolean =
    ranges.forall { r =>
      stats.get(r.col) match {
        case None => true // no stats recorded — can't prove anything, read it
        case Some(st) =>
          if (st.min.isEmpty && st.max.isEmpty) false // all NULL, range can't match
          else {
            val loOk = r.lo.forall(lo => st.max.forall(mx => cmp(st.t, mx, encode(st.t, lo)) >= 0))
            val hiOk = r.hi.forall(hi => st.min.forall(mn => cmp(st.t, mn, encode(st.t, hi)) <= 0))
            loOk && hiOk
          }
      }
    }

  /** Per-file stats for every data file any retained manifest mentions,
    * NEWEST manifest first (data files are immutable, so any manifest
    * that lists a file carries valid stats for it). Keys are file
    * basenames — the join key [[graft.plans.GraftPrune]] uses to map a
    * scan's file list (which may be any version's, or a subset) back to
    * its stats without knowing which snapshot produced it. */
  private[graft] def statsForFiles(root: String): Map[String, Map[String, ColStats]] = {
    // leaves are immutable and SHARED across versions by design — load
    // each at most once per call, or a deep history would re-parse the
    // same chunk per version that references it
    val leafCache = scala.collection.mutable.HashMap.empty[String, Seq[FileEntry]]
    manifestFiles(root).reverse.iterator
      .flatMap { f =>
        val m = parseManifest(f)
        m.files ++ m.leaves.getOrElse(Nil).flatMap(l =>
          leafCache.getOrElseUpdate(l.path, loadLeaf(root, l)))
      }
      .map(fe => fe.path.split('/').last -> fe.stats)
      .foldLeft(Map.empty[String, Map[String, ColStats]]) {
        case (acc, (name, stats)) => if (acc.contains(name)) acc else acc + (name -> stats)
      }
  }

  /** True when `dir` is a GraftTable's `data/` directory. */
  private[graft] def isDataDir(dir: File): Boolean =
    dir.getName == DataDir && dir.getParentFile != null &&
      logDir(dir.getParentFile.getPath).isDirectory

  /** Copy-on-write UPDATE WHERE: rewrite every row where `pred` is TRUE
    * with `set`'s assignments applied (other rows — FALSE and NULL —
    * pass through bit-unchanged); completes the DML triad with
    * [[upsertByKey]] and [[deleteWhere]]. Assignment expressions may
    * reference any table column (`SET a = a + b` works); assigned
    * columns must exist and keep their type — UPDATE never evolves
    * schema. Touched-file discovery, stats-cover prefilter, untouched
    * carry-by-reference, stats retention, and optimistic concurrency
    * are exactly [[deleteWhere]]'s. */
  def updateWhere(spark: SparkSession, path: String, pred: Column, set: Map[String, Column],
      pruneRanges: Seq[ColRange] = Nil): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val missing = set.keySet -- schema.fieldNames.toSet
    require(missing.isEmpty, s"UPDATE assigns unknown column(s) ${missing.mkString(", ")} " +
      s"— table schema is [${cur.schemaDdl}]")
    rewriteMatching(spark, path, pred, pruneRanges, cur, "update", touchedRows =>
      touchedRows.select(schema.fieldNames.toSeq.map { f =>
        set.get(f) match {
          case Some(e) => when(coalesce(pred, lit(false)), e.cast(schema(f).dataType))
            .otherwise(col(f)).as(f)
          case None => col(f)
        }
      }: _*))
  }

  /** Copy-on-write DELETE WHERE: remove every row where `pred` is TRUE
    * (FALSE and NULL rows are kept — SQL DELETE semantics). Only files
    * that actually HOLD a matching row are rewritten; every other file
    * carries into the new manifest by reference, never read in full.
    * Touched-file discovery is (1) an optional stats prefilter over
    * `pruneRanges` — a conservative cover of `pred` under the
    * [[readPruned]] contract, which on a [[writeClustered]] layout keyed
    * like the predicate skips most files before any IO — then (2) an
    * exact predicate probe over the surviving candidates (columnar
    * projection: only the predicate's columns are read). Write
    * amplification is O(files holding matches). Rewritten files keep the
    * stats columns their predecessors tracked. Deleted rows remain
    * readable through time travel until [[vacuum]] retires the older
    * versions — run vacuum to complete a physical purge (the GDPR
    * pairing for opt-out erasure, q101).
    *
    * Concurrency: optimistic, like [[upsertByKey]] — a racing commit
    * surfaces `ConcurrentModificationException`; re-read and retry. */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
      pruneRanges: Seq[ColRange] = Nil): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    rewriteMatching(spark, path, pred, pruneRanges, cur, "delete",
      _.filter(!coalesce(pred, lit(false))), dropFullCover = true)
  }

  /** Dynamic overwrite — Delta's `replaceWhere`, re-derived: atomically
    * replace exactly the rows matching `pred` with `df`, ONE commit, so
    * readers never observe the deleted-but-not-yet-inserted state and
    * time travel sees a single `replace_where` version. The delete half
    * rides [[deleteWhere]]'s machinery with full-cover drops: a file
    * whose every live row matches the predicate leaves the manifest
    * without being read or rewritten, boundary files rewrite their
    * keepers, clean files carry by reference — on a [[writeClustered]]
    * layout keyed like the predicate (the recompute-one-date-range
    * pipeline shape) the commit costs O(new data + boundary files) at
    * any table size. Refuses rows in `df` that do NOT match `pred`:
    * they would silently widen the overwrite beyond the declared
    * region (the same refusal Delta's replaceWhere makes). CHECK
    * constraints validate the incoming rows at staging; CDC consumers
    * see removed files as deletes and staged files as inserts — the
    * region swap it is.
    *
    * Concurrency: optimistic, like [[deleteWhere]] — a racing commit
    * surfaces `ConcurrentModificationException`; re-read and retry. */
  def overwriteWhere(spark: SparkSession, path: String, df: DataFrame, pred: Column,
      pruneRanges: Seq[ColRange] = Nil): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val missing = schema.fieldNames.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"replaceWhere source lacks column(s) ${missing.mkString(", ")} " +
        s"— table schema is [${cur.schemaDdl}]")
    val aligned = df.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    // stop at the FIRST violating row — never a full count
    val stray = aligned.filter(!coalesce(pred, lit(false))).head(1)
    require(stray.isEmpty,
      s"replaceWhere source holds row(s) NOT matching the predicate " +
        s"(e.g. ${stray.head}) — they would widen the overwrite beyond the " +
        "declared region; fix the source or the predicate")
    rewriteMatching(spark, path, pred, pruneRanges, cur, "replace_where",
      _.filter(!coalesce(pred, lit(false))), dropFullCover = true,
      extraStage = Some(aligned))
  }

  /** MERGE-ON-READ dynamic overwrite — [[overwriteWhere]] semantics at
    * the deletion-vector cost shape: files wholly inside the region
    * still drop from the manifest metadata-only (a vector covering
    * every physical row removes the entry), but BOUNDARY files are
    * never rewritten — their in-region rows mask via sidecar vectors —
    * and the replacement stages as fresh appends. One commit, write
    * amplification O(new data + boundary sidecar bytes): the
    * recompute-one-date-range shape with zero rewrite IO even at the
    * boundaries. Same stray-row and missing-column refusals as the COW
    * form; purge/OPTIMIZE later folds the boundary vectors away. */
  def overwriteWhereMor(spark: SparkSession, path: String, df: DataFrame, pred: Column,
      pruneRanges: Seq[ColRange] = Nil): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val missing = schema.fieldNames.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"replaceWhere source lacks column(s) ${missing.mkString(", ")} " +
        s"— table schema is [${cur.schemaDdl}]")
    val aligned = df.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val stray = aligned.filter(!coalesce(pred, lit(false))).head(1)
    require(stray.isEmpty,
      s"replaceWhere source holds row(s) NOT matching the predicate " +
        s"(e.g. ${stray.head}) — they would widen the overwrite beyond the " +
        "declared region; fix the source or the predicate")
    morDml(spark, path, _.filter(pred), pruneRanges, "replace_where_mor",
      None, extraAppend = Some(_ => aligned))
  }

  /** MERGE-ON-READ DELETE WHERE — same semantics as [[deleteWhere]]
    * (rows where `pred` is TRUE disappear; FALSE/NULL rows stay), a
    * different cost shape: NO data file is rewritten. Matching row
    * POSITIONS (the scan's `_graft_pos` row index) are found by the same
    * stats-cover + exact-probe discovery, written as per-file
    * [[DeletionVector]] sidecars from the executors (one tiny encoded
    * file per touched data file, merged with any existing vector), and
    * the commit swaps dv POINTERS on the touched entries. Write
    * amplification is O(deleted rows) sidecar bytes — deleting 100
    * rows from a 1 GB file costs a ~KB sidecar instead of a 1 GB
    * rewrite, which is the merge-on-read contract Delta's deletion
    * vectors and Iceberg's positional deletes exist for. A file whose
    * vector would cover EVERY row drops from the manifest entirely.
    *
    * The tradeoffs, stated plainly: reads of dv'd files pay a per-row
    * position probe (a binary search against the executor-cached
    * vector), and deleted bytes stay on disk until [[purgeDeletes]] /
    * [[compactFiles]] folds the vector into a rewrite — so MOR is for
    * frequent-small-delete workloads, COW for wide ones, and a
    * physical GDPR purge is MOR delete + purge + vacuum. Time travel,
    * [[diffVersions]], CDC replication, and the streaming change feed
    * all see exact row-level deletes (each snapshot pins its own
    * vector; vectors only grow, so one commit's deletions are
    * `new minus old`).
    *
    * Concurrency: optimistic, like [[deleteWhere]] — a racing commit
    * surfaces `ConcurrentModificationException`; re-read and retry. */
  def deleteWhereMor(spark: SparkSession, path: String, pred: Column,
      pruneRanges: Seq[ColRange] = Nil): Long =
    morDml(spark, path, _.filter(pred), pruneRanges, "delete_mor", None)

  /** MERGE-ON-READ UPDATE WHERE — [[updateWhere]] semantics at
    * [[deleteWhereMor]]'s cost shape: matched rows' OLD images are
    * masked by deletion-vector sidecars (no data file rewrites) and
    * their NEW images stage as a fresh appended file, so write
    * amplification is O(changed rows) — sidecar bytes plus the changed
    * rows' parquet — instead of COW's O(files holding matches). CHECK
    * constraints validate the staged images; CDC consumers see the
    * update as the vector swap's delta DELETEs plus the staged file's
    * INSERTs, which a fold-by-key replica applies as the update it is.
    * The tradeoff mirrors the delete: updated-away bytes stay on disk
    * (and readable via time travel) until [[purgeDeletes]]/compaction,
    * and the hot keys migrate out of the clustered layout into the
    * append tail — OPTIMIZE restores clustering. */
  def updateWhereMor(spark: SparkSession, path: String, pred: Column,
      set: Map[String, Column], pruneRanges: Seq[ColRange] = Nil): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val missing = set.keySet -- schema.fieldNames.toSet
    require(missing.isEmpty, s"UPDATE assigns unknown column(s) ${missing.mkString(", ")} " +
      s"— table schema is [${cur.schemaDdl}]")
    morDml(spark, path, _.filter(pred), pruneRanges, "update_mor", Some(matched =>
      // every row here matched pred and is live — assignments apply
      // unconditionally, cast to the column's declared type
      matched.select(schema.fields.map(f => set.get(f.name)
        .map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))).toSeq: _*)))
  }

  /** MERGE-ON-READ MERGE INTO — [[mergeInto]] semantics at the
    * deletion-vector cost shape (Delta's DV-backed merge, re-derived):
    * matched rows where a clause ACTUALLY fires (DELETE's condition
    * holds, or UPDATE's does and there are assignments) mask via
    * vector sidecars; the updated rows' new images plus the unmatched
    * source rows' inserts stage as fresh appended files. Matched rows
    * no clause touches stay byte-untouched in place — unlike COW,
    * which must rewrite every row of every file holding ANY source
    * key, MOR's write amplification is O(rows actually changed +
    * inserts). Same refusals as [[mergeInto]] (duplicate source keys,
    * unknown SET columns, full-schema source for inserts); same
    * stats-cover candidate pruning from the source's key bounds, both
    * computed on the driver for a driver-local source, whose literal key
    * set also filters the candidate rows before the match and the
    * not-matched anti-join (no join key de-duplication); CHECK
    * constraints validate the staged images at staging. CDC consumers
    * see the masked rows as delta DELETEs and the staged files as
    * INSERTs — the fold-by-key replica applies them as the merge it
    * is. */
  def mergeIntoMor(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], updateSet: Map[String, Column] = Map.empty,
      updateWhen: Option[Column] = None, deleteWhen: Option[Column] = None,
      insertNotMatched: Boolean = true): Long = {
    require(keys.nonEmpty, "need at least one key column")
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val missingKeys = keys.filterNot(source.columns.contains)
    require(missingKeys.isEmpty, s"source lacks key column(s) ${missingKeys.mkString(", ")}")
    val badSet = updateSet.keySet.filterNot(schema.fieldNames.contains)
    require(badSet.isEmpty,
      s"updateSet column(s) ${badSet.mkString(", ")} do not exist on '$path' " +
        s"[${schema.fieldNames.mkString(", ")}]")
    if (insertNotMatched) {
      val missing = schema.fieldNames.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"insertNotMatched needs the full target schema in the source; missing ${missing.mkString(", ")}")
    }
    // duplicate-source-key refusal + key bounds for the stats cover,
    // exactly [[mergeInto]]'s; NULL source keys can't prune (min/max
    // ignore NULLs)
    val ks = mergeSourceStats(source, keys)
    val pruneRanges =
      if (ks.nulls.values.exists(_ > 0)) Nil
      else keys.map(k => ColRange(k, ks.lo.get(k), ks.hi.get(k)))
    val src = source.select(source.columns.map(c => col(c).as(s"__src_$c")).toSeq: _*)
    val matchCond = keys.map(k => col(k) <=> srcCol(k)).reduce(_ && _)
    val delApplies = deleteWhen.map(c => coalesce(c.cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    val updApplies =
      if (updateSet.isEmpty) lit(false)
      else coalesce(updateWhen.getOrElse(lit(true)).cast("boolean"), lit(false))
    // a driver-local source pre-filters the candidate live set by its
    // literal key set, so the join and the inserts' anti-join see only
    // rows that can match
    val keyed: DataFrame => DataFrame = ks.tuples match {
      case Some(t) =>
        val member = coalesce(memberOf(keys, schema, t), lit(false))
        _.filter(member)
      case None => identity
    }
    // mask ONLY rows a clause changes; delete wins over update
    val matcher: DataFrame => DataFrame = live =>
      keyed(live).join(src, matchCond, "inner").filter(delApplies || updApplies)
    val images: DataFrame => DataFrame = masked =>
      masked.filter(!delApplies && updApplies).select(schema.fields.map { f =>
        updateSet.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name)).as(f.name)
      }.toSeq: _*)
    val inserts: Option[DataFrame => DataFrame] =
      if (!insertNotMatched) None
      else Some { live =>
        // the candidate live set is a stats-sound superset of every file
        // that may hold a source key, so absence from it IS absence from
        // the table (same cover argument as the COW merge)
        val candKeys = keyed(live).select(keys.map(k => col(k).as(s"__tk_$k")): _*)
        val antiCond = keys.map(k => col(k) <=> col(s"__tk_$k")).reduce(_ && _)
        source.join(candKeys, antiCond, "left_anti")
          .select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      }
    morDml(spark, path, matcher, pruneRanges, "merge_mor", Some(images), inserts,
      localSource = ks.tuples.isDefined)
  }

  /** The shared merge-on-read body: `matcher` selects the to-be-masked
    * LIVE rows (with their file positions; already-deleted rows are
    * filtered out, so re-deleting is a no-op and counts stay exact —
    * for DELETE/UPDATE a predicate filter, for MERGE the key join plus
    * clause gates), one merged [[DeletionVector]] sidecar per touched
    * file writes FROM THE EXECUTORS (the driver never holds a position
    * list), `replace`'s transformed images of the matched rows and
    * `extraAppend`'s rows (MERGE's not-matched inserts, given the full
    * candidate live set) stage as new files, and the commit is dv
    * pointer swaps + staged adds. A file whose vector covers every
    * physical row drops from the manifest (its orphaned sidecar is
    * vacuum fodder). A `localSource` (a driver-local MERGE source)
    * bounds both the images and the appends by its own rows, so they
    * stage as one file. */
  private def morDml(spark: SparkSession, path: String,
      matcher: DataFrame => DataFrame, pruneRanges: Seq[ColRange], op: String,
      replace: Option[DataFrame => DataFrame],
      extraAppend: Option[DataFrame => DataFrame] = None,
      localSource: Boolean = false): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val logical = StructType.fromDDL(cur.schemaDdl)
    import graft.sources.GraftBatch.{FileMetaCol, MetaNames, PosMetaCol}
    val reserved = logical.fieldNames.filter(MetaNames)
    require(reserved.isEmpty,
      s"merge-on-read DML positions rows by the $FileMetaCol/$PosMetaCol metadata " +
        s"columns — a table with literal column(s) ${reserved.mkString(", ")} " +
        "must use the copy-on-write ops")
    val (liveLeaves, cleanLeaves) = cur.leaves.getOrElse(Nil)
      .partition(l => mayMatch(l.stats, pruneRanges))
    val loaded = liveLeaves.map(l => l -> loadLeaf(path, l))
    val candidates = statsKeep(cur.files ++ loaded.flatMap(_._2), pruneRanges)
    // the candidate live set, each row with its file URI and position
    // (deleted rows are already masked by the scan)
    val live = readFileSubset(spark, path, cur, candidates)
      .select((logical.fieldNames.toSeq :+ FileMetaCol :+ PosMetaCol).map(col): _*)
    var matchedRows: DataFrame = null
    val matched: Map[String, (String, Long, Long)] = // fileUri -> (dv name, total, bytes)
      if (candidates.isEmpty) Map.empty
      else {
        import spark.implicits._
        val dvdC = candidates.filter(_.dv.isDefined)
        val oldDvByFile: Map[String, String] = dvdC.flatMap(fe =>
          fe.dv.map(d => fileUri(path, fe) -> resolveDv(path, d))).toMap
        val dvDirAbs = { val d = new File(path, DvDir); d.mkdirs(); d.getAbsolutePath }
        // an update reads the matched rows twice (positions + images) —
        // persist so the candidate scan runs once
        matchedRows = matcher(live)
        if (replace.isDefined) matchedRows.persist(): Unit
        matchedRows.select(col(FileMetaCol), col(PosMetaCol)).as[(String, Long)]
          .groupByKey(_._1).mapGroups { (f, it) =>
            val fresh = it.map(_._2).toArray.distinct.sorted
            val merged = DeletionVector.union(
              oldDvByFile.get(f).map(DeletionVector.load)
                .getOrElse(Array.emptyLongArray), fresh)
            val name = s"dv-${java.util.UUID.randomUUID}.dv"
            val bytes = DeletionVector.write(new File(dvDirAbs, name), merged)
            (f, name, merged.length.toLong, bytes)
          }
          .collect().map(r => (r._1, (r._2, r._3, r._4))).toMap
      }
    try {
      def touchedBy(fe: FileEntry) = matched.contains(fileUri(path, fe))
      // a file whose vector now covers every physical row leaves the
      // manifest (its orphaned sidecar is vacuum fodder)
      def updatedEntry(fe: FileEntry): Option[FileEntry] = {
        val (dvName, total, bytes) = matched(fileUri(path, fe))
        if (total >= fe.rows) None
        else Some(fe.copy(dv = Some(DvRef(s"$DvDir/$dvName", total, bytes))))
      }
      val (touched, untouched, carriedRefs) =
        splitByTouched(cur, loaded, cleanLeaves, touchedBy)
      val updatedEntries = touched.flatMap(updatedEntry(_))
      val images = replace match {
        case Some(f) if matched.nonEmpty =>
          Some(f(matchedRows.drop(FileMetaCol, PosMetaCol))
            .drop(FileMetaCol, PosMetaCol))
        case _ => None
      }
      val appended = extraAppend.map(_(live))
      val statsCols =
        (touched.flatMap(_.stats.keys) ++ candidates.flatMap(_.stats.keys)).distinct
      val staged = (images.toSeq ++ appended.toSeq).reduceOption(_ unionByName _)
        .map(df => stageFiles(if (localSource) df.coalesce(1) else df, path, statsCols, None,
          cur.checks.getOrElse(Map.empty)))
        .getOrElse(Nil)
      val (files, leaves) = packCommit(path,
        untouched ++ updatedEntries ++ staged, carriedRefs)
      val next = Manifest(cur.version + 1, commitTs(Some(cur)), op,
        cur.schemaDdl, files, cur.streamMarks, leaves,
        Some(ChangeLog(logEntries(updatedEntries ++ staged), logEntries(touched))),
        checks = cur.checks, properties = cur.properties)
      if (!tryCommit(path, next))
        throw new java.util.ConcurrentModificationException(
          s"commit v${next.version} of '$path' lost the race — re-read and retry the $op")
      next.version
    } finally if (matchedRows != null && replace.isDefined) matchedRows.unpersist(): Unit
  }

  /** The shared predicate-DML body: find the files actually holding a
    * `pred` match (stats cover, then exact columnar probe), rewrite only
    * those through `transform`, carry every other file by reference, and
    * commit optimistically.
    *
    * The probe counts live matches PER FILE (per partition, summed on
    * the driver: one column-pruned job, no shuffle) because the count is
    * what lets a row-removing op (`dropFullCover`) DROP a file whose every live row
    * matches, metadata-only — Delta's file-level delete, re-derived. On
    * a [[writeClustered]] layout keyed like the predicate (the
    * date-ranged retention/recompute shape) most touched files are
    * fully covered, so `DELETE WHERE ship_date < X` over 100 TB removes
    * whole files from the manifest and rewrites only the boundary —
    * write amplification O(boundary files), not O(matching files).
    * `extraStage` atomically appends new data in the SAME commit — the
    * [[overwriteWhere]] replace half. */
  private def rewriteMatching(spark: SparkSession, path: String, pred: Column,
      pruneRanges: Seq[ColRange], cur: Manifest, op: String,
      transform: DataFrame => DataFrame, dropFullCover: Boolean = false,
      extraStage: Option[DataFrame] = None): Long = {
    // leaf-level stats cover first: a leaf provably clean of the predicate
    // ranges is never parsed AND carries into the new manifest by pointer
    val (liveLeaves, cleanLeaves) = cur.leaves.getOrElse(Nil)
      .partition(l => mayMatch(l.stats, pruneRanges))
    val loaded = liveLeaves.map(l => l -> loadLeaf(path, l))
    val candidates = statsKeep(cur.files ++ loaded.flatMap(_._2), pruneRanges)
    // keyed by FULL normalized URI, never basename: a shallow clone's
    // absolute-path entry next to a local file with the same part name
    // must not pool their counts — with dropFullCover that would drop a
    // file still holding live non-matching rows
    val matchCounts: Map[String, Long] =
      if (candidates.isEmpty) Map.empty
      else fileRowCounts(readFileSubset(spark, path, cur, candidates)
        .filter(pred).select(col(graft.sources.GraftBatch.FileMetaCol)))
    def isTouched(fe: FileEntry) = matchCounts.contains(fileUri(path, fe))
    // every live row matches → nothing of this file survives the op
    def covered(fe: FileEntry) =
      matchCounts.get(fileUri(path, fe)).contains(fe.liveRows)
    val (inTouched, inUntouched) = cur.files.partition(isTouched)
    // a parsed leaf with no touched member still carries by pointer; a
    // touched leaf dissolves — survivors inline, matches rewrite
    val (dirtyLeaves, carriedLive) = loaded.partition(_._2.exists(isTouched))
    val touched = inTouched ++ dirtyLeaves.flatMap(_._2).filter(isTouched)
    val survivors = dirtyLeaves.flatMap(_._2).filterNot(isTouched)
    val statsCols = touched.flatMap(_.stats.keys).distinct
    // fully-covered files drop without a read; only partially-matching
    // files pay the rewrite (updates rewrite everything they touch)
    val partial = if (dropFullCover) touched.filterNot(covered) else touched
    // no matching file → nothing to stage: the commit carries the file
    // list verbatim
    val rewritten =
      if (partial.isEmpty) Nil
      else stageFiles(transform(readFileSubset(spark, path, cur, partial)),
        path, statsCols, None, cur.checks.getOrElse(Map.empty))
    // replace data stages with the TABLE's stats columns (not just the
    // touched files') so a mostly-metadata replace keeps skippability
    val tableStatsCols = (cur.files.flatMap(_.stats.keys) ++
      cur.leaves.getOrElse(Nil).flatMap(_.stats.keys)).distinct
    val staged = rewritten ++ extraStage.map(df =>
      stageFiles(df, path, tableStatsCols, None, cur.checks.getOrElse(Map.empty))).getOrElse(Nil)
    val (files, leaves) = packCommit(path, inUntouched ++ survivors ++ staged,
      cleanLeaves ++ carriedLive.map(_._1))
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), op,
      cur.schemaDdl, files, cur.streamMarks, leaves,
      Some(ChangeLog(logEntries(staged), logEntries(touched))), checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"commit v${next.version} of '$path' lost the race — re-read and retry the $op")
    next.version
  }

  // ---------------------------------------------------------------- upsert

  /** Keyed upsert, copy-on-write at FILE granularity: rows of files that
    * hold a delta key are rewritten (kept rows ∪ delta), every other file
    * is carried into the new manifest UNTOUCHED — never read in full,
    * never rewritten. Touched files are found by (1) a stats prefilter on
    * the delta's key range — on a [[writeClustered]]-by-key layout this
    * alone skips most files — then (2) a key-column-only probe scan of
    * the surviving candidates (columnar projection: only the key columns
    * are read). Write amplification is O(files holding delta keys). A
    * driver-local delta (`createDataFrame(rows)`, `Seq.toDF`, `VALUES`)
    * has its keys collected — its rows are already on the driver — and
    * the probe and the rewrite are one Spark job each (see cowMerge).
    *
    * Concurrency: optimistic — if another commit lands between snapshot
    * read and manifest commit, throws `ConcurrentModificationException`
    * (the kept/untouched split may be stale); retry re-reads. */
  def upsertByKey(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], statsCols: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "need at least one key column")
    val cur = currentManifest(path).getOrElse {
      return overwrite(delta, path, statsCols)
    }
    upsertFromSnapshot(spark, path, delta, keys, statsCols, cur)
  }

  /** Keyed copy-on-write DELETE: remove every row whose key tuple
    * (null-safe) appears in `delKeys` — the GDPR/opt-out bulk-erasure
    * shape, where the victims arrive as an id list, not a predicate.
    * Same file-granular machinery as [[upsertByKey]] (stats prefilter on
    * the key range, key-column probe, rewrite only files actually
    * holding a victim). A driver-local id list is already in driver
    * memory, so it is collected and probed as a literal `IN`; any other
    * delete list (a table scan, a CDC diff) stays distributed end to
    * end and is joined, never collected. */
  def deleteByKey(spark: SparkSession, path: String, delKeys: DataFrame,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "need at least one key column")
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val missing = keys.filterNot(delKeys.columns.contains)
    require(missing.isEmpty, s"delete-key frame lacks ${missing.mkString(", ")}")
    cowMerge(spark, path, delKeys.select(keys.map(col): _*), None, keys, Nil, cur,
      "delete_by_key")
  }

  /** One-commit CDC apply: drop every row whose key tuple appears in
    * `delKeys`, upsert `ins` (rows of files holding an ins key rewrite
    * as kept ∪ ins) — semantically identical to [[deleteByKey]] followed
    * by [[upsertByKey]] (and to either order when the key sets are
    * disjoint, the [[diffVersions]] shape), but the whole change set
    * rides ONE stats-bounds probe, ONE key-column probe scan, ONE staged
    * rewrite and ONE commit instead of two of each. That is the CDC
    * steady-state fold (syncReplica, the change-feed micro-batch
    * consumers): at 100 TB it halves both the probe reads and the
    * commit round-trips of every sync without changing the replica's
    * content, and a file holding both a victim and an upsert key
    * rewrites ONCE instead of twice. Idempotent under replays exactly
    * like its two halves. An empty change set commits a new version
    * whose file list is the parent's, verbatim.
    *
    * A missing table overwrites with `ins` (nothing exists to delete),
    * matching [[upsertByKey]]'s bootstrap. So a DELETE-ONLY change set
    * (empty `ins`) against a missing table creates the table, empty,
    * with `ins`'s schema: its deletes are no-ops, and the next change
    * set has a table to apply to. */
  def applyChangeSet(spark: SparkSession, path: String, delKeys: DataFrame,
      ins: DataFrame, keys: Seq[String], statsCols: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "need at least one key column")
    val missing = keys.filterNot(delKeys.columns.contains)
    require(missing.isEmpty, s"delete-key frame lacks ${missing.mkString(", ")}")
    val insMissing = keys.filterNot(ins.columns.contains)
    require(insMissing.isEmpty, s"insert frame lacks ${insMissing.mkString(", ")}")
    currentManifest(path) match {
      case None => overwrite(ins, path, statsCols)
      case Some(cur) =>
        require(sameSchema(cur.schemaDdl, ins.schema),
          s"apply schema mismatch vs '$path': table [${cur.schemaDdl}], " +
            s"ins [${ins.schema.toDDL}]")
        val keyFrame = delKeys.select(keys.map(col): _*)
          .unionByName(ins.select(keys.map(col): _*))
        cowMerge(spark, path, keyFrame, Some(_ => ins), keys, statsCols, cur,
          "apply_changes")
    }
  }

  /** The upsert body pinned to an explicit snapshot — the seam the spec
    * uses to stage a lost commit race deterministically. */
  private[graft] def upsertFromSnapshot(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], statsCols: Seq[String], cur: Manifest): Long = {
    require(sameSchema(cur.schemaDdl, delta.schema),
      s"upsert schema mismatch vs '$path': table [${cur.schemaDdl}], delta [${delta.schema.toDDL}]")
    cowMerge(spark, path, delta, Some(_ => delta), keys, statsCols, cur, "upsert")
  }

  // ---------------------------------------------------------- key sets

  /** A keyed commit's key set, summarized: `rows` key tuples, of which
    * `distinct` are distinct (counted only when asked — the merges'
    * duplicate-key refusal), and per key column its non-NULL `lo`/`hi`
    * (absent when the column holds no non-NULL key) and its NULL count.
    * `tuples` holds the distinct key tuples themselves when the key
    * frame is driver-local ([[localKeyTuples]]); membership is then a
    * literal IN over them instead of a join against the key frame. */
  private final case class KeyStats(rows: Long, distinct: Option[Long],
      lo: Map[String, Any], hi: Map[String, Any], nulls: Map[String, Long],
      tuples: Option[Seq[Row]])

  /** Key types whose `IN` agrees with `<=>` on non-NULL values: SQL
    * equality there is value identity, so a driver-side distinct and a
    * literal IN list match exactly the rows a null-safe join matches.
    * Floating point is out (NaN and -0.0 compare equal in SQL but not
    * as JVM values), and so are collated strings and non-atomic types. */
  private def literalKeyType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType | DateType |
        TimestampType | TimestampNTZType | BooleanType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The key tuples of `frame`, collected on the driver, when the frame
    * is DRIVER-LOCAL and every key column is a [[literalKeyType]]; None
    * otherwise. Driver-local means the optimized plan's leaves are all
    * `LocalRelation`s — what `createDataFrame(rows)`, `Seq.toDF` and SQL
    * `VALUES` produce: rows already held in driver memory, which a
    * broadcast join would collect to the driver anyway. A single
    * relation, or a union of them (the change-set shape), collects
    * without a Spark job. */
  private[graft] def localKeyTuples(frame: DataFrame, keys: Seq[String]): Option[Seq[Row]] = {
    val kf = frame.select(keys.map(col): _*)
    val plan = kf.queryExecution.optimizedPlan
    if (!kf.schema.fields.forall(f => literalKeyType(f.dataType)) ||
        !plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else Some(plan match {
      case u: Union => u.children.flatMap(c =>
        org.apache.spark.sql.graftbridge.ClassicBridge.ofRows(frame.sparkSession, c).collect())
      case _ => kf.collect().toSeq
    })
  }

  /** Spark's ordering of one literal key type, on collected values:
    * [[cmp]] under the type's stats tag (UTF-8 binary for strings), so
    * driver-side bounds equal what Spark's min/max would return. */
  private def keyOrdering(dt: DataType): Ordering[Any] = statTag(dt) match {
    case Some(t) => (a: Any, b: Any) => cmp(t, encode(t, a), encode(t, b))
    case None => Ordering.Boolean.on[Any](_.asInstanceOf[Boolean])
  }

  /** The one [[KeyStats]] computation of every keyed commit: over
    * `tuples` on the driver when the key frame is driver-local (no job),
    * otherwise one aggregate over `frame`. */
  private def keyStats(frame: DataFrame, keys: Seq[String], tuples: Option[Seq[Row]],
      withDistinct: Boolean = false): KeyStats = tuples match {
    case Some(all) =>
      val distinct = all.distinct
      val bounds = keys.zipWithIndex.flatMap { case (k, i) =>
        val vs = distinct.map(_.get(i)).filter(_ != null)
        val ord = keyOrdering(frame.schema(k).dataType)
        if (vs.isEmpty) None else Some((k, vs.min(ord), vs.max(ord)))
      }
      KeyStats(all.size.toLong, Some(distinct.size.toLong),
        bounds.map(b => b._1 -> b._2).toMap, bounds.map(b => b._1 -> b._3).toMap,
        keys.indices.map(i => keys(i) -> all.count(_.isNullAt(i)).toLong).toMap,
        Some(distinct))
    case None =>
      val aggs = Seq(count(lit(1))) ++
        (if (withDistinct) Seq(countDistinct(struct(keys.map(col): _*))) else Nil) ++
        keys.flatMap(k => Seq(min(col(k)), max(col(k)), count(when(col(k).isNull, 1))))
      val b = frame.agg(aggs.head, aggs.tail: _*).head()
      val at = if (withDistinct) 2 else 1
      def per(j: Int) = keys.indices.flatMap(i => Option(b.get(at + 3 * i + j)).map(keys(i) -> _)).toMap
      KeyStats(b.getLong(0), if (withDistinct) Some(b.getLong(1)) else None, per(0), per(1),
        keys.indices.map(i => keys(i) -> b.getLong(at + 3 * i + 2)).toMap, None)
  }

  /** A merge source's [[KeyStats]], refusing duplicate keys (each target
    * row may match at most one source row — Delta refuses the same). */
  private def mergeSourceStats(source: DataFrame, keys: Seq[String]): KeyStats = {
    val ks = keyStats(source, keys, localKeyTuples(source, keys), withDistinct = true)
    require(ks.distinct.contains(ks.rows),
      s"merge source has duplicate keys (${keys.mkString(", ")}) — each target row " +
        "may match at most one source row")
    ks
  }

  /** Null-safe membership of a row's key tuple in the literal key set
    * `tuples`: `k IN (…)`, OR `k IS NULL` when the set holds NULL, for
    * one key column; `struct(keys) IN (…)` for several (struct equality
    * compares NULL components as equal — `<=>` per component). Evaluates
    * to NULL, never true, for a NULL key the set lacks. */
  private def memberOf(keys: Seq[String], schema: StructType, tuples: Seq[Row]): Column = {
    val types = keys.map(k => schema(k).dataType)
    if (keys.size == 1) {
      val vs = tuples.map(_.get(0))
      val in = col(keys.head).isInCollection(vs.filter(_ != null).map(lit(_).cast(types.head)))
      if (vs.contains(null)) in || col(keys.head).isNull else in
    } else struct(keys.map(col): _*).isInCollection(tuples.map(t =>
      struct(keys.indices.map(i => lit(t.get(i)).cast(types(i)).as(keys(i))): _*)))
  }

  /** Rows per data file of `files` (one column: the scan's
    * `_graft_file`, the [[fileUri]] form). Counted per partition and
    * summed on the driver — one job, no shuffle; a file split across
    * partitions sums exactly. */
  private[graft] def fileRowCounts(files: DataFrame): Map[String, Long] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.as[String].mapPartitions { it =>
      val n = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(f => n(f) = n.getOrElse(f, 0L) + 1L)
      n.iterator
    }.collect().toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The keyed-COW core: drop every row of the table whose key tuple
    * (null-safe) appears in `keyFrame`, append the rows `replacement`
    * derives from the touched files' rows, rewriting ONLY the files
    * that actually hold a matched key. upsert = (delta keys, append
    * delta); keyed delete = (victim keys, append nothing); merge =
    * (source keys, the clauses' output over the touched rows).
    *
    * Touched files are found by (1) the stats cover on the key set's
    * bounds, then (2) one key-column scan of the surviving candidates
    * that keeps rows whose key is in the set and counts them per file.
    * A DRIVER-LOCAL key frame ([[localKeyTuples]]) has its bounds
    * computed on the driver and its membership tested with a literal
    * IN over the collected tuples — the rows are already in driver
    * memory — so probe and rewrite are one job each. Any other key
    * frame is persisted, aggregated for bounds, and joined null-safely
    * (semi-join probe, anti-join kept rows). `known` carries stats the
    * caller already computed over the same keys (the merge source's). */
  private def cowMerge(spark: SparkSession, path: String, keyFrame: DataFrame,
      replacement: Option[DataFrame => DataFrame], keys: Seq[String], statsCols: Seq[String],
      cur: Manifest, op: String, known: Option[KeyStats] = None): Long = {
    val tuples = known.fold(localKeyTuples(keyFrame, keys))(_.tuples)
    // the join path reads the key frame up to three times (bounds,
    // probe, kept rows)
    val d = if (tuples.isDefined) keyFrame else keyFrame.persist()
    try {
      val ks = known.getOrElse(keyStats(d, keys, tuples))
      // stats prefilter: a file can hold a delta key in column k only if
      // its non-NULL [min,max] intersects the delta's non-NULL key range,
      // OR both sides have NULLs in k (upsert matches null-safely) —
      // min/max ignore NULLs, so the null channel is tracked separately
      def mayHoldDelta(stats: Map[String, ColStats]): Boolean =
        keys.forall { k =>
          stats.get(k) match {
            case None => true // no stats — can't prove the chunk clean
            case Some(st) =>
              val nullMatch = ks.nulls(k) > 0 && st.nulls > 0
              val rangeMatch = st.min.isDefined && ((ks.lo.get(k), ks.hi.get(k)) match {
                case (Some(l), Some(h)) =>
                  cmp(st.t, st.max.get, encode(st.t, l)) >= 0 &&
                    cmp(st.t, st.min.get, encode(st.t, h)) <= 0
                case _ => false // delta has no non-NULL keys in k
              })
              rangeMatch || nullMatch
          }
        }
      // the same cover runs leaf-level first: a leaf whose aggregate key
      // range can't hold a delta key is never parsed and carries by
      // pointer — steady-state upserts against a clustered table read
      // O(touched leaves), not O(manifest)
      val (liveLeaves, cleanLeaves) = cur.leaves.getOrElse(Nil)
        .partition(l => mayHoldDelta(l.stats))
      val loaded = liveLeaves.map(l => l -> loadLeaf(path, l))
      // an empty key set can touch nothing, stats or not
      val candidates =
        if (ks.rows == 0) Nil
        else (cur.files ++ loaded.flatMap(_._2)).filter(fe => mayHoldDelta(fe.stats))
      val schema = StructType.fromDDL(cur.schemaDdl)
      // the probe's and the kept rows' view of the key set: rows whose
      // key is in it (as one file-name column), and rows whose key is not
      val (hitFiles, misses): (DataFrame => DataFrame, DataFrame => DataFrame) = tuples match {
        case Some(ts) =>
          val member = memberOf(keys, schema, ts)
          (_.filter(member).select(col(graft.sources.GraftBatch.FileMetaCol)),
            _.filter(!coalesce(member, lit(false))))
        case None =>
          // key columns renamed on the probe side: a self-derived frame
          // joined on same-name columns would resolve ambiguously
          val deltaKeys = d.select(keys.map(k => col(k).as(s"__dk_$k")): _*).distinct()
          val keyCond = keys.map(k => col(k) <=> col(s"__dk_$k")).reduce(_ && _)
          (_.select((keys.map(col) :+
              col(graft.sources.GraftBatch.FileMetaCol).as("__f")): _*)
            .join(deltaKeys, keyCond, "left_semi").select(col("__f")),
            _.join(deltaKeys, keyCond, "left_anti"))
      }
      // keyed by FULL normalized URI, never basename — same discipline
      // as rewriteMatching: a shallow clone's absolute-path entry next
      // to a local part file with the same name must not pool (here the
      // collision only OVER-included — a clean file re-read and
      // rewritten — but it is write amplification a URI key removes)
      val touchedUris: Set[String] =
        if (candidates.isEmpty) Set.empty
        else fileRowCounts(hitFiles(readFileSubset(spark, path, cur, candidates))).keySet
      def isTouched(fe: FileEntry) = touchedUris.contains(fileUri(path, fe))
      val (inTouched, inUntouched) = cur.files.partition(isTouched)
      val (dirtyLeaves, carriedLive) = loaded.partition(_._2.exists(isTouched))
      val touched = inTouched ++ dirtyLeaves.flatMap(_._2).filter(isTouched)
      val survivors = dirtyLeaves.flatMap(_._2).filterNot(isTouched)
      val touchedRows = readFileSubset(spark, path, cur, touched)
      val kept = misses(touchedRows)
      // driver-local rows ride in the files they rewrite: a task per maxPartitionBytes of each
      val rewritten = replacement.fold(kept) { r =>
        val u = kept.unionByName(r(touchedRows).select(schema.fieldNames.map(col): _*))
        val split = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
        if (tuples.isEmpty) u else u.coalesce(math.max(1L, touched.map(_.bytes / split + 1).sum).toInt)
      }
      // nothing to rewrite when no file is touched and nothing replaces
      // — every replacement row carries a key of the key set, so an
      // empty key set replaces nothing: skip the staging job
      val staged =
        if (touched.isEmpty && (replacement.isEmpty || ks.rows == 0)) Nil
        else stageFiles(rewritten, path, statsCols, None, cur.checks.getOrElse(Map.empty))
      val (files, leaves) = packCommit(path, inUntouched ++ survivors ++ staged,
        cleanLeaves ++ carriedLive.map(_._1))
      val next = Manifest(cur.version + 1, commitTs(Some(cur)), op,
        cur.schemaDdl, files, cur.streamMarks, leaves,
        Some(ChangeLog(logEntries(staged), logEntries(touched))), checks = cur.checks, properties = cur.properties)
      if (!tryCommit(path, next))
        throw new java.util.ConcurrentModificationException(
          s"commit v${next.version} of '$path' lost the race — re-read and retry the $op")
      next.version
    } finally if (tuples.isEmpty) d.unpersist(): Unit
  }

  // ------------------------------------------------------- schema renames

  /** METADATA-ONLY column rename — zero data IO, exactly what renaming a
    * column on a 100 TB table must cost (a rewrite would be petabyte
    * churn; Delta's column mapping draws the same line, re-derived). The
    * new manifest carries the renamed logical schema, renamed stats
    * keys, and a per-file logical→physical map readers project through
    * ([[readFileSubset]]). Files written AFTER the rename use the new
    * name physically; compaction gradually retires the indirection.
    * Historical versions keep their own schema — time travel reads the
    * OLD name before the rename commit, by construction. */
  def renameColumn(path: String, from: String, to: String): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(schema.fieldNames.contains(from), s"no column '$from' in [${cur.schemaDdl}]")
    require(!schema.fieldNames.contains(to), s"column '$to' already exists")
    val newDdl = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f)).toDDL
    // a schema op touches EVERY file entry, so it dissolves the leaf
    // structure and repacks — O(files) driver work, the documented cost
    // of the (rare) metadata ops; data IO stays zero
    val mapped = filesOf(path, cur).map { fe =>
      val ren = fe.renames.getOrElse(Map.empty)
      val phys = ren.getOrElse(from, from)
      val next = (ren - from) ++ (if (to == phys) Map.empty else Map(to -> phys))
      fe.copy(
        stats = fe.stats.map { case (k, v) => (if (k == from) to else k) -> v },
        renames = if (next.isEmpty) None else Some(next))
    }
    val (files, leaves) = packCommit(path, mapped, Nil)
    // metadata-only: file contents unchanged, so the change log is empty
    // (chain diffs across a schema op fall back on the DDL check anyway)
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), "rename", newDdl,
      files, cur.streamMarks, leaves, Some(ChangeLog(Nil, Nil)), checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"rename on '$path' lost the commit race — retry")
    next.version
  }

  /** METADATA-ONLY column add — zero data IO, like [[renameColumn]].
    * The new (always-nullable) column reads as NULL from every file
    * committed before the add; files written after carry it physically.
    * Each existing file gets a rename-indirection entry pointing the new
    * logical name at a physical name GUARANTEED absent from the file —
    * not the bare name — so re-adding a previously-dropped (or
    * physically-present-but-never-declared) column can never resurrect
    * stale on-disk values, the hazard Delta's column-mapping ids exist
    * for. Historical versions keep their old schema (time travel before
    * the add does not see the column). */
  def addColumn(path: String, name: String, ddlType: String): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column '$name' already exists in [${cur.schemaDdl}]")
    val dt = DataType.fromDDL(ddlType)
    val newDdl = StructType(schema.fields :+ StructField(name, dt, nullable = true)).toDDL
    val absent = s"__graft_absent_${java.util.UUID.randomUUID.toString.take(8)}"
    val mapped = filesOf(path, cur).map { fe =>
      fe.copy(renames = Some(fe.renames.getOrElse(Map.empty) + (name -> absent)))
    }
    val (files, leaves) = packCommit(path, mapped, Nil)
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), "add_column", newDdl,
      files, cur.streamMarks, leaves, Some(ChangeLog(Nil, Nil)), checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"add_column on '$path' lost the commit race — retry")
    next.version
  }

  /** METADATA-ONLY column drop: the logical schema loses the field;
    * on-disk data stays (readers project it away; compaction and
    * copy-on-write rewrites gradually shed it), historical versions
    * still read it — exactly Delta's drop-column line. Dropped-name
    * stats entries stay on old files and remain prune-SAFE: a range or
    * IN probe never matches NULL, and post-drop reads of those files
    * yield nothing for the name, so a stale-stats skip can only skip
    * files whose surviving values could not match anyway. */
  def dropColumn(path: String, name: String): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(schema.fieldNames.contains(name), s"no column '$name' in [${cur.schemaDdl}]")
    require(schema.fields.length > 1, s"cannot drop the last column of '$path'")
    val newDdl = StructType(schema.fields.filterNot(_.name == name)).toDDL
    val mapped = filesOf(path, cur).map { fe =>
      val next = fe.renames.getOrElse(Map.empty) - name
      fe.copy(renames = if (next.isEmpty) None else Some(next))
    }
    val (files, leaves) = packCommit(path, mapped, Nil)
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), "drop_column", newDdl,
      files, cur.streamMarks, leaves, Some(ChangeLog(Nil, Nil)), checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"drop_column on '$path' lost the commit race — retry")
    next.version
  }

  // ------------------------------------------------------ CHECK constraints

  /** Add a named CHECK constraint (Delta table constraints, re-derived):
    * a SQL boolean expression every FUTURE write must satisfy, enforced
    * at staging on every write path ([[checkStaged]] — SQL semantics,
    * NULL passes). The add itself validates the CURRENT snapshot in one
    * limit-1 scan and refuses if any existing row violates, so a
    * committed check is an invariant of the whole table, not just new
    * data. The constraint map rides the manifest — versioned, snapshot-
    * isolated, carried by every commit — and costs O(batch) per write,
    * never O(table). A check referencing a column a later overwrite
    * drops fails that write's analysis loudly; drop the check first. */
  def addCheck(spark: SparkSession, path: String, name: String, sqlExpr: String): Long = {
    require(name.nonEmpty, "check needs a name")
    expr(sqlExpr) // parse errors surface here, before any commit attempt
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
      require(!cur.checks.exists(_.contains(name)),
        s"check '$name' already exists on '$path'")
      val bad = readManifest(spark, path, cur)
        .filter(expr(sqlExpr) <=> lit(false)).limit(1).count()
      require(bad == 0,
        s"existing rows of '$path' violate CHECK $name [$sqlExpr] — clean the data first")
      val next = Manifest(cur.version + 1, commitTs(Some(cur)), "add_check",
        cur.schemaDdl, cur.files, cur.streamMarks, cur.leaves, Some(ChangeLog(Nil, Nil)),
        checks = Some(cur.checks.getOrElse(Map.empty) + (name -> sqlExpr)),
        properties = cur.properties)
      if (tryCommit(path, next)) committed = next.version
      // else: lost the race — re-validate against the new head and retry
    }
    committed
  }

  /** The active CHECK constraints as a relation (name, expression) —
    * the DESCRIBE surface for [[addCheck]], manifest metadata alone. */
  def describeChecks(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val m = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    m.checks.getOrElse(Map.empty).toSeq.sortBy(_._1).toDF("name", "expr")
  }

  /** Remove a CHECK constraint (a metadata-only commit). */
  def dropCheck(path: String, name: String): Long = {
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
      require(cur.checks.exists(_.contains(name)), s"no check '$name' on '$path'")
      val next = Manifest(cur.version + 1, commitTs(Some(cur)), "drop_check",
        cur.schemaDdl, cur.files, cur.streamMarks, cur.leaves, Some(ChangeLog(Nil, Nil)),
        checks = cur.checks.map(_ - name).filter(_.nonEmpty),
        properties = cur.properties)
      if (tryCommit(path, next)) committed = next.version
    }
    committed
  }

  // ---------------------------------------------------------------- analyze

  /** Per-file stats of files the one writer did not write (ANALYZE,
    * CONVERT), from one grouped job over `df` (columns under their
    * logical names): each file's row count and each of `fields`' min,
    * max and null count; and each `bloomCols` column's `mBits`-bit bloom,
    * from one more job per column at (file, position) grain — at most
    * `mBits` positions per file reach the driver. Keyed by file
    * basename; a zero-row file has no entry. */
  private def scanFileStats(df: DataFrame, fields: Seq[StructField],
      bloomCols: Seq[String] = Nil, mBits: Int = 0): Map[String, (Long, Map[String, ColStats])] = {
    val file = input_file_name().as("__f")
    // input_file_name() is the URI form — decode before taking the
    // basename, or any percent-encoded name (spaces etc.) would miss
    def base(uri: String): String = new java.net.URI(uri).getPath match {
      case null => uri.split('/').last // not a parseable URI — raw basename
      case p => p.split('/').last
    }
    val blooms: Map[String, Map[String, String]] = bloomCols.map { c =>
      val pos = df.filter(col(c).isNotNull)
        .select(file, explode(bloomPositions(col(c), df.schema(c).dataType, BloomK, mBits)))
        .distinct().collect()
      c -> pos.groupBy(r => base(r.getString(0)))
        .map { case (bn, rs) => bn -> packBloom(BloomK, mBits, rs.map(_.getLong(1)).toSeq) }
    }.toMap
    val aggs = count(lit(1L)).as("__rows") +: fields.flatMap { f =>
      Seq(min(col(f.name)).as(s"__min_${f.name}"), max(col(f.name)).as(s"__max_${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"))
    }
    df.groupBy(file).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val bn = base(r.getString(0))
      bn -> (r.getAs[Long]("__rows"), fields.map { f =>
        val tag = statTag(f.dataType).get
        f.name -> ColStats(tag,
          Option(r.get(r.fieldIndex(s"__min_${f.name}"))).map(encode(tag, _)),
          Option(r.get(r.fieldIndex(s"__max_${f.name}"))).map(encode(tag, _)),
          r.getAs[Long](s"__nulls_${f.name}"),
          // an all-NULL column produced no positions: attach the
          // all-clear bloom anyway, or ANALYZE's needsWork stays true and
          // every later ANALYZE re-scans the file and commits a
          // do-nothing version
          bloom = if (!bloomCols.contains(f.name)) None
            else Some(blooms(f.name).getOrElse(bn, packBloom(BloomK, mBits, Nil))))
      }.toMap)
    }.toMap
  }

  /** Backfill per-file stats (and bloom filters, for `bloomCols`) onto
    * the CURRENT snapshot WITHOUT rewriting any data — ANALYZE, the
    * post-hoc half of the stats story: file skipping ([[readPruned]],
    * [[readPrunedIn]], the GraftBatch scan's split planning) becomes
    * available on columns nobody indexed at write time. Scan cost is
    * one columnar read of ONLY the listed columns over ONLY the files
    * that lack them — a re-run after appends scans just the new files,
    * the incremental maintenance cadence at 100 TB — and commit cost is
    * one metadata-only version (op `analyze`, empty change set: CDF
    * consumers and streams see no rows). Already-covered files keep
    * their stats and blooms untouched; an analyze with nothing to do
    * commits nothing and returns the current version. A lost commit
    * race re-derives against the new head, re-scanning only files the
    * per-file cache has not already covered. */
  def analyzeStats(spark: SparkSession, path: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil): Long = {
    require(cols.nonEmpty || bloomCols.nonEmpty, "nothing to analyze")
    val want = (cols ++ bloomCols).distinct
    val bloomSet = bloomCols.toSet
    val cache = scala.collection.mutable.Map.empty[String, Map[String, ColStats]]
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
      val logical = StructType.fromDDL(cur.schemaDdl)
      val fields = want.map { c =>
        require(logical.fieldNames.contains(c), s"no column '$c' in [${cur.schemaDdl}]")
        val f = logical(c)
        require(statTag(f.dataType).isDefined,
          s"ANALYZE '$c': ${f.dataType.simpleString} carries no file stats")
        f
      }
      val live = filesOf(path, cur)
      def needsWork(fe: FileEntry): Boolean =
        cols.exists(c => !fe.stats.contains(c)) ||
          bloomCols.exists(c => !fe.stats.get(c).exists(_.bloom.isDefined))
      val todo = live.filter(needsWork)
      if (todo.isEmpty) return cur.version
      val missing = todo.filterNot(fe => cache.contains(fe.path.split('/').last))
      if (missing.nonEmpty) {
        val mBits = bloomBits(missing.map(_.rows).maxOption.getOrElse(0L))
        missing.groupBy(_.renames.getOrElse(Map.empty)).foreach { case (ren, fs) =>
          val phys = StructType(fields.map(f => f.copy(name = ren.getOrElse(f.name, f.name))))
          val dfp = spark.read.schema(phys).parquet(fs.map(fe => resolveData(path, fe)): _*)
            .select(fields.map(f => col(ren.getOrElse(f.name, f.name)).as(f.name)).toSeq: _*)
          val perFile = scanFileStats(dfp, fields, bloomCols, mBits)
          fs.foreach { fe =>
            val bn = fe.path.split('/').last
            // a zero-row file yields no groupBy row: register empty
            // stats (and an all-clear bloom) rather than refusing
            cache(bn) = perFile.get(bn).map(_._2).getOrElse(
              fields.map(f => f.name -> ColStats(statTag(f.dataType).get, None, None, 0L,
                bloom = if (bloomSet(f.name)) Some(packBloom(BloomK, mBits, Nil)) else None))
                .toMap)
          }
        }
      }
      val merged = live.map { fe =>
        if (!needsWork(fe)) fe
        else fe.copy(stats = fe.stats ++ cache(fe.path.split('/').last).map {
          // never clobber a bloom this pass didn't compute
          case (k, v) => k -> v.copy(bloom = v.bloom.orElse(fe.stats.get(k).flatMap(_.bloom)))
        })
      }
      val (files, leaves) = packCommit(path, merged, Nil)
      val next = Manifest(cur.version + 1, commitTs(Some(cur)), "analyze",
        cur.schemaDdl, files, cur.streamMarks, leaves, Some(ChangeLog(Nil, Nil)),
        checks = cur.checks, properties = cur.properties)
      if (tryCommit(path, next)) committed = next.version
    }
    committed
  }

  // ---------------------------------------------------------------- convert

  /** CONVERT an existing plain-parquet directory into a GraftTable IN
    * PLACE (Delta's `CONVERT TO DELTA`, re-derived) — the migration
    * primitive: no rewrite, no copy. The root-level `*.parquet` files
    * are registered as v1's entries (with per-file [min,max,nulls]
    * stats for `statsCols`, computed by one grouped scan — pruning
    * works from the first read), and every subsequent commit behaves
    * normally: appends land in `data/`, COW rewrites replace converted
    * files by reference, vacuum reclaims only `data/` so the original
    * files are never deleted out from under a non-graft reader. After
    * conversion the MANIFEST is the table — plain directory readers
    * won't see later commits; read through [[read]]. */
  def convertParquetDir(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Nil): Long = {
    require(!exists(dir), s"'$dir' is already a GraftTable")
    val parts = Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    require(parts.nonEmpty, s"no parquet files at '$dir' to convert")
    val df = TableIO.readParquet(spark, parts.map(_.toString).toSeq: _*)
    val fields = resolveStatsCols(df.schema, statsCols)
    val perFile = scanFileStats(df, fields)
    val entries = parts.map { p =>
      perFile.get(p.getName) match {
        case Some((rows, stats)) => FileEntry(p.getName, rows, p.length, stats)
        // a zero-row part file produces no groupBy row at all — still a
        // valid member; register it with rows=0 and no stats
        case None => FileEntry(p.getName, 0L, p.length, Map.empty)
      }
    }.toSeq
    val (files, leaves) = packCommit(dir, entries, Nil)
    val m = Manifest(1L, commitTs(None), "convert", df.schema.toDDL, files, None,
      leaves, Some(ChangeLog(logEntries(entries), Nil, truncate = true)))
    require(tryCommit(dir, m), s"convert of '$dir' lost a creation race")
    1L
  }

  // ------------------------------------------------------------- MERGE INTO

  /** A source column inside [[mergeInto]] clauses: conditions and SET
    * expressions evaluate over the matched pair, target columns under
    * their own names and source columns through this accessor. */
  def srcCol(name: String): Column = col(s"__src_$name")

  /** MERGE INTO (Delta's flagship DML, re-derived on the COW core):
    * one commit applying, per source row against the keyed match:
    *
    *  - WHEN MATCHED [AND `deleteWhen`] THEN DELETE
    *  - WHEN MATCHED [AND `updateWhen`] THEN UPDATE SET `updateSet`
    *    (delete wins when both conditions hold, Delta's clause order)
    *  - WHEN NOT MATCHED THEN INSERT (`insertNotMatched`)
    *
    * Clause expressions see target columns by name and source columns
    * via [[srcCol]]. The scale shape is the upsert's: a stats cover on
    * the source's key bounds prunes the probe to candidate files
    * BEFORE any IO (a NULL source key also keeps files holding NULL
    * keys — min/max ignore NULLs), only files actually holding matched
    * keys are read by the clauses and rewritten, untouched files and
    * clean leaves carry by pointer,
    * and the whole thing is one optimistic commit with the change log
    * recording adds/removes. Source keys must be unique (the multiple-
    * matches-per-target-row case Delta also refuses); matched rows
    * whose clauses don't apply rewrite unchanged (they live in touched
    * files). CHECK constraints gate the rewritten output like every
    * other write. A driver-local source has its keys checked and bounded
    * on the driver with no Spark job — its rows are already there — and
    * probed as a literal key set; any other source takes one aggregate
    * job for both. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame, keys: Seq[String],
      updateSet: Map[String, Column] = Map.empty, updateWhen: Option[Column] = None,
      deleteWhen: Option[Column] = None, insertNotMatched: Boolean = true,
      statsCols: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "need at least one key column")
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val missingKeys = keys.filterNot(source.columns.contains)
    require(missingKeys.isEmpty, s"source lacks key column(s) ${missingKeys.mkString(", ")}")
    // an unresolved SET column is a typo, not a no-op (Delta rejects too)
    val badSet = updateSet.keySet.filterNot(schema.fieldNames.contains)
    require(badSet.isEmpty,
      s"updateSet column(s) ${badSet.mkString(", ")} do not exist on '$path' " +
        s"[${schema.fieldNames.mkString(", ")}]")
    if (insertNotMatched) {
      val missing = schema.fieldNames.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"insertNotMatched needs the full target schema in the source; missing ${missing.mkString(", ")}")
    }
    // Delta's multiple-match refusal; its key stats then drive cowMerge's
    // stats cover, probe and kept rows
    val ks = mergeSourceStats(source, keys)
    val src = source.select(source.columns.map(c => col(c).as(s"__src_$c")).toSeq: _*)
    val matchCond = keys.map(k => col(k) <=> srcCol(k)).reduce(_ && _)
    val updGate = coalesce(updateWhen.getOrElse(lit(true)).cast("boolean"), lit(false))
    // every target row a source key matches lives in a touched file, so
    // the clauses run over the touched rows only
    val delta: DataFrame => DataFrame = touchedRows => {
      val matched = touchedRows.join(src, matchCond, "inner")
      val survivors0 = deleteWhen match {
        case Some(c) => matched.filter(!coalesce(c.cast("boolean"), lit(false)))
        case None => matched
      }
      val survivors = survivors0.select(schema.fields.map { f =>
        (updateSet.get(f.name) match {
          case Some(e) => when(updGate, e.cast(f.dataType)).otherwise(col(f.name))
          case None => col(f.name)
        }).as(f.name)
      }.toSeq: _*)
      if (!insertNotMatched) survivors
      else {
        // a source key absent from the touched files is absent from the
        // table: every file that holds one is touched
        val touchedKeys = touchedRows.select(keys.map(k => col(k).as(s"__tk_$k")): _*)
        val antiCond = keys.map(k => col(k) <=> col(s"__tk_$k")).reduce(_ && _)
        survivors.unionByName(source.join(touchedKeys, antiCond, "left_anti")
          .select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
      }
    }
    cowMerge(spark, path, source.select(keys.map(col): _*), Some(delta),
      keys, statsCols, cur, "merge", known = Some(ks))
  }

  // ---------------------------------------------------------------- restore

  /** RESTORE the table to the content of `version` (Delta's
    * `RESTORE TABLE … TO VERSION AS OF`, re-derived) — the write-side
    * completion of the time-travel triad (read a version, diff versions,
    * ROLL BACK to one). A metadata-only commit: the new head carries
    * version N's file list, leaves, schema, and CHECK constraints
    * verbatim — zero data IO, history PRESERVED (the bad commits stay
    * time-travel-readable; nothing is rewritten), and the change log
    * records the rollback as O(changed files) adds/removes, so CDC
    * consumers see the restore as an explicit data change (the streaming
    * source rightly refuses it without `ignoreChanges` — a rollback IS
    * a rewrite). Stream high-water marks do NOT roll back: the
    * exactly-once ledger must be monotone or replayed batches would
    * double-apply. Requires `version`'s manifest (and its files) to
    * still be retained — restore past a vacuum horizon refuses at
    * [[manifestAt]]. */
  /** TRUNCATE: empty the table in one METADATA-ONLY commit — no file
    * is read, rewritten, or deleted (the old snapshot stays fully
    * time-travelable until [[vacuum]] retires it; vacuum then reclaims
    * the whole data payload). Schema, CHECK constraints, properties,
    * and stream marks carry. The change log records it as a
    * `truncate` (the overwrite shape whose removed set is "everything
    * before"), so CDF chain replay, CDC replication, and streaming
    * consumers treat it exactly like an overwrite to empty. On a 100
    * TB table this is the only sane "delete everything" — a COW
    * delete-all would pay a full probe, a MOR delete-all would write
    * vectors for every file; truncate costs one manifest. */
  def truncate(path: String): Long = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), "truncate",
      cur.schemaDdl, Nil, cur.streamMarks, None,
      Some(ChangeLog(Nil, Nil, truncate = true)),
      checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"commit v${next.version} of '$path' lost the race — re-read and retry the truncate")
    next.version
  }

  /** The commit half of ATOMIC `REPLACE TABLE … AS SELECT` through the
    * catalog ([[graft.catalog.GraftCatalog]] as a `StagingTableCatalog`):
    * the query's result was written into a hidden staged sibling
    * GraftTable; this MOVES its data files into the target's data dir
    * (fresh UUID names — collision-free; a move is a directory-entry
    * rename, zero data IO) and commits ONE overwrite-shaped manifest.
    * REPLACE semantics are wholesale: schema, CHECK constraints, and
    * properties come from the STAGED definition — but table IDENTITY is
    * preserved: the commit is version v+1 on the existing chain, the
    * old snapshot stays time-travelable, stream marks carry (a stream
    * writer's exactly-once ledger survives the replace), and the change
    * log records a truncate-overwrite so CDF replay and streaming
    * consumers see exactly what an INSERT OVERWRITE looks like. CAS
    * retry vs concurrent writers; the staged table is left for the
    * caller to discard. If the target does not exist the commit creates
    * v1 (`CREATE OR REPLACE` on a fresh name). */
  private[graft] def replaceFrom(targetPath: String, stagedPath: String): Long = {
    val staged = currentManifest(stagedPath).getOrElse(
      throw new IllegalArgumentException(s"'$stagedPath' is not a GraftTable"))
    val entries = filesOf(stagedPath, staged)
    require(entries.forall(fe => fe.dv.isEmpty && fe.renames.isEmpty),
      s"staged table '$stagedPath' carries deletion vectors or column renames — " +
        "REPLACE staging writes plain files only")
    val dataDir = new File(targetPath, DataDir); dataDir.mkdirs()
    entries.foreach { fe =>
      Files.move(new File(stagedPath, fe.path).toPath,
        new File(targetPath, fe.path).toPath): Unit
    }
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(targetPath)
      val (files, leaves) = packCommit(targetPath, entries, Nil)
      val next = Manifest(cur.map(_.version + 1).getOrElse(1L), commitTs(cur),
        "replace_table", staged.schemaDdl, files, cur.flatMap(_.streamMarks), leaves,
        Some(ChangeLog(logEntries(entries), Nil, truncate = true)),
        checks = staged.checks, properties = staged.properties)
      if (tryCommit(targetPath, next)) committed = next.version
    }
    committed
  }

  def restore(path: String, version: Long): Long = {
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
      require(version <= cur.version, s"cannot restore '$path' to future v$version")
      if (version == cur.version) return cur.version // no-op
      val old = manifestAt(path, version)
      val oldFiles = filesOf(path, old)
      val curFiles = filesOf(path, cur)
      // (path, dv) identity: rolling back across a MOR delete keeps the
      // data file but swaps its vector — that IS a data change, and the
      // log must record it (remove current-dv entry, add old-dv entry)
      // or CDC consumers would never see the un-deleted rows
      def ident(fe: FileEntry) = (fe.path, fe.dv.map(_.path))
      val curIds = curFiles.map(ident).toSet
      val oldIds = oldFiles.map(ident).toSet
      val next = Manifest(cur.version + 1, commitTs(Some(cur)), "restore",
        old.schemaDdl, old.files, cur.streamMarks, old.leaves,
        Some(ChangeLog(logEntries(oldFiles.filterNot(fe => curIds(ident(fe)))),
          logEntries(curFiles.filterNot(fe => oldIds(ident(fe)))))),
        checks = old.checks, properties = cur.properties)
      if (tryCommit(path, next)) committed = next.version
    }
    committed
  }

  // ------------------------------------------------------------------ clone

  /** CLONE (Delta's CLONE re-derived): materialize `dstPath` as an
    * independent table holding `srcPath`'s current snapshot.
    *
    *  - **Shallow** (default): a METADATA-ONLY commit whose entries
    *    reference the source's data files by absolute path — zero data
    *    IO regardless of table size, the dev/test-fork and
    *    experiment-branch primitive. The clone owns its own history from
    *    v1: appends land in the clone's `data/`, COW rewrites copy
    *    touched files into the clone and carry the rest by absolute
    *    reference, and vacuuming the CLONE never deletes source files
    *    (it only reclaims the clone's own data dir). The one documented
    *    hazard is Delta's too: vacuuming the SOURCE can reclaim files a
    *    shallow clone still references — deep-clone anything that must
    *    outlive its source's retention.
    *  - **Deep**: byte-copy every live file into the clone — O(table)
    *    IO, but preserves layout, stats, and blooms exactly (no
    *    re-encode, unlike CTAS), and the result shares no fate with the
    *    source.
    *
    * Either way the clone inherits schema, per-file stats (pruning works
    * immediately), rename maps, and CHECK constraints; stream marks stay
    * behind (the clone is a new stream target). */
  def cloneTable(spark: SparkSession, srcPath: String, dstPath: String,
      deep: Boolean = false): Long = {
    val src = currentManifest(srcPath).getOrElse(
      throw new IllegalArgumentException(s"'$srcPath' is not a GraftTable"))
    require(currentManifest(dstPath).isEmpty, s"clone target '$dstPath' already exists")
    val entries = filesOf(srcPath, src)
    val cloned =
      if (!deep) entries.map(fe =>
        fe.copy(path = new File(resolveData(srcPath, fe)).getAbsolutePath,
          // deletion vectors travel with their data file: the clone
          // must see the same live rows, by absolute reference
          dv = fe.dv.map(d => d.copy(path =
            new File(resolveDv(srcPath, d)).getAbsolutePath))))
      else {
        val dataDir = new File(dstPath, DataDir)
        dataDir.mkdirs()
        entries.map { fe =>
          val from = new File(resolveData(srcPath, fe))
          Files.copy(from.toPath, new File(dataDir, from.getName).toPath)
          val dvCopied = fe.dv.map { d =>
            val dvFrom = new File(resolveDv(srcPath, d))
            val dvDir = new File(dstPath, DvDir); dvDir.mkdirs()
            Files.copy(dvFrom.toPath, new File(dvDir, dvFrom.getName).toPath)
            d.copy(path = s"$DvDir/${dvFrom.getName}")
          }
          fe.copy(path = s"$DataDir/${from.getName}", dv = dvCopied)
        }
      }
    val (files, leaves) = packCommit(dstPath, cloned, Nil)
    val m = Manifest(1L, commitTs(None), if (deep) "clone_deep" else "clone",
      src.schemaDdl, files, None, leaves,
      Some(ChangeLog(logEntries(cloned), Nil, truncate = true)), checks = src.checks, properties = src.properties)
    require(tryCommit(dstPath, m), s"clone of '$srcPath' lost a creation race at '$dstPath'")
    1L
  }

  // ----------------------------------------------------------- diff / CDC

  /** Net (added, removed) file entries across `(fromV, toV]` derived by
    * replaying the per-commit [[ChangeLog]]s, or None when any commit in
    * the span predates the log, changes the schema (recorded entries'
    * rename maps would be stale), or is an overwrite (its removed set is
    * the whole prior table — enumerate via the snapshot instead).
    * Cost is O(sum of per-commit changes) driver work; NO leaf manifest
    * is ever parsed, so a diff over a billion-file table plans at
    * O(changed files). A path added then removed within the span
    * cancels (paths are commit-unique, never reused). */
  private def chainChanges(path: String, fromDdl: String, fromV: Long,
      toV: Long): Option[(Seq[FileEntry], Seq[FileEntry])] = {
    val added = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    val removed = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    var v = fromV + 1
    while (v <= toV) {
      if (!new File(logDir(path), manifestName(v)).exists) return None
      val m = manifestAt(path, v)
      if (m.schemaDdl != fromDdl) return None
      m.changes match {
        case Some(ch) if !ch.truncate =>
          ch.removed.foreach { fe =>
            if (added.remove(fe.path).isEmpty) removed.update(fe.path, fe)
          }
          ch.added.foreach(fe => added(fe.path) = fe)
        case _ => return None
      }
      v += 1
    }
    Some((added.values.toSeq, removed.values.toSeq))
  }

  /** Row-level changes between two snapshots — the consumer side of time
    * travel (Snowflake's `CHANGES` / Delta CDF, re-derived): full outer
    * join of the two versions on `keys`, classifying each key as
    * `insert` / `delete` / `update` (any non-key column differs) and
    * dropping unchanged rows. Returns the TO-side row for inserts and
    * updates, the FROM-side row for deletes, plus `change_type`.
    *
    * NULL-safe throughout: NULL keys pair up, and value comparison uses
    * a canonical struct equality, so NULL ≠ value but NULL = NULL.
    *
    * Scale shape, best first: (1) when every commit in the span carries
    * a [[ChangeLog]], the changed-file sets come from the LOG CHAIN —
    * O(changed files) driver work, no snapshot file listing, not one
    * leaf manifest parsed ([[chainChanges]]); an append-only span
    * short-circuits further, reading just the added files and tagging
    * every row `insert` with no join at all. (2) Otherwise the manifest
    * SET-DIFFERENCE prunes the scan before any IO — data files are
    * immutable and every writer rewrites a whole file when it touches
    * any of its rows, so a file present in BOTH versions holds only
    * rows identical on both sides. Either way only files holding
    * changes are read and join — steady-state histories diff at
    * O(changed files), not O(table). The join itself is one
    * key-partitioned shuffle of each pruned side.
    *
    * Schema evolution: a pure WIDENING between the versions (every
    * from-side column present, same type, in the to-side) diffs under
    * the TO schema with absent columns read as NULL — so a routine
    * [[appendEvolve]] widen doesn't force consumers to resync. Any
    * other schema change refuses.
    *
    * Soundness requires `keys` be unique per snapshot (the file-grain
    * pruning reasons at key granularity); the pruned sides are asserted
    * duplicate-free — a cheap O(changes) check that catches wrong-key
    * misuse loudly instead of emitting phantom inserts/deletes. (A
    * duplicate split between a pruned and an unchanged file is
    * undetectable at O(changes); duplicate-key tables must not be
    * diffed.) */
  def diffVersions(spark: SparkSession, path: String, fromV: Long, toV: Long,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need key columns")
    val mFrom = manifestAt(path, fromV)
    val mTo = manifestAt(path, toV)
    val chained =
      if (fromV < toV && mFrom.schemaDdl == mTo.schemaDdl)
        chainChanges(path, mFrom.schemaDdl, fromV, toV)
      else None
    val (fromEntries, toEntries) = chained match {
      case Some((addedNet, removedNet)) => (removedNet, addedNet)
      case None =>
        val fFrom = filesOf(path, mFrom)
        val fTo = filesOf(path, mTo)
        // identity is (path, dv): a merge-on-read delete changes a
        // file's LIVE rows without changing its path, so same-path
        // entries with different vectors must survive into the diff
        def ident(fe: FileEntry) = (fe.path, fe.dv.map(_.path))
        val common = fFrom.map(ident).toSet intersect fTo.map(ident).toSet
        (fFrom.filterNot(f => common(ident(f))), fTo.filterNot(f => common(ident(f))))
    }
    val from0 = readFileSubset(spark, path, mFrom, fromEntries)
    val to = readFileSubset(spark, path, mTo, toEntries)
    val from =
      if (from0.schema == to.schema) from0
      else {
        val widening = from0.schema.fields.forall(f =>
          to.schema.fields.exists(t => t.name == f.name && t.dataType == f.dataType))
        require(widening,
          s"schema changed incompatibly between v$fromV and v$toV of '$path' — " +
            s"only pure widening diffs (from [${mFrom.schemaDdl}] to [${mTo.schemaDdl}])")
        from0.select(to.schema.fields.map(f =>
          if (from0.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
      }
    val missingKeys = keys.filterNot(to.columns.contains)
    require(missingKeys.isEmpty, s"key column(s) ${missingKeys.mkString(", ")} " +
      s"not in schema [${mTo.schemaDdl}]")
    val valCols = to.columns.filterNot(keys.contains).toSeq
    // append-only span: every changed row is an insert — no join, no
    // from-side read at all
    if (fromEntries.isEmpty)
      return to.select(keys.map(col) ++ valCols.map(col) :+
        lit("insert").as("change_type"): _*)
    // duplicate-key soundness assert, folded INTO the join's own
    // key-partitioned shuffle: a per-key window count on each side feeds
    // an assert_true inside the presence flag, so the check rides the
    // exchange+sort the full-outer join needs anyway — zero extra jobs,
    // zero extra reads of the delta files (the round-8 one-job variant
    // still re-read both pruned sides; q107 times three diffs per run,
    // so that extra read was the whole 2× regression)
    def tagged(df: DataFrame, side: String) = {
      val dupCount = count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*))
      val sideName = if (side == "a") "from" else "to"
      val guard = assert_true(dupCount <= 1, lit(
        s"diffVersions keys (${keys.mkString(", ")}) are not unique on the " +
          s"$sideName side of '$path' v$fromV→v$toV — file-grain change pruning is " +
          "only sound for keyed tables; diff with the table's true key"))
      df.select((keys.map(k => col(k).as(s"__k_${side}_$k")) :+
        struct(valCols.map(col): _*).as(s"__row_$side") :+
        when(guard.isNull, lit(1)).as(s"__in_$side")): _*)
    }
    // explicit <=> join: usingColumns full-outer is NOT null-safe on keys
    // (NULL keys would split into phantom delete+insert pairs)
    val j = tagged(from, "a").join(tagged(to, "b"),
        keys.map(k => col(s"__k_a_$k") <=> col(s"__k_b_$k")).reduce(_ && _), "full_outer")
      .select(keys.map(k => coalesce(col(s"__k_a_$k"), col(s"__k_b_$k")).as(k)) ++
        Seq(col("__row_a"), col("__row_b"), col("__in_a"), col("__in_b")): _*)
    val changeType = when(col("__in_a").isNull, lit("insert"))
      .when(col("__in_b").isNull, lit("delete"))
      .when(col("__row_a") =!= col("__row_b"), lit("update"))
    val rowOut = when(col("__in_a").isNull || col("__in_b").isNotNull, col("__row_b"))
      .otherwise(col("__row_a"))
    j.withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++ valCols.indices.map(i =>
        rowOut.getField(valCols(i)).as(valCols(i))) :+ col("change_type"): _*)
  }

  /** Incremental tail read: rows of every file the CURRENT snapshot
    * references that `sinceVersion` did not. The file-set difference
    * comes from the [[ChangeLog]] chain when the span carries it —
    * O(new files) driver work with no leaf parsing — else from the
    * manifest-grain set difference; either way the READ costs O(new
    * files), never O(table). For append-only histories (append /
    * appendStream / appendEvolve) this is exactly the rows added since
    * the bookmark — the poll-the-table consumer loop: read, process,
    * bookmark the returned version, repeat. COW rewrites
    * (upsert/delete/update) surface their whole rewritten files — kept
    * rows included — so consumers of mutable tables should dedup by key
    * or use [[diffVersions]] for row-level change semantics. Returns
    * (new rows, current version to bookmark). */
  def readSince(spark: SparkSession, path: String, sinceVersion: Long): (DataFrame, Long) = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val since = manifestAt(path, sinceVersion)
    val fresh = chainChanges(path, since.schemaDdl, sinceVersion, cur.version) match {
      case Some((addedNet, _)) => addedNet
      case None =>
        // (path, dv) identity — a MOR delete changes a file's live rows
        // in place, so its entry re-surfaces (kept rows included, the
        // documented COW-rewrite contract extended to vector swaps)
        val oldIds = filesOf(path, since).map(fe => (fe.path, fe.dv.map(_.path))).toSet
        filesOf(path, cur).filterNot(fe => oldIds((fe.path, fe.dv.map(_.path))))
    }
    (readFileSubset(spark, path, cur, fresh), cur.version)
  }

  // ---------------------------------------------------------- replication

  /** Advance `id`'s bookmark in `path`'s marks ledger as its own tiny
    * commit (op `sync_mark`, file list carried verbatim). */
  private def setMark(path: String, id: String, value: Long): Unit = {
    var done = false
    while (!done) {
      val cur = currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
      val marks = cur.streamMarks.getOrElse(Map.empty) + (id -> value)
      done = tryCommit(path, Manifest(cur.version + 1, commitTs(Some(cur)),
        "sync_mark", cur.schemaDdl, cur.files, Some(marks), cur.leaves,
        Some(ChangeLog(Nil, Nil)), checks = cur.checks, properties = cur.properties))
    }
  }

  /** Incremental CDC replication: bring the GraftTable at `dstPath` up to
    * date with `srcPath`'s current snapshot by applying only the CHANGES
    * since the last sync ([[diffVersions]] keyed on `keys`): inserts and
    * updates land through the file-granular [[upsertByKey]], deletes
    * through [[deleteByKey]], and the synced source version commits into
    * the replica's marks ledger. First sync (or a bookmark whose source
    * version was vacuumed away) falls back to a full copy. Returns the
    * source version the replica now reflects.
    *
    * Content-level exactly-once WITHOUT a transaction across tables: a
    * crash after apply but before the bookmark commit makes the next sync
    * re-derive the same diff, and both appliers are idempotent (an upsert
    * of identical rows and a delete of absent keys leave content
    * unchanged) — so replays converge instead of double-applying.
    *
    * Scale shape: the changed-file sets come from the per-commit
    * [[ChangeLog]] chain when the span carries it (O(changed files), no
    * snapshot listing — see [[diffVersions]]), else from the manifest
    * set-difference; the apply side touches only files holding changed
    * keys. Change volume per sync is batch-sized, so the replica's
    * write amplification matches the source's.
    *
    * Schema evolution: a pure WIDENING between bookmark and head (the
    * routine [[appendEvolve]] case) does NOT force a full resync — the
    * replica widens through metadata-only [[addColumn]] commits and the
    * delta applies under the head schema (absent old-row columns read
    * as NULL on both sides, so unchanged rows stay out of the diff).
    * Any other schema change falls back to a full copy. */
  def syncReplica(spark: SparkSession, srcPath: String, dstPath: String,
      keys: Seq[String], markId: Option[String] = None,
      toVersion: Option[Long] = None): Long = {
    require(keys.nonEmpty, "need key columns")
    // `toVersion` pins the sync target (Delta `versionAsOf` replication:
    // follow a source history commit-by-commit, or hold a replica at an
    // audited version); default = the source head
    val srcV = toVersion.getOrElse(currentVersion(srcPath).getOrElse(
      throw new IllegalArgumentException(s"'$srcPath' is not a GraftTable")))
    toVersion.foreach(v => require(
      new File(logDir(srcPath), manifestName(v)).exists,
      s"'$srcPath' has no version $v"))
    val id = markId.getOrElse("cdc:" + new File(srcPath).getCanonicalPath)
    val headSchema = StructType.fromDDL(manifestAt(srcPath, srcV).schemaDdl)
    val mark = currentManifest(dstPath).flatMap(_.streamMarks).flatMap(_.get(id))
      .filter(v => new File(logDir(srcPath), manifestName(v)).exists) // vacuumed → resync
      .filter { v => // non-widening schema change → diff keys incomparable, resync
        StructType.fromDDL(manifestAt(srcPath, v).schemaDdl).fields.forall(f =>
          headSchema.fields.exists(t => t.name == f.name && t.dataType == f.dataType))
      }
    mark.foreach(v => require(v <= srcV,
      s"replica at version $v is ahead of the requested target $srcV — " +
        "a keyed replica cannot rewind; restore it or resync fresh"))
    mark match {
      case Some(v) if v == srcV => srcV // already current — no commit at all
      case Some(v) =>
        // bring the replica's schema to the head's first — metadata-only
        // commits, zero data IO — so the keyed apply sees matching schemas
        val dstSchema = StructType.fromDDL(currentManifest(dstPath).getOrElse(
          throw new IllegalArgumentException(s"'$dstPath' is not a GraftTable")).schemaDdl)
        headSchema.fields.filterNot(f => dstSchema.fieldNames.contains(f.name))
          .foreach(f => addColumn(dstPath, f.name, f.dataType.sql): Unit)
        val changes = diffVersions(spark, srcPath, v, srcV, keys).persist()
        try {
          val upserts = changes.filter(col("change_type") =!= "delete")
            .select(headSchema.fieldNames.toSeq.map(col): _*)
          val dels = changes.filter(col("change_type") === "delete")
            .select(keys.map(col): _*)
          // diffVersions emits at most one change row per key, so the
          // upsert and delete key sets are disjoint and the fused
          // one-commit apply lands the identical content the old
          // upsert-then-delete pair did — with one probe/semi-scan/
          // commit instead of two and no emptiness probes at all (an
          // empty diff — possible only across metadata-only source
          // commits — folds to a verbatim no-op commit, content
          // unchanged)
          applyChangeSet(spark, dstPath, dels, upserts, keys): Unit
        } finally changes.unpersist(): Unit
        setMark(dstPath, id, srcV)
        srcV
      case None =>
        overwrite(readVersion(spark, srcPath, srcV), dstPath): Unit
        setMark(dstPath, id, srcV)
        srcV
    }
  }

  // ----------------------------------------------------------- compaction

  /** Bin-packing compaction (OPTIMIZE): rewrite the current snapshot's
    * small files into ~`targetBytes` files as a NEW commit — readers keep
    * snapshot isolation, time travel keeps every prior version, vacuum
    * eventually drops the replaced small files. Only files smaller than
    * `targetBytes` are repacked; already-right-sized files carry over
    * untouched (their clustering and stats survive). Returns
    * (filesBefore, filesAfter) of the live snapshot.
    *
    * With `clusterBy` (OPTIMIZE … ZORDER BY, pass
    * [[graft.operators.Ops.zorderKey]] for 2-D) the WHOLE snapshot —
    * right-sized files included — rewrites range-clustered on the
    * expression, so per-file stats tighten on the clustered dimensions
    * and `readPruned`/`readPrunedIn` skip hard afterward; accumulated
    * append disorder is the reason OPTIMIZE exists.
    *
    * With `where` (OPTIMIZE … WHERE, Delta's partition-scoped OPTIMIZE
    * generalized to stats ranges) the rewrite is BOUNDED: only files
    * whose stats may intersect the range conjunction are candidates —
    * everything provably outside carries over untouched, so the commit
    * (and its change set) is O(window), never O(table). That is the
    * maintenance cadence at 100 TB: compact or recluster the partition
    * that just took appends, not the archive. Files with no stats on a
    * constrained column count as inside (stats prune, never filter).
    * Combined with `clusterBy`, only the window reclusters — sound
    * because every carried file is provably disjoint from the window
    * on the constrained columns, so it cannot straddle the rewritten
    * range order. */
  def compactFiles(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20, statsCols: Seq[String] = Nil,
      clusterBy: Option[Column] = None, where: Seq[ColRange] = Nil): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    // clustering is a whole-window relayout (a carried unclustered file
    // inside the window would poison the range order); plain bin-packing
    // repacks small files only
    val allFiles = filesOf(path, cur)
    val (inWindow, outside) =
      if (where.isEmpty) (allFiles, Nil)
      else allFiles.partition(fe => mayMatch(fe.stats, where))
    val (small, big) = clusterBy match {
      case Some(_) => (inWindow, outside)
      case None =>
        val (s, b) = inWindow.partition(_.bytes < targetBytes)
        (s, b ++ outside)
    }
    if (small.isEmpty || (small.size <= 1 && clusterBy.isEmpty))
      return (allFiles.size, allFiles.size)
    val nOut = math.max(1, math.ceil(small.map(_.bytes).sum.toDouble / targetBytes).toInt)
    // compaction rewrites under the CURRENT logical schema, so packed
    // files shed any rename indirection; carried files keep theirs
    val packed = clusterBy match {
      case Some(_) => readFileSubset(spark, path, cur, small)
      case None => readFileSubset(spark, path, cur, small).repartition(nOut)
    }
    val staged = stageFiles(packed, path, statsCols, clusterBy.map(c => (c, nOut)),
      cur.checks.getOrElse(Map.empty))
    val (files, leaves) = packCommit(path, big ++ staged, Nil)
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), "compact",
      cur.schemaDdl, files, cur.streamMarks, leaves,
      Some(ChangeLog(logEntries(staged), logEntries(small))), checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"compaction of '$path' lost the commit race — retry when quiesced")
    (allFiles.size, totalFiles(next))
  }

  /** Fold every live deletion vector into a rewrite (Delta's
    * `REORG TABLE … APPLY (PURGE)`, re-derived): exactly the dv'd
    * files rewrite — vector applied, sidecar pointer dropped — and
    * every clean file carries by reference, so the commit is O(dv'd
    * files), not O(table). Dirty-leaf discovery is metadata-only
    * ([[LeafRef.dvRows]] marks leaves holding vectored entries — a
    * clean leaf is never parsed). This is the second half of a
    * physical GDPR erasure ([[deleteWhereMor]] masks, purge + [[vacuum]]
    * destroys) and the maintenance valve that restores the
    * filter-free vectorized read path when vectors accumulate.
    * Returns (dv'd files rewritten, new version) — (0, current) when
    * the table has no vectors (no commit at all). */
  def purgeDeletes(spark: SparkSession, path: String,
      statsCols: Seq[String] = Nil): (Int, Long) = {
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val (dirtyRefs, cleanRefs) = cur.leaves.getOrElse(Nil).partition(_.dvRows > 0)
    val loaded = dirtyRefs.map(l => loadLeaf(path, l))
    val (inTouched, inUntouched) = cur.files.partition(_.dv.isDefined)
    val (leafTouched, survivors) = loaded.flatten.partition(_.dv.isDefined)
    val touched = inTouched ++ leafTouched
    if (touched.isEmpty) return (0, cur.version)
    val cols = if (statsCols.nonEmpty) statsCols
      else touched.flatMap(_.stats.keys).distinct
    val staged = stageFiles(readFileSubset(spark, path, cur, touched), path, cols, None,
      cur.checks.getOrElse(Map.empty))
    val (files, leaves) = packCommit(path, inUntouched ++ survivors ++ staged, cleanRefs)
    val next = Manifest(cur.version + 1, commitTs(Some(cur)), "purge_dv",
      cur.schemaDdl, files, cur.streamMarks, leaves,
      Some(ChangeLog(logEntries(staged), logEntries(touched))), checks = cur.checks, properties = cur.properties)
    if (!tryCommit(path, next))
      throw new java.util.ConcurrentModificationException(
        s"purge of '$path' lost the commit race — retry when quiesced")
    (touched.size, next.version)
  }

  /** The default stats-column selection for `path`'s current schema plus
    * `extra` — OPTIMIZE ZORDER BY must guarantee the clustered columns
    * keep file stats even past the [[DefaultStatsCols]] cap, or the
    * relayout would tighten per-file ranges that nobody records. */
  private[graft] def statsColsPlus(path: String, extra: Seq[String]): Seq[String] = {
    val schema = StructType.fromDDL(currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable")).schemaDdl)
    val base = resolveStatsCols(schema, Nil).map(_.name)
    base ++ extra.filterNot(base.contains)
  }

  /** Data-dependent multi-column z-order key for `cols` of the CURRENT
    * snapshot: each dimension quantized into [0, 2^bits) against its
    * live min/max, then Morton-interleaved with
    * [[graft.operators.Ops.zorderKeyN]]. Bounds come from the manifest's
    * per-file stats when every live file carries them (metadata-only,
    * zero jobs — the 100 TB path after any stats-collecting write) and
    * from one columnar min/max scan otherwise. NULLs quantize to the low
    * corner (bucket 0) so a nullable dimension never NULLs the whole
    * key; a constant column contributes a constant bucket (dead
    * interleave bits, still a valid key). String columns refuse loudly:
    * lexical order has no numeric quantization, and a hash would
    * scramble the locality z-order exists to create — range-cluster on
    * the string alone instead (single-column ZORDER BY). */
  private[graft] def zorderClusterExpr(spark: SparkSession, path: String,
      cols: Seq[String]): Column = {
    require(cols.size >= 2, "interleave needs at least 2 columns")
    require(cols.distinct.size == cols.size, s"duplicate ZORDER column in $cols")
    val cur = currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val bits = math.max(1, math.min(16, 63 / cols.size))
    val tagged = cols.map { c =>
      require(schema.fieldNames.contains(c), s"no column '$c' in [${cur.schemaDdl}]")
      val dt = schema(c).dataType
      val tag = statTag(dt).getOrElse(throw new IllegalArgumentException(
        s"ZORDER BY '$c': ${dt.simpleString} has no orderable file stats to cluster on"))
      require(tag != "string",
        s"ZORDER BY '$c': string columns have no numeric quantization for an " +
          "interleave — range-cluster on the string alone (single-column ZORDER BY) " +
          "or z-order the numeric/date/timestamp dimensions")
      (c, dt, tag)
    }
    // the quantizer input must agree EXACTLY with whatever produced the
    // bounds; these match the stats codec (epoch day / epoch micros)
    def toDouble(c: String, dt: DataType, tag: String): Column = (tag, dt) match {
      case ("ts", TimestampType) => unix_micros(col(c)).cast("double")
      case ("ts", _) => unix_micros(col(c).cast(TimestampType)).cast("double")
      case ("date", _) => unix_date(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    val files = filesOf(path, cur)
    // manifest bounds only when every live file has stats for the column
    // and the codec matches toDouble (NTZ casts through the session zone
    // while its stats encode UTC — it measures instead, same expression
    // both sides so the bounds can never drift from the data)
    def manifestBounds(c: String, dt: DataType, tag: String): Option[(Double, Double)] = {
      if (tag == "ts" && dt != TimestampType) return None
      val per = files.map(_.stats.get(c))
      if (files.isEmpty || per.exists(_.isEmpty)) return None
      val dec: String => Double = tag match {
        case "long" | "date" | "ts" => s => s.toLong.toDouble
        case _ => s => new java.math.BigDecimal(s).doubleValue
      }
      val los = per.flatMap(_.get.min).map(dec) // an all-NULL file has no bounds
      val his = per.flatMap(_.get.max).map(dec)
      if (los.isEmpty) Some((0d, 0d)) else Some((los.min, his.max))
    }
    val need = tagged.filter(t => manifestBounds(t._1, t._2, t._3).isEmpty)
    val measured: Map[String, (Double, Double)] = if (need.isEmpty) Map.empty else {
      val aggs = need.flatMap { case (c, dt, tag) =>
        val d = toDouble(c, dt, tag)
        Seq(min(d).as(s"__lo_$c"), max(d).as(s"__hi_$c"))
      }
      val r = read(spark, path).agg(aggs.head, aggs.tail: _*).head()
      need.map { case (c, _, _) =>
        def v(n: String) = { val i = r.fieldIndex(n); if (r.isNullAt(i)) 0d else r.getDouble(i) }
        c -> ((v(s"__lo_$c"), v(s"__hi_$c")))
      }.toMap
    }
    val levels = (1L << bits) - 1
    val dims = tagged.map { case (c, dt, tag) =>
      val (lo, hi) = manifestBounds(c, dt, tag).getOrElse(measured(c))
      val d = coalesce(toDouble(c, dt, tag), lit(lo))
      if (hi <= lo) lit(0L)
      else least(lit(levels), greatest(lit(0L),
        floor((d - lit(lo)) / lit(hi - lo) * lit(levels.toDouble)).cast("long")))
    }
    graft.operators.Ops.zorderKeyN(dims, bits)
  }

  // ------------------------------------------------------------ properties

  /** Table properties — the configuration channel that rides the
    * manifest (Delta's TBLPROPERTIES, re-derived): free-form string
    * pairs carried by every commit, settable/unsettable as
    * metadata-only commits. The engine consults:
    * `graft.deletionVectors` (`"true"` routes predicate DML merge-on-
    * read — Delta's `delta.enableDeletionVectors` contract);
    * `graft.clusterBy` (plain `OPTIMIZE` reclusters on the declared
    * columns); `graft.statsCols` / `graft.bloomCols` (comma-separated
    * — EVERY write path stamps skipping stats/blooms on those columns,
    * see [[stagePartEntries]]). Everything else is opaque operator
    * metadata. RESTORE keeps the CURRENT properties
    * (configuration is not data; Delta draws the same line), clones
    * inherit the source's. */
  def propertiesOf(path: String): Map[String, String] =
    currentManifest(path).getOrElse(
      throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
      .properties.getOrElse(Map.empty)

  /** Merge `props` into the table's properties (one rebasing
    * metadata-only commit, op `set_properties`). */
  def setProperties(path: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    commitProperties(path, cur => cur ++ props)
  }

  /** Remove `keys`; absent keys are a no-op unless `strict`. */
  def unsetProperties(path: String, keys: Seq[String], strict: Boolean = false): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    if (strict) {
      val have = propertiesOf(path).keySet
      val missing = keys.filterNot(have)
      require(missing.isEmpty,
        s"no such table propert${if (missing.size == 1) "y" else "ies"} " +
          s"${missing.mkString(", ")} on '$path' (use IF EXISTS to ignore)")
    }
    commitProperties(path, cur => cur -- keys)
  }

  private def commitProperties(path: String, f: Map[String, String] => Map[String, String]): Long = {
    var committed = -1L
    while (committed < 0) {
      val cur = currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
      val next = f(cur.properties.getOrElse(Map.empty))
      val m = Manifest(cur.version + 1, commitTs(Some(cur)), "set_properties",
        cur.schemaDdl, cur.files, cur.streamMarks, cur.leaves,
        Some(ChangeLog(Nil, Nil)), checks = cur.checks,
        properties = if (next.isEmpty) None else Some(next))
      if (tryCommit(path, m)) committed = m.version
    }
    committed
  }

  /** SHOW TBLPROPERTIES as a relation: (key, value), sorted. */
  def describeProperties(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    propertiesOf(path).toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** Does SQL DELETE on this table go merge-on-read? */
  private[graft] def deletionVectorsEnabled(path: String): Boolean =
    propertiesOf(path).get("graft.deletionVectors").exists(_.equalsIgnoreCase("true"))

  // ---------------------------------------------------------------- vacuum

  /** Record that consumer `id` (a CDC replica, an external tailing job —
    * the streaming source registers itself via its `consumerId` option)
    * has fully processed `path` up to and including `version`. Vacuum
    * will then never drop a manifest the consumer still needs (any
    * version > the bookmark) — the retention contract that makes
    * `keepVersions=2` safe to run against live consumers at a
    * 100 TB/hourly-commit cadence, where a count-based horizon alone
    * races every lagging reader. One metadata-only commit per advance;
    * monotone (a stale or replayed registration is a no-op). */
  def registerConsumer(path: String, id: String, version: Long): Unit = {
    require(id.nonEmpty, "need a stable consumer id")
    val key = ConsumerMarkPrefix + id
    val prev = currentManifest(path).flatMap(_.streamMarks).flatMap(_.get(key))
    if (prev.forall(_ < version)) setMark(path, key, version)
  }

  private[graft] val ConsumerMarkPrefix = "consumer:"

  /** The streaming source's auto-registration: advance the bookmark only
    * when the consumed span carried something beyond bookkeeping — a
    * registration is itself a `sync_mark` commit, so registering empty
    * spans would feed a continuous trigger an endless stream of empty
    * batches (each registration creating the next batch's "new"
    * version). */
  private[graft] def registerStreamConsumer(path: String, id: String, version: Long): Unit = {
    val key = ConsumerMarkPrefix + id
    val prev = currentManifest(path).flatMap(_.streamMarks).flatMap(_.get(key)).getOrElse(0L)
    if (version <= prev) return
    val hasData = ((prev + 1) to version).exists { v =>
      try manifestAt(path, v).op != "sync_mark"
      catch { case _: IllegalArgumentException => true } // pre-bookmark vacuumed span
    }
    if (hasData) setMark(path, key, version)
  }

  /** Reclaim storage: delete old manifests, the data files and leaf
    * manifests no retained manifest references (including leaves written
    * by commit attempts that lost their race), and crashed stage dirs.
    * Run quiesced of writers (the single-maintenance-writer rule every
    * [[TableIO]] maintenance op shares); readers are safe — retained
    * snapshots keep every file they reference. Returns the number of
    * data files deleted.
    *
    * Retention is the UNION of three guards (a manifest survives if ANY
    * keeps it):
    *  - `keepVersions` — the minimum-versions floor (time-travel horizon);
    *  - `retainAgeUs` — age-based retention: nothing committed within the
    *    last `retainAgeUs` microseconds is dropped (Delta's
    *    `RETAIN n HOURS`, re-derived — at an hourly commit cadence a
    *    count floor alone ages out in hours, not days);
    *  - registered consumer bookmarks ([[registerConsumer]] /
    *    the streaming source's `consumerId` option): every version a
    *    consumer has not yet processed is kept, so a lagging stream or
    *    replica finds its next-planned manifest intact instead of dying
    *    on the vacuum horizon. `ignoreConsumers=true` overrides (the
    *    explicit "that consumer is decommissioned" escape hatch —
    *    consumers whose span was force-dropped fail loudly at
    *    [[manifestAt]], never silently skip).
    *
    * `dryRun=true` (VACUUM … DRY RUN) computes the same retention cut
    * and returns the data-file count that WOULD be deleted, touching
    * nothing — the operational preflight before pointing a destructive
    * maintenance job at a 100 TB table. */
  /** Grace window for NEVER-REFERENCED files (in-flight staged data,
    * freshly executor-written dv sidecars, `.stage-` dirs): younger
    * than this, vacuum leaves them alone — they may belong to a commit
    * between stage and CAS. Files referenced by DROPPED manifests are
    * provably dead and reclaim immediately regardless of age (no
    * future commit can adopt them). Delta's vacuum draws the same
    * line with its retention check on unreferenced files. */
  val DefaultOrphanGraceUs: Long = 15L * 60 * 1000 * 1000

  /** Newest FILE mtime (ms) in `f`'s tree — the liveness signal for
    * stage-dir reclamation now that batch inserts stage into per-job
    * SUBDIRS of `.stage-insert`. Two traps rule out dir inodes: a
    * subdir's mtime only moves on child create/delete, so a
    * long-writing job's top dir can look stale while its newest file is
    * seconds old; conversely a sweep deleting one subdir refreshes the
    * PARENT's mtime, which would keep a dead tree alive indefinitely.
    * A dir with no files at all falls back to its own mtime — a
    * just-created job dir whose tasks haven't opened files yet must
    * still read as live. */
  def newestMtimeMs(f: File): Long =
    if (!f.isDirectory) f.lastModified
    else {
      val kids = Option(f.listFiles).getOrElse(Array.empty[File])
      if (kids.isEmpty) f.lastModified
      else kids.map(newestMtimeMs).max
    }

  def vacuum(path: String, keepVersions: Int = 2, retainAgeUs: Option[Long] = None,
      ignoreConsumers: Boolean = false, dryRun: Boolean = false,
      orphanGraceUs: Long = DefaultOrphanGraceUs): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    require(retainAgeUs.forall(_ >= 0), "retainAgeUs must be non-negative")
    require(orphanGraceUs >= 0, "orphanGraceUs must be non-negative")
    val all = manifestFiles(path)
    def versionOf(f: File): Long = f.getName.stripPrefix("v").stripSuffix(".json").toLong
    // index of the first RETAINED manifest; guards only ever lower it
    var cut = math.max(0, all.size - keepVersions)
    retainAgeUs.foreach { age =>
      val cutoffTs = System.currentTimeMillis * 1000L - age
      val idx = all.indexWhere(f => parseManifest(f).tsUs > cutoffTs)
      if (idx >= 0) cut = math.min(cut, idx)
    }
    if (!ignoreConsumers) {
      val bookmarks = currentManifest(path).flatMap(_.streamMarks).getOrElse(Map.empty)
        .collect { case (k, v) if k.startsWith(ConsumerMarkPrefix) => v }
      bookmarks.minOption.foreach { minBookmark =>
        val idx = all.indexWhere(f => versionOf(f) > minBookmark)
        if (idx >= 0) cut = math.min(cut, idx)
      }
    }
    val (drop, keep) = all.splitAt(cut)
    val kept = keep.map(parseManifest)
    val keptEntries = kept.flatMap(m => filesOf(path, m))
    val referenced = keptEntries.map(_.path.split('/').last).toSet
    val liveLeaves = kept.flatMap(_.leaves.getOrElse(Nil)).map(_.path).toSet
    // a file only the DROPPED manifests reference is provably dead;
    // a file NO manifest ever referenced may be an in-flight commit's
    // stage (moved into data/ before the CAS) — reclaim those only
    // past the orphan grace, by mtime
    val droppedEntries = drop.map(parseManifest).flatMap(m => filesOf(path, m))
    val everData = referenced ++ droppedEntries.map(_.path.split('/').last)
    val nowUs = System.currentTimeMillis * 1000L
    def youngOrphan(f: File, ever: Set[String]): Boolean =
      !ever.contains(f.getName) && nowUs - f.lastModified * 1000L < orphanGraceUs
    val dataDir = new File(path, DataDir)
    val dead = Option(dataDir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !referenced.contains(f.getName) &&
        !youngOrphan(f, everData))
    // deletion-vector sidecars: live while ANY retained snapshot's
    // entry points at them (time travel reads that version's exact
    // delete state); superseded vectors and purge leftovers reclaim
    // with the data files — but a never-referenced sidecar inside the
    // grace may be an in-flight delta commit's executor-written merge
    val referencedDv = keptEntries.flatMap(_.dv).map(_.path.split('/').last).toSet
    val everDv = referencedDv ++ droppedEntries.flatMap(_.dv).map(_.path.split('/').last)
    val deadDv = Option(new File(path, DvDir).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".dv") && !referencedDv.contains(f.getName) &&
        !youngOrphan(f, everDv))
    if (dryRun) return dead.length + deadDv.length
    dead.foreach(f => f.delete(): Unit)
    deadDv.foreach(f => f.delete(): Unit)
    drop.foreach(f => f.delete(): Unit)
    Option(logDir(path).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("leaf-") && !liveLeaves.contains(f.getName))
      .foreach(f => f.delete(): Unit)
    // stage dirs: an ACTIVE writer's staging lives here between its
    // df.write and the move into data/ — only clear abandoned ones,
    // keyed on the NEWEST entry in the tree (batch inserts stage into
    // per-job subdirs, whose files don't touch the top dir's mtime)
    Option(new File(path).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(".stage-") &&
        nowUs - newestMtimeMs(f) * 1000L >= orphanGraceUs)
      .foreach(f => TableIO.clearDir(f.toString))
    dead.length + deadDv.length
  }
}
