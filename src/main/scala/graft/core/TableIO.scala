package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Parquet table IO with the reference's materialization semantics
  * (reference dbt_project.yml:35-43 CTAS; models/dwh/\*.sql incremental
  * `unique_key` upsert — SURVEY §2.1 S3/S4).
  *
  * Writes are atomic via write-to-temp-then-swap, which also makes
  * self-overwrite (read table T, transform, write T) safe — plain
  * `mode("overwrite")` on the path being read would truncate the input
  * before the job runs.
  *
  * Reads ([[read]], [[readParquet]]) take the schema from ONE parquet
  * footer, read on the driver. Spark's own inference learns it with a
  * one-task Spark job per read (`mergeSchemasInParallel`), and a
  * warehouse build reads the tables earlier models built at every step —
  * so those probes were 82 of the 293 Spark jobs of a two-cycle
  * Northwind build at sf0.01, each on some model's critical path. The
  * driver read runs the same footer conversion the probe runs inside
  * its task, on the same file Spark would pick (the first data file by
  * path; every data file under `spark.sql.parquet.mergeSchema`), so the
  * schema is identical and a read starts no job before its action.
  * Partition columns are not in the footer: Spark still infers them
  * from the `k=v` directory names.
  * This is the table-format idea (Delta keeps the schema in its log;
  * [[GraftTable]] in its manifest) applied to the plain directory:
  * readers never scan data to learn the schema.
  *
  * Scale note: on a real cluster this class is the seam where a table
  * format (Delta/Iceberg `MERGE INTO`) slots in; the anti-join + union
  * rewrite below is the format-free equivalent and is partition-prunable
  * when `partitionBy` is set (only partitions containing touched keys are
  * rewritten in the Delta upgrade path — here we keep whole-table rewrite
  * for plain Parquet correctness).
  */
object TableIO {

  /** Crash recovery: overwriteAtomic has a window between moving the live
    * table to `.__old__` and moving the new data in. If a crash strikes
    * there, the data survives only under `.__old__`; every entry point calls
    * this first so the next process restores it instead of silently treating
    * the table as absent (which would, e.g., rebuild a dimension from one
    * delta and lose all history). */
  private def recover(path: String): Unit = {
    val target = new File(path)
    val old = new File(path + ".__old__")
    if (!target.exists && old.exists)
      try Files.move(old.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
      catch { // concurrent reader won the restore race — target exists now
        case _: java.nio.file.FileSystemException if target.exists => ()
      }
    if (target.isDirectory) recoverPartitions(target)
  }

  /** Partition-level crash healing for [[upsertTouchedPartitions]]'s
    * staged swaps. Artifacts are dot-hidden (`.<dir>.__new__` /
    * `.<dir>.__old__` / `.<dir>.__del__`) so Spark's partition discovery
    * never lists them as bogus partition values mid-swap; legacy visible
    * suffixes from older writers heal too.
    *
    * Rules, in order:
    *  - `.__new__` without its live sibling is a swap that crashed between
    *    its two renames — roll FORWARD (the staged dir is complete by
    *    construction: it is staged only after the write job finished) and
    *    drop the stash. With a live sibling the swap never stashed — the old
    *    state stands and the staging is LEFT ALONE: the writer stages before
    *    it stashes, so this exact shape is also what an in-flight swap looks
    *    like to a racing reader, and deleting it here would destroy that
    *    writer's complete new data. Leaving it is safe — it is dot-hidden
    *    (invisible to partition discovery) and the writer clears stale
    *    staging itself before reuse and on the partition-delete path.
    *  - `.__del__` is an interrupted partition deletion — finish it
    *    (restoring it would resurrect rows the upsert moved elsewhere).
    *  - `.__old__` without a live sibling is a stash whose swap lost its
    *    staged data — restore it; with a live sibling it is a completed
    *    swap's leftover — drop it.
    * Partition trees are shallow (1-3 levels), so the walk is a cheap
    * metadata scan. */
  private def recoverPartitions(dir: File): Unit = {
    val children = Option(dir.listFiles).getOrElse(Array.empty[File])
    def live(f: File, suffix: String): File =
      new File(dir, f.getName.stripPrefix(".").stripSuffix(suffix))
    children.filter(_.getName.endsWith(".__new__")).foreach { f =>
      val l = live(f, ".__new__")
      if (!l.exists) {
        try Files.move(f.toPath, l.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
        catch { case _: java.nio.file.FileSystemException if l.exists => () }
        deleteRecursively(new File(dir, "." + l.getName + ".__old__"))
        deleteRecursively(new File(dir, l.getName + ".__old__"))
      }
    }
    children.filter(_.exists).foreach { f =>
      if (f.getName.endsWith(".__del__")) deleteRecursively(f)
      else if (f.getName.endsWith(".__old__")) {
        val l = live(f, ".__old__")
        if (l.exists) deleteRecursively(f)
        else
          try Files.move(f.toPath, l.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
          catch { case _: java.nio.file.FileSystemException if l.exists => () }
      } else if (f.isDirectory && f.getName.contains("=") && !f.getName.startsWith("."))
        recoverPartitions(f)
    }
  }

  def exists(path: String): Boolean = {
    recover(path)
    val f = new File(path)
    f.exists && (f.isFile || f.listFiles != null && f.listFiles.nonEmpty)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    recover(path)
    readParquet(spark, path)
  }

  def readOrEmpty(spark: SparkSession, path: String, like: DataFrame): DataFrame =
    if (exists(path)) readParquet(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)

  /** Spark's plain-parquet read of `paths`, minus the schema-inference
    * job: the schema comes from the footer(s) [[footerFiles]] picks,
    * converted by Spark's own code on the driver (see the object doc).
    * The one fall-through — no data file under `paths` — is Spark's
    * plain read, so a missing or empty directory raises Spark's own
    * error. Every whole-table plain-parquet read in the library goes
    * through here (a spec scans the sources for strays). */
  def readParquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = FooterSchemaBridge.hadoopConf(spark)
    val files = footerFiles(conf, paths, all = FooterSchemaBridge.mergeSchema(spark))
    (if (files.isEmpty) None else FooterSchemaBridge.readSchema(spark, conf, files)) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The data files whose footers define `paths`' schema, chosen as
    * Spark's inference chooses them: the first data file by full path
    * string, or every data file when `all`. Hidden names follow Spark's
    * listing (`_x` unless it holds `=`, `.x`, `x._COPYING_`); a path that
    * is itself a file is taken as given. Children are walked in path
    * order (a directory sorts as `name/`), so the first file found IS the
    * first by path and the walk stops there. A path that vanishes
    * mid-walk (a racing swap) yields no file: Spark's read decides. */
  private def footerFiles(conf: org.apache.hadoop.conf.Configuration, paths: Seq[String],
      all: Boolean): Seq[FileStatus] = {
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def walk(fs: FileSystem, st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator(st)
      else fs.listStatus(st.getPath).filterNot(c => hidden(c.getPath.getName))
        .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
        .iterator.flatMap(walk(fs, _))
    def under(p: String): Iterator[FileStatus] = {
      val hp = new HPath(p)
      val fs = hp.getFileSystem(conf)
      walk(fs, fs.getFileStatus(hp))
    }
    try {
      if (all) paths.flatMap(under(_).toSeq)
      else paths.flatMap(under(_).nextOption()).minByOption(_.getPath.toString).toSeq
    } catch { case _: java.io.FileNotFoundException => Nil }
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Remove a directory tree (e.g. a scratch warehouse root). */
  def clearDir(path: String): Unit = deleteRecursively(new File(path))

  /** Write `df` as a BUCKETED managed table: rows hash-partition into
    * `numBuckets` files per partition by `bucketCols`, and the layout is
    * recorded in the catalog so joins/aggregations on the bucket columns
    * read co-located data WITHOUT a shuffle (Spark requires `saveAsTable`
    * for this — a path-only parquet write records no bucket metadata).
    *
    * This is the standing-table answer to the repeated-shuffle problem at
    * 100 TB: pay one clustering write, then every bucket-keyed join/agg
    * against another table bucketed the same way plans as zero-exchange
    * SortMergeJoin (CoreSpec asserts the plan shape). The per-cycle
    * warehouse tables deliberately do NOT use this — their atomic-swap
    * contract (overwriteAtomic) trades layout for lock-free readers; at
    * cluster scale a table format supplies both. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && numBuckets > 0, "need bucket columns and a positive count")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Atomic overwrite: write to `<path>.__tmp__`, then swap. Readers racing
    * the swap see either the old or the new table; a crash mid-swap is
    * healed by [[recover]] on the next access. */
  def overwriteAtomic(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    recover(path)
    val tmp = path + ".__tmp__"
    deleteRecursively(new File(tmp))
    // NOT rebalanced before the write: an r15 A/B added a REBALANCE hint
    // here (guide §6's coalesce-on-write) and it shuffled every write's
    // FULL output (q36's warehouse build: 46→280 MB shuffled, +42 stages)
    // for zero wall gain — the downstream listing/footer cost of tiny
    // files was not the bottleneck at any measured scale. Callers that
    // need a specific output layout repartition explicitly.
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp)
    val old = new File(path + ".__old__")
    deleteRecursively(old)
    val target = new File(path)
    if (target.exists) Files.move(Paths.get(path), old.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
    // a concurrent reader's recover() can resurrect .__old__ into the target
    // between our two moves; the writer must win — re-stash the resurrected
    // stale copy and retry committing the new data (bounded: each retry
    // requires another reader to lose the race in a microsecond window)
    var attempts = 0
    var committed = false
    while (!committed) {
      try {
        Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE): Unit
        committed = true
      } catch {
        case e: java.nio.file.FileSystemException if target.exists && attempts < 5 =>
          attempts += 1
          deleteRecursively(old)
          // guarded: the resurrected copy can vanish again if another
          // reader's recover() loses a second race in the same window
          try Files.move(Paths.get(path), old.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
          catch { case _: java.nio.file.FileSystemException if !target.exists => () }
        case e: Throwable =>
          // failing for good (retries exhausted or a non-racing error):
          // restore the stashed live copy so the table never ends the call
          // absent — recover() would heal `.__old__` on next access, but the
          // next access may be another process much later
          if (!target.exists && old.exists)
            try Files.move(old.toPath, Paths.get(path), StandardCopyOption.ATOMIC_MOVE): Unit
            catch { case _: java.nio.file.FileSystemException if target.exists => () }
          e match {
            case fse: java.nio.file.FileSystemException if attempts >= 5 =>
              throw new java.io.IOException(
                s"overwrite of '$path' failed to commit after $attempts retries", fse)
            case _ => throw e
          }
      }
    }
    deleteRecursively(old)
  }

  /** Incremental `unique_key` upsert (SURVEY S4): existing rows whose key
    * appears in `delta` are replaced; everything else is kept; delta rows are
    * appended. First run = plain write.
    *
    * Schema evolution (`syncAllColumns`, the reference's
    * `on_schema_change='sync_all_columns'`, models/dwh/dim_customer.sql:4):
    * the target's SCHEMA follows the delta — columns new in the delta
    * appear with NULL on pre-existing rows, columns the delta dropped leave
    * the table, and a same-name dataType change recasts kept rows to the
    * delta's type (dbt's sync_all_columns also covers type changes). Any of
    * the three forces a whole-table rewrite on plain Parquet (readers take
    * the schema from one footer, so a partial rewrite would hide the
    * change); Delta/Iceberg do the same as a metadata op. With
    * `syncAllColumns=false` (dbt `on_schema_change='ignore'`) extra delta
    * columns are dropped, the delta must cover the target schema, and delta
    * columns are cast to the target's existing types.
    *
    * Partitioned upsert (`partitionBy`): only partitions that contain a
    * delta key — plus partitions delta rows land in — are rewritten, so
    * steady-state write amplification is O(touched partitions), not
    * O(|table|) (round-1 verdict #5; this is what a date-partitioned fact
    * needs at 100 TB). The read side still scans the table once to locate
    * touched keys (a key may move partitions); the per-partition directory
    * swaps are individually atomic and the whole operation is
    * idempotent-on-retry — re-running the same upsert after a crash
    * converges. A table format's MERGE makes the multi-partition commit
    * transactional; this is the format-free equivalent. */
  def upsertByKey(spark: SparkSession, path: String, delta: DataFrame, keys: Seq[String],
      partitionBy: Seq[String] = Nil, syncAllColumns: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    if (!exists(path)) { overwriteAtomic(delta, path, partitionBy); return }
    val inferred = readParquet(spark, path)
    // Partition VALUE types must not be re-inferred for the writer's own
    // bookkeeping: a directory written as m=01 reads back as int 1, which
    // (a) re-renders the touched-partition dir name to m=1 and (b) drags
    // the kept∪delta union into a numeric coercion that rewrites the
    // delta's own values — the swap loop then looks for directories the
    // write never produced and a new partition's data dies with the temp
    // dir. Reading existing with the DELTA's partition column types keeps
    // every value byte-identical to what the writer renders.
    val existing =
      if (partitionBy.isEmpty) inferred
      else spark.read.schema(org.apache.spark.sql.types.StructType(
        inferred.schema.fields.map(f =>
          if (partitionBy.contains(f.name)) f.copy(dataType = delta.schema(f.name).dataType)
          else f))).parquet(path)
    val deltaKeys = delta.select(keys.map(col): _*).distinct()
    val added = delta.columns.filterNot(existing.columns.contains)
    val removed = existing.columns.filterNot(delta.columns.contains)
    // schema change = column set OR dataType drift (a same-name type change
    // must also take the rewrite path — appending a retyped column to plain
    // Parquet would leave readers merging incompatible footers). Partition
    // columns are exempt: plain Parquet re-INFERS their type from directory
    // names on read (a "2024-01-01" string partition reads back as DATE), so
    // comparing them would flag phantom drift on every partitioned upsert
    val retyped = delta.columns.filter(c => existing.columns.contains(c) &&
      !partitionBy.contains(c) &&
      existing.schema(c).dataType != delta.schema(c).dataType)
    if (syncAllColumns && (added.nonEmpty || removed.nonEmpty || retyped.nonEmpty)) {
      // align kept rows onto the delta's schema: NULL-pad new columns, drop
      // removed ones, recast retyped ones — then whole-table rewrite
      val aligned = delta.columns.toSeq.map { c =>
        if (!existing.columns.contains(c)) lit(null).cast(delta.schema(c).dataType).as(c)
        else if (retyped.contains(c)) col(c).cast(delta.schema(c).dataType).as(c)
        else col(c)
      }
      val keep = existing.join(deltaKeys, keys, "left_anti").select(aligned: _*)
      overwriteAtomic(keep.unionByName(delta), path, partitionBy)
    } else {
      // 'ignore' semantics: the target schema wins — project the delta onto
      // it, casting any drifted type back to the existing one (partition
      // columns keep the delta's type: the read-back type is inferred, and
      // casting could alter the directory names the writer produces)
      val conformed = delta.select(existing.columns.map(c =>
        if (partitionBy.contains(c)) col(c)
        else col(c).cast(existing.schema(c).dataType).as(c)): _*)
      if (partitionBy.isEmpty) {
        // the delta plan appears twice (anti-join key side + union side) but
        // is NOT persisted: Spark's exchange/subtree reuse dedupes it within
        // the one write job, and caching it measured no faster on the fact
        // pipeline while holding executor memory
        val keep = existing.join(conformed.select(keys.map(col): _*).distinct(), keys, "left_anti")
        overwriteAtomic(keep.unionByName(conformed), path)
      } else {
        upsertTouchedPartitions(spark, path, existing, conformed, keys, partitionBy)
      }
    }
  }

  /** Incremental aggregate maintenance — materialized-rollup upkeep: keep
    * a persisted groupBy table current by MERGING each batch's partial
    * aggregates into it instead of recomputing the corpus. Supported
    * aggregates are the commutative-monoid set (`sum`/`min`/`max`/
    * `bit_or`, plus an automatic `n_rows` count; avg = sum/count at read
    * time; `bit_or` carries the [[graft.operators.Ops.distinctStateRows]]
    * sketch words, making COUNT DISTINCT incrementally maintainable), so
    * merge-of-partials ≡ aggregate-of-everything regardless of how the
    * history was batched — the q11 merge≡fromHistory equivalence applied
    * to aggregates, and the oracle gate recomputes from scratch. Sums run
    * in decimal(18,4) (order-free exactness, the engine's cross-engine
    * convention); INSERT-only by construction — a retraction isn't
    * representable in a monoid, so updates/deletes need a recompute of
    * the touched keys.
    *
    * Scale shape: the batch collapses map-side to key grain, the merge
    * joins only TOUCHED existing keys (left join from the batch side),
    * and [[upsertByKey]] rewrites only those keys — cost is
    * O(|batch| + |touched keys|), never O(|table|). */
  def upsertAggregate(spark: SparkSession, path: String, rows: DataFrame,
      keys: Seq[String], aggs: Seq[(String, String)]): Unit = {
    import org.apache.spark.sql.functions._
    require(aggs.nonEmpty, "need at least one aggregate")
    val bad = aggs.collect { case (fn, _) if !Set("sum", "min", "max", "bit_or")(fn) => fn }
    require(bad.isEmpty, s"unsupported aggregate(s) $bad — monoid set is sum/min/max/bit_or")
    def nameOf(fn: String, c: String) = s"${fn}_$c"
    val aggCols = aggExprs(aggs)
    val batch = rows.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    if (!TableIO.exists(path)) { overwriteAtomic(batch, path); return }
    val existing = readParquet(spark, path)
    val touched = batch.join(
      existing.select(existing.columns.map(c =>
        (if (keys.contains(c)) col(c) else col(c).as(s"__e_$c"))): _*),
      keys, "left")
    val merged = touched.select(keys.map(col) ++ Seq(
      (col("n_rows") + coalesce(col("__e_n_rows"), lit(0L))).as("n_rows")) ++
      aggs.map {
        case ("sum", c) =>
          val n = nameOf("sum", c)
          (col(n) + coalesce(col(s"__e_$n"), lit(0).cast("decimal(28,4)")))
            .cast("decimal(28,4)").as(n)
        case ("min", c) =>
          val n = nameOf("min", c)
          least(col(n), coalesce(col(s"__e_$n"), col(n))).as(n)
        case ("max", c) =>
          val n = nameOf("max", c)
          greatest(col(n), coalesce(col(s"__e_$n"), col(n))).as(n)
        case ("bit_or", c) =>
          // OR-monoid channel: what makes the distinct-count sketch state
          // (Ops.distinctStateRows bitmap words) incrementally maintainable
          val n = nameOf("bit_or", c)
          col(n).bitwiseOR(coalesce(col(s"__e_$n"), lit(0L))).as(n)
      }: _*)
    upsertByKey(spark, path, merged, keys)
  }

  /** The monoid aggregate expressions of [[upsertAggregate]] — row grain →
    * key grain. Shared with the streaming partials sink so both paths
    * produce the identical schema; sums pin to decimal(28,4) (per-batch
    * precision widening would drift the stored schema). */
  private[graft] def aggExprs(aggs: Seq[(String, String)]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    count(lit(1)).as("n_rows") +: aggs.map {
      case ("sum", c) => sum(col(c).cast("decimal(18,4)"))
        .cast("decimal(28,4)").as(s"sum_$c")
      case ("min", c) => min(col(c)).as(s"min_$c")
      case ("max", c) => max(col(c)).as(s"max_$c")
      case ("bit_or", c) => expr(s"bit_or($c)").as(s"bit_or_$c")
      case (fn, c) => throw new IllegalArgumentException(
        s"unsupported aggregate $fn($c) — monoid set is sum/min/max/bit_or")
    }
  }

  /** The matching partial→total combiners: key grain over partials →
    * one row per key (sum of sums, min of mins, max of maxes). */
  private[graft] def combineExprs(aggs: Seq[(String, String)]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    sum(col("n_rows")).as("n_rows") +: aggs.map {
      case ("sum", c) => sum(col(s"sum_$c")).cast("decimal(28,4)").as(s"sum_$c")
      case ("min", c) => min(col(s"min_$c")).as(s"min_$c")
      case ("max", c) => max(col(s"max_$c")).as(s"max_$c")
      case ("bit_or", c) => expr(s"bit_or(bit_or_$c)").as(s"bit_or_$c")
      case (fn, c) => throw new IllegalArgumentException(
        s"unsupported aggregate $fn($c) — monoid set is sum/min/max/bit_or")
    }
  }

  /** Small-file compaction for standing tables — the maintenance pass
    * append-mode accumulation needs (every [[graft.operators.Corpus]]
    * `dedupIncremental` batch appends a fingerprint file; every streaming
    * micro-batch more): re-pack the table into ~`targetBytes` files and
    * atomically swap. Content-preserving by construction — same rows, and
    * standing state tables are key-addressed, not order-addressed, so no
    * ordering contract is lost. Partitioned tables repack to one file per
    * partition (directory pruning intact); unpartitioned tables to
    * ceil(bytes/targetBytes) files. Returns (filesBefore, filesAfter).
    *
    * At cluster scale this is OPTIMIZE without the table format: run it
    * off the write path on whatever cadence keeps scan task counts sane —
    * the atomic swap means readers never block. */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L << 20,
      partitionBy: Seq[String] = Nil): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    def dataFiles(f: File): Seq[File] =
      Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap { c =>
        if (c.isDirectory) dataFiles(c)
        else if (c.getName.startsWith(".") || c.getName.startsWith("_")) Nil
        else Seq(c)
      }
    val before = dataFiles(new File(path))
    val df = readParquet(spark, path)
    val packed =
      if (partitionBy.nonEmpty)
        df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
      else {
        val n = math.max(1, math.ceil(
          before.map(_.length).sum.toDouble / targetBytes).toInt)
        df.repartition(n)
      }
    overwriteAtomic(packed, path, partitionBy)
    (before.size, dataFiles(new File(path)).size)
  }

  /** Hive-style partition directory name for one partition value's STRING
    * form (already cast by Spark, so it matches the writer's formatting for
    * every type — timestamps, dates, decimals included). */
  private def partDir(colName: String, s: String): String =
    if (s == null || s.isEmpty) s"$colName=__HIVE_DEFAULT_PARTITION__"
    else s"$colName=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  /** Targeted rewrite: write `kept rows of touched partitions ∪ delta` to a
    * temp dir partitioned the same way, then swap exactly the touched leaf
    * directories into place (deleting any partition the upsert emptied —
    * a key that moved partitions leaves none behind).
    *
    * Partition values are compared and rendered via Spark's own
    * cast-to-string so directory names agree with what the writer produces,
    * and all matching is null-safe (`<=>`) so a NULL-valued partition
    * (`__HIVE_DEFAULT_PARTITION__`) upserts like any other.
    *
    * Concurrency contract (single WRITER; readers tolerated): each swap
    * stages the complete new directory next to the live one under a
    * dot-hidden name (partition discovery ignores dot-prefixed dirs, so
    * racing readers never list swap artifacts as bogus partition values),
    * then stash-live → commit-staged as two adjacent renames. A reader
    * listing the table inside that rename pair can momentarily miss the one
    * partition being swapped — per-partition old-or-new is guaranteed,
    * point-in-time consistency across the whole table during a multi-
    * partition upsert is not (that is what a table format's transactional
    * commit buys; [[overwriteAtomic]] gives the whole-table guarantee).
    * [[recoverPartitions]] rolls a crash inside the rename pair FORWARD to
    * the new state; deletions stage as `.__del__` and complete on recovery.
    * Re-running the same upsert after any crash converges. */
  private def upsertTouchedPartitions(spark: SparkSession, path: String,
      existing: DataFrame, rawDelta: DataFrame, keys: Seq[String], pcols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, nullif}
    // the delta feeds touched-partition discovery AND the rewrite; callers
    // often pass an expensive plan (multi-join change detection), and a
    // delta is small by construction — persist for the operation's lifetime
    val delta = rawDelta.persist()
    try upsertTouchedImpl(spark, path, existing, delta, keys, pcols)
    finally delta.unpersist(): Unit
  }

  private def upsertTouchedImpl(spark: SparkSession, path: String,
      existing: DataFrame, delta: DataFrame, keys: Seq[String], pcols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, nullif}
    val deltaKeys = delta.select(keys.map(col): _*).distinct()
    // partition values collected in Spark's string form (see partDir).
    // Empty strings normalize to NULL: the writer sends both to
    // __HIVE_DEFAULT_PARTITION__ (and reads them back as NULL), so keeping
    // them distinct here would list the default partition twice and the
    // second swap iteration would delete what the first just committed
    val pstr = (df: DataFrame) =>
      df.select(pcols.map(c => nullif(col(c).cast("string"), lit("")).as(c)): _*)
    val touched: Array[Seq[String]] =
      pstr(existing.join(deltaKeys, keys, "left_semi"))
        .unionByName(pstr(delta)).distinct().collect()
        .map(r => pcols.indices.map(i => r.getString(i)))
    if (touched.isEmpty) return
    // restrict the kept-rows scan to touched partitions: a literal IN prunes
    // statically for the common single-column (date) layout; multi-level
    // layouts go through a broadcast semi-join (pruned dynamically). Both
    // paths are null-safe: a NULL partition value must select its rows
    def norm(p: String) = nullif(col(p).cast("string"), lit(""))
    val inTouched = existing.transform { e =>
      if (pcols.size == 1) {
        val c = norm(pcols.head)
        val vals = touched.map(_.head)
        val nonNull = vals.filter(_ != null)
        val in = if (nonNull.nonEmpty) c.isin(nonNull.toSeq: _*) else lit(false)
        e.filter(if (vals.contains(null)) in || c.isNull else in)
      } else {
        val tdf = spark.createDataFrame(
          spark.sparkContext.parallelize(touched.toSeq.map(org.apache.spark.sql.Row.fromSeq)),
          org.apache.spark.sql.types.StructType(pcols.map(p =>
            org.apache.spark.sql.types.StructField("__t_" + p, org.apache.spark.sql.types.StringType))))
        val cond = pcols.map(p => norm(p) <=> tdf("__t_" + p)).reduce(_ && _)
        e.join(broadcast(tdf), cond, "left_semi")
      }
    }
    val newData = inTouched.join(deltaKeys, keys, "left_anti")
      .unionByName(delta.select(existing.columns.map(col): _*))
    val tmp = path + ".__tmp__"
    deleteRecursively(new File(tmp))
    // deliberately NOT repartitioned by the partition columns: clustering
    // each value into one task halves file counts but serializes every
    // directory's write into a single task (measured +30% on the fact
    // pipeline). AQE's post-shuffle coalesce already bounds the task count,
    // so sliver files stay at tasks × touched-partitions with small tasks —
    // at cluster scale cap file size with spark.sql.files.maxRecordsPerFile
    // and compact offline rather than serializing the hot write path
    newData.write.mode("overwrite").partitionBy(pcols: _*).parquet(tmp)
    touched.foreach { vals =>
      val rel = pcols.indices.map(i => partDir(pcols(i), vals(i))).mkString("/")
      val src = new File(tmp, rel)
      val dst = new File(path, rel)
      if (src.exists) {
        // stage next to the live dir (same parent → the stash/commit pair
        // below is two adjacent renames, the narrowest gap a filesystem
        // without multi-rename transactions allows), then swap
        val nw = new File(dst.getParentFile, "." + dst.getName + ".__new__")
        val old = new File(dst.getParentFile, "." + dst.getName + ".__old__")
        dst.getParentFile.mkdirs()
        deleteRecursively(nw)
        deleteRecursively(old)
        Files.move(src.toPath, nw.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
        if (dst.exists) Files.move(dst.toPath, old.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
        var attempts = 0
        var committed = false
        while (!committed) {
          try {
            Files.move(nw.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
            committed = true
          } catch {
            case e: java.nio.file.FileSystemException =>
              // a racing reader's recover() can ROLL OUR SWAP FORWARD
              // (nw → dst) between our two renames: that IS the commit
              if (!nw.exists && dst.exists) committed = true
              else if (attempts < 5) {
                // or it resurrected the stash into dst — re-stash and
                // retry; the re-stash is itself guarded (dst can vanish
                // again if yet another recover() wins the same race).
                // Touch the stash ONLY when dst actually holds a
                // resurrected copy: with both nw and dst gone, `old` may
                // be the partition's last surviving copy
                attempts += 1
                if (dst.exists) {
                  deleteRecursively(old)
                  try Files.move(dst.toPath, old.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
                  catch { case _: java.nio.file.FileSystemException if !dst.exists => () }
                }
              } else {
                // retries exhausted: put the stashed old state back before
                // propagating so the partition never ends the call with
                // zero live copies (recoverPartitions would heal `.__old__`
                // on next access, but the next access may be another
                // process much later)
                if (!dst.exists && old.exists)
                  try Files.move(old.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
                  catch { case _: java.nio.file.FileSystemException if dst.exists => () }
                throw new java.io.IOException(
                  s"upsert of '$path' failed to commit partition '$rel' after $attempts retries", e)
              }
          }
        }
        deleteRecursively(old)
      } else if (dst.exists) {
        // the upsert emptied this partition: stage the deletion so a crash
        // mid-delete cannot leave a partial (row-duplicating) directory —
        // and clear any stale swap artifacts so a later recover() cannot
        // roll a superseded staging into the deliberately-deleted slot
        deleteRecursively(new File(dst.getParentFile, "." + dst.getName + ".__new__"))
        deleteRecursively(new File(dst.getParentFile, "." + dst.getName + ".__old__"))
        val del = new File(dst.getParentFile, "." + dst.getName + ".__del__")
        deleteRecursively(del)
        Files.move(dst.toPath, del.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
        deleteRecursively(del)
      }
    }
    deleteRecursively(new File(tmp))
  }
}
