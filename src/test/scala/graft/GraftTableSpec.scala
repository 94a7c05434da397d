package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftTable
import graft.core.GraftTable.ColRange
import graft.operators.Ops

/** The versioned table format: manifest commits, snapshot isolation,
  * time travel, stats-based file skipping, file-granular copy-on-write
  * upsert, vacuum, crash/conflict behavior. */
class GraftTableSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_vt").toString

  private def kv(rows: (Int, String)*) =
    df("k INT, v STRING", rows.map(r => Row(Int.box(r._1), r._2)): _*)

  private def dataFiles(path: String): Map[String, Seq[Byte]] = {
    val d = new java.io.File(path, "data")
    Option(d.listFiles).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
  }

  /** Basenames the CURRENT manifest references (unreferenced files stay
    * on disk until vacuum — the manifest is the table). */
  private def manifestFiles(path: String): Set[String] =
    GraftTable.currentManifest(path).get.files.map(_.path.split('/').last).toSet

  test("overwrite/append/read round-trip; versions accumulate") {
    val path = tmp() + "/t"
    val v1 = GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    val v2 = GraftTable.append(kv(3 -> "c"), path)
    assert((v1, v2) == (1L, 2L))
    assert(canon(GraftTable.read(spark, path)) == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    assert(GraftTable.versions(path).map(v => (v._1, v._3)) ==
      Seq((1L, "overwrite"), (2L, "append")))
  }

  test("time travel: readVersion pins each snapshot; readAsOf picks by commit ts") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    GraftTable.append(kv(2 -> "b"), path)
    GraftTable.overwrite(kv(9 -> "z"), path)
    assert(canon(GraftTable.readVersion(spark, path, 1)) == canon(kv(1 -> "a")))
    assert(canon(GraftTable.readVersion(spark, path, 2)) == canon(kv(1 -> "a", 2 -> "b")))
    assert(canon(GraftTable.readVersion(spark, path, 3)) == canon(kv(9 -> "z")))
    val ts2 = GraftTable.versions(path)(1)._2
    assert(canon(GraftTable.readAsOf(spark, path, ts2)) == canon(kv(1 -> "a", 2 -> "b")))
    val err = intercept[IllegalArgumentException](
      GraftTable.readAsOf(spark, path, GraftTable.versions(path).head._2 - 1))
    assert(err.getMessage.contains("no snapshot"))
  }

  test("append rejects schema drift; overwrite evolves it") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    val drifted = df("k INT, v STRING, extra INT", Row(Int.box(2), "b", Int.box(9)))
    val err = intercept[IllegalArgumentException](GraftTable.append(drifted, path))
    assert(err.getMessage.contains("schema mismatch"))
    GraftTable.overwrite(drifted, path)
    assert(GraftTable.read(spark, path).columns.toSeq == Seq("k", "v", "extra"))
    // old snapshot still reads with ITS schema
    assert(GraftTable.readVersion(spark, path, 1).columns.toSeq == Seq("k", "v"))
  }

  test("upsertByKey rewrites only files holding delta keys; untouched files byte-identical") {
    val path = tmp() + "/t"
    // clustered by k into 4 files → keys live in disjoint ranges
    val base = spark.range(0, 400).select(col("id").cast("int").as("k"),
      concat(lit("v"), col("id")).as("v"))
    GraftTable.writeClustered(base, path, col("k"), 4)
    val before = manifestFiles(path)
    val beforeBytes = dataFiles(path)
    assert(before.size == 4)
    val delta = df("k INT, v STRING", Row(Int.box(5), "FIVE"), Row(Int.box(7), "SEVEN"))
    GraftTable.upsertByKey(spark, path, delta, Seq("k"))
    val after = manifestFiles(path)
    // manifest-level: untouched entries carried verbatim, and their bytes
    // on disk are untouched (copy-on-write never rewrites a carried file)
    val survivors = before.intersect(after)
    assert(survivors.size == 3, s"expected 3 untouched files, got ${survivors.size}")
    val afterBytes = dataFiles(path)
    survivors.foreach(n => assert(afterBytes(n) == beforeBytes(n), s"$n was rewritten"))
    val got = GraftTable.read(spark, path)
    assert(got.count() == 400)
    assert(got.filter(col("k") === 5).select("v").collect().map(_.getString(0)).toSeq
      == Seq("FIVE"))
    assert(got.filter(col("k") === 17).select("v").collect().map(_.getString(0)).toSeq
      == Seq("v17"))
  }

  test("upsertByKey inserts new keys and null-safe-matches NULL keys") {
    val path = tmp() + "/t"
    GraftTable.overwrite(
      df("k INT, v STRING", Row(Int.box(1), "a"), Row(null, "n")), path)
    GraftTable.upsertByKey(spark, path,
      df("k INT, v STRING", Row(null, "N2"), Row(Int.box(2), "b")), Seq("k"))
    val got = GraftTable.read(spark, path).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a"), (-1, "N2"), (2, "b")))
  }

  test("deleteWhere rewrites only files holding matches; untouched files byte-identical") {
    val path = tmp() + "/t"
    val base = spark.range(0, 400).select(col("id").cast("int").as("k"),
      concat(lit("v"), col("id")).as("v"))
    GraftTable.writeClustered(base, path, col("k"), 4, statsCols = Seq("k"))
    val before = manifestFiles(path)
    val beforeBytes = dataFiles(path)
    // matches live in one clustered file; the prune cover makes discovery
    // skip the other three before any IO
    val v = GraftTable.deleteWhere(spark, path, col("k") >= 120 && col("k") < 180,
      pruneRanges = Seq(ColRange("k", Some(120), Some(179))))
    val after = manifestFiles(path)
    val survivors = before.intersect(after)
    assert(survivors.size == 3, s"expected 3 untouched files, got ${survivors.size}")
    val afterBytes = dataFiles(path)
    survivors.foreach(n => assert(afterBytes(n) == beforeBytes(n), s"$n was rewritten"))
    val got = GraftTable.read(spark, path)
    assert(got.count() == 340)
    assert(got.filter(col("k") >= 120 && col("k") < 180).count() == 0)
    // the pre-delete snapshot still holds every row (vacuum completes the purge)
    assert(GraftTable.readVersion(spark, path, v - 1).count() == 400)
    // rewritten files keep tracking the stats column: a post-delete prune
    // still skips by k
    val scan = GraftTable.readPruned(spark, path, Seq(ColRange("k", Some(0), Some(50))))
    assert(scan.filesRead < scan.filesTotal)
  }

  test("deleteWhere keeps NULL-predicate rows and supports delete-all / delete-none") {
    val path = tmp() + "/t"
    GraftTable.overwrite(
      df("k INT, v STRING", Row(Int.box(1), "a"), Row(null, "n"), Row(Int.box(2), "b")), path)
    // pred (k > 1) is NULL for the null-keyed row → kept, SQL DELETE semantics
    GraftTable.deleteWhere(spark, path, col("k") > 1)
    val got = GraftTable.read(spark, path).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a"), (-1, "n")))
    // delete-none commits a version with the file list carried verbatim
    val before = manifestFiles(path)
    GraftTable.deleteWhere(spark, path, col("k") === 99)
    assert(manifestFiles(path) == before)
    // delete-all yields a readable empty table with schema intact
    GraftTable.deleteWhere(spark, path, lit(true))
    val emptied = GraftTable.read(spark, path)
    assert(emptied.count() == 0 && emptied.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("deleteWhere drops fully-covered files metadata-only; boundary rewrites") {
    val path = tmp() + "/t"
    val base = spark.range(0, 400).select(col("id").cast("int").as("k"),
      concat(lit("v"), col("id")).as("v"))
    GraftTable.writeClustered(base, path, col("k"), 4, statsCols = Seq("k"))
    val beforeBytes = dataFiles(path)
    // predicate exactly covers the first clustered file → the commit
    // removes one entry and stages NOTHING (metadata-only drop)
    GraftTable.deleteWhere(spark, path, col("k") < 100,
      pruneRanges = Seq(ColRange("k", None, Some(99))))
    val ch1 = GraftTable.currentManifest(path).get.changes.get
    assert(ch1.removed.size == 1, s"expected 1 dropped file, got ${ch1.removed.size}")
    assert(ch1.added.isEmpty, s"full-cover delete staged ${ch1.added.size} file(s)")
    assert(GraftTable.read(spark, path).count() == 300)
    // predicate covering one whole file + half of the next: one drop,
    // one boundary rewrite holding exactly the 50 keepers
    GraftTable.deleteWhere(spark, path, col("k") < 250,
      pruneRanges = Seq(ColRange("k", None, Some(249))))
    val ch2 = GraftTable.currentManifest(path).get.changes.get
    assert(ch2.removed.size == 2, s"expected 2 removed, got ${ch2.removed.size}")
    assert(ch2.added.map(_.rows).sum == 50,
      s"boundary rewrite should stage 50 keepers, got ${ch2.added.map(_.rows).sum}")
    val got = GraftTable.read(spark, path)
    assert(got.count() == 150 && got.agg(min("k")).head.getInt(0) == 250)
    // the untouched file is byte-identical throughout
    val afterBytes = dataFiles(path)
    manifestFiles(path).intersect(beforeBytes.keySet)
      .foreach(n => assert(afterBytes(n) == beforeBytes(n), s"$n was rewritten"))
  }

  test("overwriteWhere atomically replaces the region; one commit, strays refused") {
    val path = tmp() + "/t"
    val base = spark.range(0, 400).select(col("id").cast("int").as("k"),
      concat(lit("v"), col("id")).as("v"))
    GraftTable.writeClustered(base, path, col("k"), 4, statsCols = Seq("k"))
    val beforeBytes = dataFiles(path)
    val vBefore = GraftTable.currentManifest(path).get.version
    // recompute [100, 200): 10x fewer rows, new values — ONE commit
    val repl = spark.range(100, 200, 10).select(col("id").cast("int").as("k"),
      concat(lit("R"), col("id")).as("v"))
    val v = GraftTable.overwriteWhere(spark, path, repl,
      col("k") >= 100 && col("k") < 200,
      pruneRanges = Seq(ColRange("k", Some(100), Some(199))))
    assert(v == vBefore + 1)
    assert(GraftTable.currentManifest(path).get.op == "replace_where")
    val got = GraftTable.read(spark, path)
    assert(got.count() == 310)
    assert(got.filter(col("k").between(100, 199)).count() == 10)
    assert(got.filter(col("k") === 150).select("v").head.getString(0) == "R150")
    assert(got.filter(col("k") === 17).select("v").head.getString(0) == "v17")
    // the fully-covered old file dropped metadata-only; replacement staged
    val ch = GraftTable.currentManifest(path).get.changes.get
    assert(ch.removed.size == 1 && ch.added.map(_.rows).sum == 10)
    // clean files byte-identical
    val afterBytes = dataFiles(path)
    manifestFiles(path).intersect(beforeBytes.keySet)
      .foreach(n => assert(afterBytes(n) == beforeBytes(n), s"$n was rewritten"))
    // the pre-replace snapshot still reads whole (time travel)
    assert(GraftTable.readVersion(spark, path, v - 1).count() == 400)
    // a source row OUTSIDE the declared region refuses loudly
    val e = intercept[IllegalArgumentException] {
      GraftTable.overwriteWhere(spark, path,
        repl.union(kv(999 -> "stray")), col("k") >= 100 && col("k") < 200)
    }
    assert(e.getMessage.contains("NOT matching"))
    // a source missing a table column refuses loudly
    intercept[IllegalArgumentException] {
      GraftTable.overwriteWhere(spark, path, repl.select("k"), col("k") < 0)
    }
  }

  test("updateWhere rewrites matching rows in place; untouched files byte-identical") {
    val path = tmp() + "/t"
    val base = spark.range(0, 400).select(col("id").cast("int").as("k"),
      concat(lit("v"), col("id")).as("v"))
    GraftTable.writeClustered(base, path, col("k"), 4, statsCols = Seq("k"))
    val before = manifestFiles(path)
    val beforeBytes = dataFiles(path)
    GraftTable.updateWhere(spark, path, col("k") >= 120 && col("k") < 180,
      Map("v" -> concat(lit("UPD-"), col("k"))),
      pruneRanges = Seq(ColRange("k", Some(120), Some(179))))
    val survivors = before.intersect(manifestFiles(path))
    assert(survivors.size == 3, s"expected 3 untouched files, got ${survivors.size}")
    val afterBytes = dataFiles(path)
    survivors.foreach(n => assert(afterBytes(n) == beforeBytes(n), s"$n was rewritten"))
    val got = GraftTable.read(spark, path)
    assert(got.count() == 400)
    assert(got.filter(col("v").startsWith("UPD-")).count() == 60)
    assert(got.filter(col("k") === 150).select("v").head.getString(0) == "UPD-150")
    assert(got.filter(col("k") === 17).select("v").head.getString(0) == "v17")
  }

  test("updateWhere: NULL-pred rows pass through; unknown assignment column rejected") {
    val path = tmp() + "/t"
    GraftTable.overwrite(
      df("k INT, v STRING", Row(Int.box(1), "a"), Row(null, "n"), Row(Int.box(2), "b")), path)
    GraftTable.updateWhere(spark, path, col("k") > 1, Map("v" -> upper(col("v"))))
    val got = GraftTable.read(spark, path).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a"), (-1, "n"), (2, "B")))
    val err = intercept[IllegalArgumentException] {
      GraftTable.updateWhere(spark, path, lit(true), Map("nope" -> lit("x")))
    }
    assert(err.getMessage.contains("nope"))
  }

  test("addColumn is metadata-only: old files read NULL, new writes carry values") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    val beforeBytes = dataFiles(path)
    val v = GraftTable.addColumn(path, "score", "INT")
    assert(dataFiles(path) == beforeBytes, "addColumn rewrote data")
    val got = GraftTable.read(spark, path)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(got.filter(col("score").isNotNull).count() == 0)
    GraftTable.append(df("k INT, v STRING, score INT", Row(Int.box(3), "c", Int.box(7))), path)
    val rows = GraftTable.read(spark, path).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    assert(rows == Set((1, -1), (2, -1), (3, 7)))
    // time travel before the add does not see the column
    assert(GraftTable.readVersion(spark, path, v - 1).schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("dropColumn then re-add never resurrects old on-disk values") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "secret1", 2 -> "secret2"), path)
    GraftTable.dropColumn(path, "v")
    assert(GraftTable.read(spark, path).schema.fieldNames.toSeq == Seq("k"))
    // the old files still physically hold 'v' — a re-added 'v' must NOT read it
    GraftTable.addColumn(path, "v", "STRING")
    val got = GraftTable.read(spark, path)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(got.filter(col("v").isNotNull).count() == 0,
      "re-added column resurrected dropped data")
    // guards: dup add, unknown drop, last-column drop
    intercept[IllegalArgumentException](GraftTable.addColumn(path, "V", "INT"))
    intercept[IllegalArgumentException](GraftTable.dropColumn(path, "nope"))
    GraftTable.dropColumn(path, "v")
    intercept[IllegalArgumentException](GraftTable.dropColumn(path, "k"))
  }

  test("readPruned skips files by stats on a range-clustered layout") {
    val path = tmp() + "/t"
    val rows = spark.range(0, 800).select(col("id").cast("int").as("k"),
      (col("id") % 100).cast("double").as("x"))
    GraftTable.writeClustered(rows, path, col("k"), 8)
    val scan = GraftTable.readPruned(spark, path, Seq(ColRange("k", Some(100), Some(199))))
    assert(scan.filesTotal == 8)
    assert(scan.filesRead <= 2, s"expected <=2 files read, got ${scan.filesRead}")
    val exact = scan.df.filter(col("k").between(100, 199))
    assert(exact.count() == 100)
    // pruned+residual ≡ unpruned+residual
    assert(canon(exact) ==
      canon(GraftTable.read(spark, path).filter(col("k").between(100, 199))))
  }

  test("readPruned: zorder clustering skips on BOTH interleaved dimensions") {
    val path = tmp() + "/t"
    val rows = spark.range(0, 64 * 64).select(
      (col("id") % 64).cast("int").as("a"), (col("id") / 64).cast("int").as("b"))
    GraftTable.writeClustered(rows, path,
      Ops.zorderKey(col("a"), col("b"), bits = 6), 16, statsCols = Seq("a", "b"))
    val onA = GraftTable.readPruned(spark, path, Seq(ColRange("a", Some(0), Some(7))))
    val onB = GraftTable.readPruned(spark, path, Seq(ColRange("b", Some(0), Some(7))))
    assert(onA.filesRead < 16 && onB.filesRead < 16,
      s"z-order should skip on both dims, got a=${onA.filesRead} b=${onB.filesRead} of 16")
    assert(onA.df.filter(col("a") <= 7).count() == 8 * 64)
    assert(onB.df.filter(col("b") <= 7).count() == 8 * 64)
  }

  test("readPruned keeps stats-less files and skips all-NULL files") {
    val path = tmp() + "/t"
    GraftTable.overwrite(df("k INT, v STRING", Row(Int.box(1), "a")), path,
      statsCols = Seq("k"))
    GraftTable.append(df("k INT, v STRING", Row(null, "n"), Row(null, "n2")), path)
    val scan = GraftTable.readPruned(spark, path, Seq(ColRange("k", Some(0), Some(10))))
    assert(scan.filesRead == 1, "all-NULL k files are proven out of a k range")
    assert(scan.filesTotal == scan.filesRead + 2) // the two appended all-NULL rows' files
    val unknown = GraftTable.readPruned(spark, path, Seq(ColRange("absent", Some(1), Some(2))))
    assert(unknown.filesRead == scan.filesTotal) // no stats recorded → never skipped
  }

  test("bloom skipping: IN probes skip hash-distributed files, never falsely") {
    val path = tmp() + "/t"
    // hash-distributed on k: every file spans the whole key range, so
    // min/max prune nothing — the bloom does all the skipping
    val rows = spark.range(0, 2000).select(col("id").as("k"),
      concat(lit("key_"), col("id")).as("s"))
    GraftTable.overwrite(rows.repartition(8, col("k")), path, bloomCols = Seq("k", "s"))
    val present = Seq(3L, 777L, 1999L)
    val scan = GraftTable.readPrunedIn(spark, path, "k", present)
    assert(scan.filesTotal == 8)
    // 3 keys live in ≤3 files; tiny FPR headroom for hash accidents
    assert(scan.filesRead <= 4, s"bloom should skip most files, read ${scan.filesRead}/8")
    // the no-false-skip guarantee: pruned+residual ≡ unpruned+residual
    assert(canon(scan.df.filter(col("k").isin(present: _*))) ==
      canon(GraftTable.read(spark, path).filter(col("k").isin(present: _*))))
    // absent key: every file proven clean (≤1 false positive tolerated)
    assert(GraftTable.readPrunedIn(spark, path, "k", Seq(999999L)).filesRead <= 1)
    // string column blooms probe identically
    val sScan = GraftTable.readPrunedIn(spark, path, "s", Seq("key_777"))
    assert(sScan.filesRead <= 2)
    assert(sScan.df.filter(col("s") === "key_777").count() == 1)
    // broad no-false-skip sweep: 40 present keys in one probe list must
    // all survive pruning
    val sample = (0 until 40).map(i => i * 50L)
    val wide = GraftTable.readPrunedIn(spark, path, "k", sample)
    assert(wide.df.filter(col("k").isin(sample: _*)).count() == 40)
  }

  test("pruned reads coerce mistyped probe values (Int probe vs BIGINT column)") {
    val path = tmp() + "/t"
    val rows = spark.range(0, 2000).select(col("id").as("k"))
    GraftTable.overwrite(rows.repartition(8, col("k")), path, bloomCols = Seq("k"))
    // Int probe against the BIGINT column: the pre-r15 row-based probe
    // path threw ClassCastException at the probe-hash collect (the old
    // literal path coerced via lit(v).cast(dt)); toExternal restores it
    val scan = GraftTable.readPrunedIn(spark, path, "k", Seq(777))
    assert(scan.filesRead <= 2, s"widened Int probe must bloom-prune, read ${scan.filesRead}/8")
    assert(scan.df.filter(col("k") === 777).count() == 1)
    // INT dim key joined to the BIGINT fact column: readPrunedByKeys must
    // PRUNE, not swallow the mismatch into a silent full scan
    val dim = df("k INT", Row(Int.box(11)), Row(Int.box(1234)))
    val scan2 = GraftTable.readPrunedByKeys(spark, path, "k", dim)
    assert(scan2.filesRead < scan2.filesTotal,
      s"INT-keyed dim must still prune the BIGINT fact, read ${scan2.filesRead}/${scan2.filesTotal}")
    val dimL = dim.select(col("k").cast("bigint").as("k"))
    assert(canon(scan2.df.join(dimL, "k")) ==
      canon(GraftTable.read(spark, path).join(dimL, "k")))
    // a probe that cannot fit the column type matches no row and must
    // neither throw nor lose rows for the values that do fit
    val over = GraftTable.readPrunedIn(spark, path, "k", Seq(777, Long.MaxValue))
    assert(over.df.filter(col("k") === 777).count() == 1)
  }

  test("upsert keys touched files by full URI: a clone basename collision never over-rewrites") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // source table: one file holding k=1000..1999
    val a = tmp() + "/src"
    GraftTable.overwrite(spark.range(1000, 2000)
      .selectExpr("cast(id as int) AS k", "cast(id as string) AS v").coalesce(1), a)
    // local table: one file holding k=0..99
    val b = tmp() + "/clone"
    GraftTable.overwrite(spark.range(0, 100)
      .selectExpr("cast(id as int) AS k", "cast(id as string) AS v").coalesce(1), b)
    val feA = GraftTable.currentManifest(a).get.files.head
    val mb = GraftTable.currentManifest(b).get
    val feB = mb.files.head
    // forge the shallow-clone hazard: b's local file RENAMED to share
    // a's basename, next to an absolute-path entry for a's file — the
    // exact shape a shallow clone plus a later local write can produce
    val aBase = feA.path.split('/').last
    java.nio.file.Files.move(new java.io.File(b, feB.path).toPath,
      new java.io.File(new java.io.File(b, "data"), aBase).toPath)
    val localEntry = feB.copy(path = s"data/$aBase")
    val cloneEntry = feA.copy(path = new java.io.File(a, feA.path).getAbsolutePath)
    assert(GraftTable.tryCommit(b, mb.copy(version = mb.version + 1,
      op = "forge_clone", files = Seq(localEntry, cloneEntry), leaves = None,
      changes = None)))
    assert(GraftTable.read(spark, b).count() == 1100)
    // upsert touching ONLY the clone entry's keys: under basename keying
    // the local file (k=0..99) would pool with it and rewrite too
    GraftTable.upsertByKey(spark, b,
      Seq((1500, "HIT")).toDF("k", "v"), Seq("k"))
    val after = GraftTable.filesOf(b, GraftTable.currentManifest(b).get)
    assert(after.exists(_.path == s"data/$aBase"),
      s"untouched local file must carry BY POINTER, got ${after.map(_.path)}")
    assert(!after.exists(_.path == cloneEntry.path),
      "the touched clone entry must have been rewritten")
    val t = GraftTable.read(spark, b)
    assert(t.count() == 1100)
    assert(canon(t.filter(col("k") === 1500).select("v")) == canon(Seq("HIT").toDF("v")))
    assert(t.filter(col("k") < 100).count() == 100)
    // the source table is untouched — clone rewrites never write back
    assert(GraftTable.read(spark, a).count() == 1000)
    assert(GraftTable.currentManifest(a).get.version == 1)
  }

  test("bloomNdv degrades to None on corrupt sidecars, never fails planning") {
    def pack(k: Int, m: Int, bytes: Array[Byte]): String =
      s"$k:$m:${java.util.Base64.getEncoder.encodeToString(bytes)}"
    val good = pack(3, 1024, Array.fill[Byte](128)(0x11))
    assert(GraftTable.bloomNdv(Seq(good)).exists(_ > 0))
    // truncated byte array whose DECLARED geometry matches the good one:
    // the OR-merge would index past the short array — must yield None,
    // not an ArrayIndexOutOfBoundsException out of estimateStatistics
    val truncated = pack(3, 1024, Array.fill[Byte](10)(0x11))
    assert(GraftTable.bloomNdv(Seq(good, truncated)).isEmpty)
    // outright garbage degrades the same way
    assert(GraftTable.bloomNdv(Seq("not-a-bloom")).isEmpty)
    assert(GraftTable.bloomNdv(Seq(good, "3:1024:@@@")).isEmpty)
  }

  test("property-declared statsCols/bloomCols index every write path") {
    val path = tmp() + "/t"
    GraftTable.create(path,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
      // a declared column that doesn't exist yet is ignored, not fatal
      Map("graft.statsCols" -> "k, future_col", "graft.bloomCols" -> "k"))
    // a PLAIN append — no statsCols argument — still stamps stats + bloom
    val rows = spark.range(0, 2000).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    GraftTable.append(rows.repartition(8, col("k")), path)
    val entries = GraftTable.currentManifest(path).get.files
    assert(entries.nonEmpty && entries.forall(_.stats.get("k").exists(_.bloom.nonEmpty)),
      "property-declared bloom missing from appended files")
    val scan = GraftTable.readPrunedIn(spark, path, "k", Seq(777L))
    assert(scan.filesTotal == 8 && scan.filesRead <= 2,
      s"declared bloom should skip, read ${scan.filesRead}/8")
    // the SQL write path (no way to even pass statsCols) indexes too
    rows.createOrReplaceTempView("props_idx_src")
    graft.plans.GraftSql.dml(spark,
      s"INSERT INTO graft.`$path` SELECT k + 10000 AS k, v FROM props_idx_src")
    val v2 = GraftTable.currentManifest(path).get
    assert(v2.changes.get.added.nonEmpty)
    val sqlScan = GraftTable.readPrunedIn(spark, path, "k", Seq(10777L))
    assert(sqlScan.filesRead <= 3,
      s"SQL-inserted files should carry the declared bloom, read ${sqlScan.filesRead}/${sqlScan.filesTotal}")
    assert(sqlScan.df.filter(col("k") === 10777L).count() == 1)
  }

  test("dynamic file pruning: dim keys skip fact files; empty set short-circuits; cap degrades") {
    val path = tmp() + "/fact"
    val fact = spark.range(0, 4000).select(col("id").as("k"), (col("id") % 7).as("m"))
    // hash layout: min/max prune nothing, the bloom does the skipping
    GraftTable.overwrite(fact.repartition(8, col("k")), path, bloomCols = Seq("k"))
    val dim = df("k BIGINT", Seq(11L, 1234L, 3999L).map(v => Row(Long.box(v))): _*)
    val scan = GraftTable.readPrunedByKeys(spark, path, "k", dim)
    assert(scan.filesTotal == 8 && scan.filesRead <= 4,
      s"dim keys should bloom-skip, read ${scan.filesRead}/8")
    // join equivalence: the pruned fact joins exactly like the full fact
    assert(canon(scan.df.join(dim, "k")) ==
      canon(GraftTable.read(spark, path).join(dim, "k")))
    // empty dim side → provably-empty join, zero files scanned
    val none = GraftTable.readPrunedByKeys(spark, path, "k",
      spark.range(0).select(col("id").as("k")))
    assert(none.filesRead == 0 && none.df.isEmpty)
    // null dim keys never equi-join — dropped before probing
    val nullOnly = df("k BIGINT", Row(null))
    assert(GraftTable.readPrunedByKeys(spark, path, "k", nullOnly).filesRead == 0)
    // past the cap the scan DEGRADES to unpruned (visible, never wrong)
    val big = spark.range(0, 100).select(col("id").as("k"))
    val deg = GraftTable.readPrunedByKeys(spark, path, "k", big, maxKeys = 10)
    assert(deg.filesRead == deg.filesTotal)
    assert(canon(deg.df.join(big, "k")) ==
      canon(GraftTable.read(spark, path).join(big, "k")))
    // a multi-column key frame refuses loudly
    intercept[IllegalArgumentException](
      GraftTable.readPrunedByKeys(spark, path, "k", fact))
  }

  test("bloom survives append; COW rewrite drops it for touched files only, stays correct") {
    val path = tmp() + "/t"
    val part1 = spark.range(0, 500).select(col("id").as("k"), lit("x").as("v"))
    GraftTable.overwrite(part1.repartition(4, col("k")), path, bloomCols = Seq("k"))
    GraftTable.append(spark.range(500, 1000).select(col("id").as("k"), lit("y").as("v"))
      .repartition(4, col("k")), path, bloomCols = Seq("k"))
    val scan = GraftTable.readPrunedIn(spark, path, "k", Seq(250L, 750L))
    assert(scan.filesTotal == 8 && scan.filesRead <= 3,
      s"both commits' blooms should skip, read ${scan.filesRead}/8")
    // rewrite the file(s) holding k=250: their bloom drops, so they are
    // always kept — degraded skipping, never a wrong result
    GraftTable.upsertByKey(spark, path,
      df("k BIGINT, v STRING", Row(Long.box(250L), "upd")), Seq("k"))
    val after = GraftTable.readPrunedIn(spark, path, "k", Seq(250L))
    assert(after.df.filter(col("k") === 250L).collect().map(_.getString(1)).toSeq == Seq("upd"))
    val bloomless = GraftTable.currentManifest(path).get.files
      .filter(_.stats.get("k").exists(_.bloom.isEmpty))
    assert(bloomless.nonEmpty, "the rewritten file should have no bloom")
  }

  test("deleteByKey removes listed keys null-safely; untouched files byte-identical") {
    val path = tmp() + "/t"
    val rows = df("k INT, v STRING", Row(Int.box(1), "a"), Row(Int.box(2), "b"),
      Row(null, "n"), Row(Int.box(4), "d"))
    // one file per row so victim targeting is observable at file grain
    GraftTable.overwrite(rows.repartition(4, col("k")), path)
    val before = dataFiles(path)
    GraftTable.deleteByKey(spark, path,
      df("k INT", Row(Int.box(2)), Row(null.asInstanceOf[Integer])), Seq("k"))
    assert(canon(GraftTable.read(spark, path)) ==
      canon(df("k INT, v STRING", Row(Int.box(1), "a"), Row(Int.box(4), "d"))))
    // files not holding a victim key carried by reference, byte-identical
    val after = dataFiles(path)
    val carried = manifestFiles(path).filter(before.contains)
    assert(carried.nonEmpty)
    carried.foreach(f => assert(after(f) == before(f)))
    // deleting absent keys is a verbatim-file-list commit, content stable
    GraftTable.deleteByKey(spark, path, df("k INT", Row(Int.box(999))), Seq("k"))
    assert(GraftTable.read(spark, path).count() == 2)
  }

  test("applyChangeSet ≡ deleteByKey + upsertByKey, in ONE commit") {
    val root = tmp()
    val base = kv(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d")
    // overlapping key (2 is deleted AND re-inserted — the CDF update
    // shape: delete pre-image + insert post-image in one change set),
    // plus a pure delete (4), a pure update (3), and a fresh insert (9)
    val dels = df("k INT", Row(Int.box(2)), Row(Int.box(4)))
    val ins = kv(2 -> "B2", 3 -> "C2", 9 -> "i")
    val (fused, paired) = (root + "/fused", root + "/paired")
    GraftTable.overwrite(base, fused)
    GraftTable.overwrite(base, paired)
    val vBefore = GraftTable.currentVersion(fused).get
    GraftTable.applyChangeSet(spark, fused, dels, ins, Seq("k"))
    GraftTable.deleteByKey(spark, paired, dels, Seq("k"))
    GraftTable.upsertByKey(spark, paired, ins, Seq("k"))
    assert(canon(GraftTable.read(spark, fused)) == canon(GraftTable.read(spark, paired)))
    assert(canon(GraftTable.read(spark, fused)) ==
      canon(kv(1 -> "a", 2 -> "B2", 3 -> "C2", 9 -> "i")))
    // the fused apply is ONE commit where the pair costs two
    assert(GraftTable.currentVersion(fused).get == vBefore + 1)
    assert(GraftTable.currentVersion(paired).get == vBefore + 2)
    // degenerate sides: empty dels ≡ plain upsert; empty ins ≡ plain delete
    GraftTable.applyChangeSet(spark, fused, dels.limit(0), kv(10 -> "x"), Seq("k"))
    assert(canon(GraftTable.read(spark, fused)) ==
      canon(kv(1 -> "a", 2 -> "B2", 3 -> "C2", 9 -> "i", 10 -> "x")))
    GraftTable.applyChangeSet(spark, fused, df("k INT", Row(Int.box(10))),
      kv(), Seq("k"))
    assert(canon(GraftTable.read(spark, fused)) ==
      canon(kv(1 -> "a", 2 -> "B2", 3 -> "C2", 9 -> "i")))
    // replaying the SAME change set converges (idempotent like its halves)
    val content = canon(GraftTable.read(spark, fused))
    GraftTable.applyChangeSet(spark, fused, df("k INT", Row(Int.box(10))),
      kv(2 -> "B2", 3 -> "C2", 9 -> "i"), Seq("k"))
    assert(canon(GraftTable.read(spark, fused)) == content)
    // missing table bootstraps from ins, exactly like upsertByKey
    GraftTable.applyChangeSet(spark, root + "/fresh", dels.limit(0),
      kv(7 -> "n"), Seq("k"))
    assert(canon(GraftTable.read(spark, root + "/fresh")) == canon(kv(7 -> "n")))
  }

  test("applyChangeSet: an empty change set commits the parent's file list verbatim") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    GraftTable.append(kv(3 -> "c"), path)
    val before = GraftTable.currentManifest(path).get
    val onDisk = dataFiles(path).keySet
    val v = GraftTable.applyChangeSet(spark, path, df("k INT"), kv(), Seq("k"))
    val after = GraftTable.currentManifest(path).get
    assert(v == before.version + 1 && after.version == v && after.op == "apply_changes")
    assert(GraftTable.filesOf(path, after).map(_.path).sorted ==
      GraftTable.filesOf(path, before).map(_.path).sorted)
    assert(dataFiles(path).keySet == onDisk, "an empty change set wrote a data file")
    assert(canon(GraftTable.read(spark, path)) == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // a delete that empties every touched file commits no zero-row file either
    GraftTable.applyChangeSet(spark, path, df("k INT", Row(Int.box(3))), kv(), Seq("k"))
    assert(GraftTable.filesOf(path, GraftTable.currentManifest(path).get).forall(_.rows > 0))
    assert(dataFiles(path).keySet == onDisk)
    assert(canon(GraftTable.read(spark, path)) == canon(kv(1 -> "a", 2 -> "b")))
  }

  test("applyChangeSet bootstrap: delete-only creates an empty table; ins must hold the keys") {
    val root = tmp()
    // a delete-only change set against a missing table: nothing to
    // delete, so the table is created empty with ins's schema
    val v = GraftTable.applyChangeSet(spark, root + "/fresh",
      df("k INT", Row(Int.box(1))), kv(), Seq("k"))
    assert(v == 1L && GraftTable.exists(root + "/fresh"))
    val created = GraftTable.read(spark, root + "/fresh")
    assert(created.count() == 0)
    assert(created.schema.fieldNames.toSeq == Seq("k", "v"))
    // an ins frame without the key columns refuses before touching the table
    val err = intercept[IllegalArgumentException](GraftTable.applyChangeSet(spark,
      root + "/fresh", df("k INT"), df("v STRING", Row("x")), Seq("k")))
    assert(err.getMessage.contains("insert frame lacks k"))
    assert(GraftTable.currentVersion(root + "/fresh").get == 1L)
    intercept[IllegalArgumentException](GraftTable.applyChangeSet(spark,
      root + "/other", df("k INT"), df("v STRING", Row("x")), Seq("k")))
    assert(!GraftTable.exists(root + "/other"))
  }

  test("syncReplica: full copy, then incremental CDC apply; idle sync commits nothing") {
    val root = tmp()
    val (src, dst) = (root + "/src", root + "/dst")
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b", 3 -> "c"), src)
    assert(GraftTable.syncReplica(spark, src, dst, Seq("k")) == 1L)
    assert(canon(GraftTable.read(spark, dst)) == canon(GraftTable.read(spark, src)))
    // mutate src: insert, update, delete — one sync applies all three
    GraftTable.append(kv(4 -> "d"), src)
    GraftTable.upsertByKey(spark, src, kv(2 -> "B"), Seq("k"))
    GraftTable.deleteByKey(spark, src, df("k INT", Row(Int.box(1))), Seq("k"))
    GraftTable.syncReplica(spark, src, dst, Seq("k"))
    assert(canon(GraftTable.read(spark, dst)) ==
      canon(kv(2 -> "B", 3 -> "c", 4 -> "d")))
    // an up-to-date replica syncs without committing anything
    val vBefore = GraftTable.currentVersion(dst).get
    GraftTable.syncReplica(spark, src, dst, Seq("k"))
    assert(GraftTable.currentVersion(dst).get == vBefore)
    // replays converge: re-applying the same diff then re-syncing is stable
    GraftTable.upsertByKey(spark, dst, kv(4 -> "d"), Seq("k")) // simulate a replayed apply
    GraftTable.syncReplica(spark, src, dst, Seq("k"))
    assert(canon(GraftTable.read(spark, dst)) == canon(GraftTable.read(spark, src)))
  }

  test("syncReplica toVersion: pinned stepwise replay ≡ head sync; rewind refuses") {
    val root = tmp()
    val (src, dst, dst2) = (root + "/src", root + "/dst", root + "/dst2")
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b", 3 -> "c"), src) // v1
    GraftTable.append(kv(4 -> "d"), src)                        // v2
    GraftTable.upsertByKey(spark, src, kv(2 -> "B"), Seq("k"))  // v3
    GraftTable.deleteByKey(spark, src, df("k INT", Row(Int.box(1))), Seq("k")) // v4
    // follow the history commit-by-commit against the FINISHED source;
    // every intermediate state matches that version's snapshot
    (1L to 4L).foreach { v =>
      assert(GraftTable.syncReplica(spark, src, dst, Seq("k"), toVersion = Some(v)) == v)
      assert(canon(GraftTable.read(spark, dst)) ==
        canon(GraftTable.readVersion(spark, src, v)))
    }
    // one head sync lands the identical end state
    GraftTable.syncReplica(spark, src, dst2, Seq("k"))
    assert(canon(GraftTable.read(spark, dst)) == canon(GraftTable.read(spark, dst2)))
    // a pinned target BEHIND the replica's bookmark must refuse loudly
    intercept[IllegalArgumentException] {
      GraftTable.syncReplica(spark, src, dst, Seq("k"), toVersion = Some(2L))
    }
    // a nonexistent pinned version must refuse, not resync silently
    intercept[IllegalArgumentException] {
      GraftTable.syncReplica(spark, src, dst, Seq("k"), toVersion = Some(99L))
    }
  }

  test("syncReplica under random op sequences: replica ≡ source at every sync") {
    for (seed <- Seq(11, 47)) {
      val root = tmp()
      val (src, dst) = (root + "/src", root + "/dst")
      val rnd = new scala.util.Random(seed)
      // keys distinct per batch: a replicated table is keyed by contract
      def someRows() = kv(Seq.fill(rnd.nextInt(5) + 1)(
        rnd.nextInt(30) -> rnd.alphanumeric.take(3).mkString)
        .distinctBy(_._1): _*)
      GraftTable.overwrite(someRows(), src)
      for (_ <- 1 to 10) {
        rnd.nextInt(4) match {
          case 0 => GraftTable.append(someRows(), src): Unit
          case 1 => GraftTable.upsertByKey(spark, src, someRows(), Seq("k")): Unit
          case 2 => GraftTable.deleteByKey(spark, src,
            df("k INT", Seq.fill(rnd.nextInt(3) + 1)(Row(Int.box(rnd.nextInt(30)))): _*),
            Seq("k")): Unit
          case 3 => GraftTable.overwrite(someRows(), src): Unit
        }
        GraftTable.syncReplica(spark, src, dst, Seq("k"))
        assert(canon(GraftTable.read(spark, dst)) == canon(GraftTable.read(spark, src)),
          s"replica diverged at seed=$seed")
      }
    }
  }

  test("commit conflict: append rebases and retries; upsert surfaces the conflict") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    // steal version 2 with a manual commit (simulating a racing writer)
    val log = new java.io.File(path, "_graft_log")
    val v1 = new java.io.File(log, log.list().filter(_.endsWith(".json")).max)
    val stolen = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
      .replace("\"version\" : 1", "\"version\" : 2")
    java.nio.file.Files.write(new java.io.File(log, "v" + "0" * 19 + "2.json").toPath,
      stolen.getBytes("UTF-8"))
    val v = GraftTable.append(kv(2 -> "b"), path) // lands as v3, rebased on v2
    assert(v == 3L)
    assert(GraftTable.read(spark, path).count() == 2) // stolen v2's file + the rebased append
    // upsert from a STALE snapshot (a commit landed after its read) must
    // surface the conflict, not silently drop the interleaved commit
    val stale = GraftTable.currentManifest(path).get
    GraftTable.append(kv(7 -> "g"), path) // the interleaved commit (v4)
    intercept[java.util.ConcurrentModificationException](
      GraftTable.upsertFromSnapshot(spark, path, kv(1 -> "A"), Seq("k"), Nil, stale))
    assert(GraftTable.read(spark, path).count() == 3) // conflict left v4 intact
  }

  test("crashed stage dirs are invisible to readers; vacuum reclaims them and old versions") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    GraftTable.overwrite(kv(3 -> "c"), path) // v1's files now unreferenced by current
    // simulate a crashed write: stage dir with data but no manifest
    val stage = new java.io.File(path, ".stage-deadbeef")
    stage.mkdirs()
    java.nio.file.Files.write(new java.io.File(stage, "part-junk.parquet").toPath,
      Array[Byte](1, 2, 3))
    assert(canon(GraftTable.read(spark, path)) == canon(kv(3 -> "c"))) // orphan invisible
    val deleted = GraftTable.vacuum(path, keepVersions = 1)
    assert(deleted >= 1, "v1's data files should be reclaimed")
    // the stage dir is YOUNG: inside the orphan grace it may belong to
    // an in-flight commit between stage and CAS — default vacuum must
    // leave it (deleting it under a live writer would break the commit)
    assert(stage.exists, "young stage dir must survive the grace window")
    assert(canon(GraftTable.read(spark, path)) == canon(kv(3 -> "c")))
    intercept[IllegalArgumentException](GraftTable.readVersion(spark, path, 1))
    // past the grace (here: waived explicitly — the quiesced-maintenance
    // contract) the crashed stage reclaims
    GraftTable.vacuum(path, keepVersions = 1, orphanGraceUs = 0): Unit
    assert(!stage.exists, "crashed stage dir should be reclaimed past the grace")
    assert(canon(GraftTable.read(spark, path)) == canon(kv(3 -> "c")))
  }

  test("diffVersions classifies insert/update/delete, NULL-safe on keys and values") {
    val path = tmp() + "/t"
    GraftTable.overwrite(df("k INT, v STRING, x INT",
      Row(Int.box(1), "a", Int.box(10)),   // unchanged
      Row(Int.box(2), "b", null),          // value NULL -> NULL: unchanged
      Row(Int.box(3), "c", null),          // NULL -> 5: update
      Row(Int.box(4), "gone", Int.box(4)), // delete
      Row(null, "nk", Int.box(7))), path)  // NULL key, updated
    GraftTable.overwrite(df("k INT, v STRING, x INT",
      Row(Int.box(1), "a", Int.box(10)),
      Row(Int.box(2), "b", null),
      Row(Int.box(3), "c", Int.box(5)),
      Row(Int.box(5), "new", null),        // insert
      Row(null, "NK", Int.box(7))), path)
    val got = GraftTable.diffVersions(spark, path, 1, 2, Seq("k")).collect()
      .map(r => (if (r.isNullAt(0)) -99 else r.getInt(0), r.getString(1),
        r.getString(3))).toSet
    assert(got == Set((3, "c", "update"), (4, "gone", "delete"),
      (5, "new", "insert"), (-99, "NK", "update")))
  }

  test("compactFiles repacks small files as a new commit; history and contents survive") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(0 -> "v0"), path)
    (1 to 5).foreach(i => GraftTable.append(kv(i -> s"v$i"), path)) // 6 tiny files
    val beforeRows = canon(GraftTable.read(spark, path))
    val (nBefore, nAfter) = GraftTable.compactFiles(spark, path, targetBytes = 1L << 20)
    assert(nBefore >= 6 && nAfter == 1, s"expected 1 packed file, got $nBefore -> $nAfter")
    assert(canon(GraftTable.read(spark, path)) == beforeRows)
    // pre-compaction snapshot is intact until vacuumed
    assert(canon(GraftTable.readVersion(spark, path, 6)) == beforeRows)
    val deleted = GraftTable.vacuum(path, keepVersions = 1)
    assert(deleted >= 6, s"replaced small files should be reclaimed, deleted=$deleted")
    assert(canon(GraftTable.read(spark, path)) == beforeRows)
  }

  test("compactFiles with clusterBy reclusters appends so pruning skips again") {
    val path = tmp() + "/t"
    // 4 interleaved appends: every file spans nearly the full key range,
    // so a key-range prune can prove nothing
    (0 until 4).foreach { i =>
      val part = spark.range(0, 400).filter(col("id") % 4 === i)
        .select(col("id").cast("int").as("k"), concat(lit("v"), col("id")).as("v"))
      GraftTable.append(part.coalesce(1), path, statsCols = Seq("k"))
    }
    val before = GraftTable.readPruned(spark, path, Seq(ColRange("k", Some(0), Some(50))))
    assert(before.filesRead == before.filesTotal, "disorder should defeat pruning")
    GraftTable.compactFiles(spark, path, targetBytes = 2048L,
      statsCols = Seq("k"), clusterBy = Some(col("k")))
    val after = GraftTable.readPruned(spark, path, Seq(ColRange("k", Some(0), Some(50))))
    assert(after.filesRead < after.filesTotal,
      s"expected post-OPTIMIZE skipping, read ${after.filesRead}/${after.filesTotal}")
    // contents byte-for-byte preserved; the pre-OPTIMIZE version intact
    val got = GraftTable.read(spark, path)
    assert(got.count() == 400 && got.select("k").distinct().count() == 400)
    assert(GraftTable.readVersion(spark, path, 4).count() == 400)
  }

  test("renameColumn is metadata-only: no file rewritten, old versions keep old name") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path, statsCols = Seq("k", "v"))
    val bytesBefore = dataFiles(path)
    GraftTable.renameColumn(path, "v", "label")
    assert(dataFiles(path) == bytesBefore, "rename must not touch data files")
    val now = GraftTable.read(spark, path)
    assert(now.columns.toSeq == Seq("k", "label"))
    assert(canon(now) == canon(kv(1 -> "a", 2 -> "b").withColumnRenamed("v", "label")))
    // time travel: the pre-rename version still reads under its own schema
    assert(GraftTable.readVersion(spark, path, 1).columns.toSeq == Seq("k", "v"))
    intercept[IllegalArgumentException](GraftTable.renameColumn(path, "nope", "x"))
    intercept[IllegalArgumentException](GraftTable.renameColumn(path, "k", "label"))
  }

  test("after rename: append/upsert/prune/compact all work across mixed physical names") {
    val path = tmp() + "/t"
    GraftTable.writeClustered(
      spark.range(0, 100).selectExpr("cast(id as int) as k", "concat('v', id) as v"),
      path, org.apache.spark.sql.functions.col("k"), 2, statsCols = Seq("k"))
    GraftTable.renameColumn(path, "v", "label")
    // new-schema append: physical name 'label' in the new file
    GraftTable.append(df("k INT, label STRING", Row(Int.box(100), "fresh")), path)
    assert(GraftTable.read(spark, path).count() == 101)
    // pruning still works (stats keys renamed with the schema)
    val scan = GraftTable.readPruned(spark, path, Seq(ColRange("k", Some(0), Some(10))))
    assert(scan.filesRead < scan.filesTotal)
    // upsert touches the right rows through the rename indirection
    GraftTable.upsertByKey(spark, path,
      df("k INT, label STRING", Row(Int.box(5), "FIVE")), Seq("k"))
    val got = GraftTable.read(spark, path)
    assert(got.filter(col("k") === 5).select("label").head.getString(0) == "FIVE")
    assert(got.filter(col("k") === 100).select("label").head.getString(0) == "fresh")
    assert(got.count() == 101)
    // second rename composes (label -> tag maps back to physical 'v')
    GraftTable.renameColumn(path, "label", "tag")
    assert(GraftTable.read(spark, path).filter(col("k") === 7)
      .select("tag").head.getString(0) == "v7")
    // compaction rewrites smalls under the current schema and stays equal
    val before = canon(GraftTable.read(spark, path))
    GraftTable.compactFiles(spark, path, targetBytes = 1L << 20)
    assert(canon(GraftTable.read(spark, path)) == before)
  }

  test("empty overwrite yields a readable zero-row table with schema") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a").filter(lit(false)), path)
    val got = GraftTable.read(spark, path)
    assert(got.count() == 0 && got.columns.toSeq == Seq("k", "v"))
    GraftTable.append(kv(1 -> "a"), path)
    assert(GraftTable.read(spark, path).count() == 1)
  }

  test("empty overwrite/append commit no zero-row file") {
    val path = tmp() + "/t"
    // an empty overwrite commits its schema and no file
    GraftTable.overwrite(kv(1 -> "a").filter(lit(false)), path)
    val created = GraftTable.currentManifest(path).get
    assert(GraftTable.filesOf(path, created).isEmpty && dataFiles(path).isEmpty)
    assert(created.schemaDdl == kv().schema.toDDL)
    val got = GraftTable.read(spark, path)
    assert(got.count() == 0 && got.schema.fieldNames.toSeq == Seq("k", "v"))
    // an empty append commits the parent's file list verbatim
    GraftTable.append(kv(1 -> "a", 2 -> "b"), path)
    val before = GraftTable.currentManifest(path).get
    val onDisk = dataFiles(path).keySet
    val v = GraftTable.append(kv(), path)
    val after = GraftTable.currentManifest(path).get
    assert(v == before.version + 1 && after.op == "append")
    assert(GraftTable.filesOf(path, after) == GraftTable.filesOf(path, before))
    assert(dataFiles(path).keySet == onDisk, "an empty append wrote a data file")
    assert(canon(GraftTable.read(spark, path)) == canon(kv(1 -> "a", 2 -> "b")))
  }

  test("convertParquetDir registers plain parquet in place; pruning and DML work after") {
    val dir = tmp() + "/plain"
    // a range-layout plain-parquet table (what a migration inherits)
    kv((1 to 60).map(i => i -> s"v$i"): _*)
      .repartitionByRange(3, col("k")).sortWithinPartitions(col("k"))
      .write.parquet(dir)
    val before = Option(new java.io.File(dir).listFiles).get
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    GraftTable.convertParquetDir(spark, dir, statsCols = Seq("k"))
    assert(canon(GraftTable.read(spark, dir)) == canon(kv((1 to 60).map(i => i -> s"v$i"): _*)))
    // stats computed at convert time prune from the first read
    val scan = GraftTable.readPruned(spark, dir,
      Seq(GraftTable.ColRange("k", lo = Some(1), hi = Some(5))))
    assert(scan.filesRead < scan.filesTotal)
    // normal life after conversion: append + COW update + time travel
    GraftTable.append(kv(61 -> "v61"), dir)
    GraftTable.upsertByKey(spark, dir, kv(1 -> "V1"), Seq("k"))
    assert(GraftTable.read(spark, dir).count() == 61)
    assert(canon(GraftTable.readVersion(spark, dir, 1L)) ==
      canon(kv((1 to 60).map(i => i -> s"v$i"): _*)))
    // vacuum reclaims only data/: the original files never vanish from
    // under a plain directory reader
    GraftTable.vacuum(dir, keepVersions = 1)
    val rootAfter = Option(new java.io.File(dir).listFiles).get
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(before.subsetOf(rootAfter))
  }

  test("mergeInto applies conditional update/delete/insert in one commit") {
    import GraftTable.srcCol
    val path = tmp() + "/t"
    GraftTable.writeClustered(kv((1 to 6).map(i => i -> s"v$i"): _*), path,
      col("k"), numFiles = 3, statsCols = Seq("k"))
    val filesBefore = dataFiles(path)
    val source = df("k INT, v STRING, op STRING",
      Row(Int.box(4), "x", "D"),       // matched -> delete
      Row(Int.box(5), "V5", "U"),      // matched -> update
      Row(Int.box(6), "ignored", "X"), // matched, no clause -> unchanged
      Row(Int.box(7), "v7", "I"),      // not matched -> insert
      Row(Int.box(8), "v8", "I"))
    GraftTable.mergeInto(spark, path, source, Seq("k"),
      updateSet = Map("v" -> srcCol("v")),
      updateWhen = Some(srcCol("op") === "U"),
      deleteWhen = Some(srcCol("op") === "D"))
    assert(canon(GraftTable.read(spark, path)) == canon(kv(
      1 -> "v1", 2 -> "v2", 3 -> "v3", 5 -> "V5", 6 -> "v6", 7 -> "v7", 8 -> "v8")))
    // files outside the source's key range carried byte-identically
    val carried = dataFiles(path).keySet.intersect(filesBefore.keySet)
    assert(carried.nonEmpty, "expected at least one untouched file to carry")
    carried.foreach(n => assert(dataFiles(path)(n) == filesBefore(n)))
  }

  test("mergeInto: NULL keys match null-safely; duplicate source keys refuse") {
    import GraftTable.srcCol
    val path = tmp() + "/t"
    GraftTable.overwrite(df("k INT, v STRING", Row(null, "nv"), Row(Int.box(1), "v1")), path)
    GraftTable.mergeInto(spark, path,
      df("k INT, v STRING", Row(null, "NV")), Seq("k"),
      updateSet = Map("v" -> srcCol("v")))
    assert(canon(GraftTable.read(spark, path)) ==
      canon(df("k INT, v STRING", Row(null, "NV"), Row(Int.box(1), "v1"))))
    intercept[IllegalArgumentException] {
      GraftTable.mergeInto(spark, path,
        df("k INT, v STRING", Row(Int.box(1), "a"), Row(Int.box(1), "b")), Seq("k"))
    }
  }

  test("restore rolls content back as a new commit; history and marks survive") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b").coalesce(1), path)   // v1
    GraftTable.append(kv(3 -> "c"), path)                            // v2
    GraftTable.upsertByKey(spark, path, kv(2 -> "OOPS"), Seq("k"))   // v3: the bad commit
    GraftTable.appendStream(kv(4 -> "d"), path, "s1", 7L)            // v4: mark s1 -> 7
    GraftTable.restore(path, 2L)                                     // v5
    assert(GraftTable.currentVersion(path).contains(5L))
    assert(canon(GraftTable.read(spark, path)) == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // the bad history stays time-travel-readable — nothing was rewritten
    assert(canon(GraftTable.readVersion(spark, path, 4L)) ==
      canon(kv(1 -> "a", 2 -> "OOPS", 3 -> "c", 4 -> "d")))
    // the exactly-once ledger did NOT roll back: batch 7 replay is a no-op
    assert(GraftTable.appendStream(kv(4 -> "dup"), path, "s1", 7L) == -1L)
    // row-level CDC across the restore states the rollback explicitly
    val diff = GraftTable.diffVersions(spark, path, 4L, 5L, Seq("k"))
      .select(col("k"), col("v"), col("change_type"))
    assert(canon(diff) == canon(df("k INT, v STRING, change_type STRING",
      Row(Int.box(2), "b", "update"), Row(Int.box(4), "d", "delete"))))
    // restoring to the current version is a no-op commit-wise
    assert(GraftTable.restore(path, 5L) == 5L)
    assert(GraftTable.currentVersion(path).contains(5L))
  }

  test("shallow clone: zero-copy fork — independent history, source untouched") {
    val root = tmp()
    val (src, dst) = (s"$root/src", s"$root/clone")
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b").coalesce(1), src)
    GraftTable.append(kv(3 -> "c"), src)
    GraftTable.addCheck(spark, src, "pos", "k > 0")
    GraftTable.cloneTable(spark, src, dst)
    // clone reads the snapshot without a single data file of its own
    assert(canon(GraftTable.read(spark, dst)) == canon(GraftTable.read(spark, src)))
    assert(dataFiles(dst).isEmpty)
    // checks carry; the clone enforces them on ITS writes
    intercept[IllegalArgumentException] { GraftTable.append(kv(-1 -> "x"), dst) }
    // divergence: writes to the clone never touch the source
    val srcFilesBefore = dataFiles(src)
    GraftTable.append(kv(4 -> "d"), dst)
    GraftTable.upsertByKey(spark, dst, kv(2 -> "B"), Seq("k"))
    assert(canon(GraftTable.read(spark, dst)) ==
      canon(kv(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d")))
    assert(canon(GraftTable.read(spark, src)) == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    assert(dataFiles(src) == srcFilesBefore) // byte-identical source files
    // vacuuming the clone reclaims only ITS files; the source still reads
    GraftTable.vacuum(dst, keepVersions = 1)
    assert(canon(GraftTable.read(spark, src)) == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    assert(canon(GraftTable.read(spark, dst)) ==
      canon(kv(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d")))
  }

  test("deep clone shares no fate with the source; stats survive for pruning") {
    val root = tmp()
    val (src, dst) = (s"$root/src", s"$root/deep")
    val rows = (1 to 80).map(i => (i, s"v$i"))
    GraftTable.writeClustered(kv(rows: _*), src, col("k"), numFiles = 4,
      statsCols = Seq("k"))
    GraftTable.cloneTable(spark, src, dst, deep = true)
    assert(canon(GraftTable.read(spark, dst)) == canon(GraftTable.read(spark, src)))
    // stats carried: the pruned read still skips most files on the clone
    val scan = GraftTable.readPruned(spark, dst,
      Seq(GraftTable.ColRange("k", lo = Some(1), hi = Some(10))))
    assert(scan.filesRead < scan.filesTotal)
    // destroy the source entirely — the deep clone is unaffected
    graft.core.TableIO.clearDir(src)
    assert(canon(GraftTable.read(spark, dst)) == canon(kv(rows: _*)))
  }

  test("CHECK constraints gate every write path; NULL passes; drop lifts the gate") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    GraftTable.addCheck(spark, path, "pos_k", "k > 0")
    // violating append refuses and leaves the table untouched
    val vBefore = GraftTable.currentVersion(path)
    val before = canon(GraftTable.read(spark, path))
    val e = intercept[IllegalArgumentException] {
      GraftTable.append(kv(-5 -> "x"), path)
    }
    assert(e.getMessage.contains("pos_k"))
    assert(GraftTable.currentVersion(path) == vBefore)
    assert(canon(GraftTable.read(spark, path)) == before)
    // compliant append passes; NULL predicate result passes (SQL CHECK)
    GraftTable.append(kv(3 -> "c"), path)
    GraftTable.append(df("k INT, v STRING", Row(null, "n")), path)
    // a COW update that would break the invariant refuses mid-rewrite
    intercept[IllegalArgumentException] {
      GraftTable.updateWhere(spark, path, col("v") === "a",
        Map("k" -> lit(-1)))
    }
    // the gate survives every op type that commits a manifest
    GraftTable.upsertByKey(spark, path, kv(2 -> "B"), Seq("k"))
    GraftTable.renameColumn(path, "v", "label")
    GraftTable.compactFiles(spark, path, targetBytes = 1L << 20)
    GraftTable.appendEvolve(df("k INT, label STRING, extra INT",
      Row(Int.box(9), "w", Int.box(1))), path)
    GraftTable.appendStream(df("k INT, label STRING, extra INT",
      Row(Int.box(10), "s", Int.box(2))), path, "ck", 1L)
    assert(GraftTable.currentManifest(path).get.checks.get.contains("pos_k"))
    intercept[IllegalArgumentException] {
      GraftTable.append(df("k INT, label STRING, extra INT",
        Row(Int.box(-7), "x", Int.box(3))), path)
    }
    // adding a check the existing data violates refuses
    intercept[IllegalArgumentException] {
      GraftTable.addCheck(spark, path, "short", "length(label) > 5")
    }
    // dropCheck lifts the gate
    GraftTable.dropCheck(path, "pos_k")
    GraftTable.append(df("k INT, label STRING, extra INT",
      Row(Int.box(-7), "x", Int.box(3))), path)
    assert(GraftTable.read(spark, path).filter(col("k") === -7).count() == 1)
  }

  test("a check landing between stage and commit re-gates the in-flight batch") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    val before = canon(GraftTable.read(spark, path))
    // stage the race: addCheck commits inside the window after the append
    // staged (validating against a check-free manifest) and before its
    // first commit attempt — the rebase loop must re-validate, not attach
    GraftTable.betweenStageAndCommitForTests = () => {
      GraftTable.betweenStageAndCommitForTests = () => ()
      GraftTable.addCheck(spark, path, "pos_k", "k > 0"): Unit
    }
    try {
      val e = intercept[IllegalArgumentException](GraftTable.append(kv(-3 -> "x"), path))
      assert(e.getMessage.contains("pos_k"))
    } finally GraftTable.betweenStageAndCommitForTests = () => ()
    // the check is attached to the head; the violating batch never landed
    assert(GraftTable.currentManifest(path).get.checks.get.contains("pos_k"))
    assert(canon(GraftTable.read(spark, path)) == before)
    // a COMPLIANT batch racing a check lands through the same window
    GraftTable.betweenStageAndCommitForTests = () => {
      GraftTable.betweenStageAndCommitForTests = () => ()
      GraftTable.addCheck(spark, path, "nonempty", "length(v) > 0"): Unit
    }
    try GraftTable.append(kv(5 -> "ok"), path)
    finally GraftTable.betweenStageAndCommitForTests = () => ()
    assert(GraftTable.read(spark, path).count() == 2)
    assert(GraftTable.currentManifest(path).get.checks.get.keySet == Set("pos_k", "nonempty"))
  }

  test("convertParquetDir: zero-row part files and space-named files convert") {
    val root = tmp()
    val full = s"$root/full"
    kv(1 -> "a", 2 -> "b").coalesce(1).write.parquet(full)
    val empty = s"$root/empty"
    kv().coalesce(1).write.parquet(empty)
    def partOf(d: String) = Option(new java.io.File(d).listFiles).get
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    val dir = s"$root/conv"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(partOf(full).toPath,
      new java.io.File(dir, "part with space.parquet").toPath)
    java.nio.file.Files.copy(partOf(empty).toPath,
      new java.io.File(dir, "zero rows.parquet").toPath)
    GraftTable.convertParquetDir(spark, dir, statsCols = Seq("k"))
    assert(canon(GraftTable.read(spark, dir)) == canon(kv(1 -> "a", 2 -> "b")))
    // both files registered; the zero-row one carries rows=0 and no stats,
    // the space-named one carries real stats (the URI decode matched it)
    val m = GraftTable.currentManifest(dir).get
    val entries = GraftTable.filesOf(dir, m).map(fe => fe.path -> fe).toMap
    assert(entries.keySet == Set("part with space.parquet", "zero rows.parquet"))
    assert(entries("zero rows.parquet").rows == 0L)
    assert(entries("part with space.parquet").rows == 2L)
    assert(entries("part with space.parquet").stats.contains("k"))
  }

  test("vacuum: age retention and consumer bookmarks extend the keep horizon") {
    val path = tmp() + "/t"
    (1 to 5).foreach(i => if (i == 1) GraftTable.overwrite(kv(i -> s"v$i"), path)
      else GraftTable.append(kv(i -> s"v$i"), path))
    // a generous retention age keeps everything despite keepVersions=1
    GraftTable.vacuum(path, keepVersions = 1, retainAgeUs = Some(Long.MaxValue / 2))
    assert(GraftTable.versions(path).map(_._1) == (1L to 5L))
    // a registered consumer at version 2 protects every later version
    GraftTable.registerConsumer(path, "replica-a", 2L) // sync_mark commit -> v6
    GraftTable.vacuum(path, keepVersions = 1)
    assert(GraftTable.versions(path).map(_._1) == (3L to 6L))
    // re-registration at the same version is a no-op commit-wise
    GraftTable.registerConsumer(path, "replica-a", 2L)
    assert(GraftTable.currentVersion(path).contains(6L))
    // the explicit decommission override drops the protected span; the
    // consumer then fails loudly at the horizon instead of silently skipping
    GraftTable.vacuum(path, keepVersions = 1, ignoreConsumers = true)
    assert(GraftTable.versions(path).map(_._1) == Seq(6L))
    val e = intercept[IllegalArgumentException](GraftTable.readVersion(spark, path, 5))
    assert(e.getMessage.contains("vacuumed"))
    // content of the head survives it all
    assert(GraftTable.read(spark, path).count() == 5)
  }

  test("mergeInto refuses unresolved SET columns instead of no-opping") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    val e = intercept[IllegalArgumentException] {
      GraftTable.mergeInto(spark, path, kv(1 -> "A"), Seq("k"),
        updateSet = Map("vv" -> GraftTable.srcCol("v")))
    }
    assert(e.getMessage.contains("vv"))
    // nothing committed
    assert(GraftTable.currentVersion(path).contains(1L))
  }

  test("stream appends keep the table's declared nullability (appendStream and toTable)") {
    val root = tmp()
    val stock = spark.newSession()
    stock.conf.set("spark.sql.catalog.gts", classOf[graft.catalog.GraftCatalog].getName)
    stock.conf.set("spark.sql.catalog.gts.warehouse", root)
    stock.sql("CREATE NAMESPACE IF NOT EXISTS gts.ns")
    // `extra` joins nullable through appendEvolve; the old row holds NULL
    def evolved(name: String): String = {
      val p = s"$root/ns/$name"
      GraftTable.overwrite(df("k INT, label STRING", Row(Int.box(1), "a")), p)
      GraftTable.appendEvolve(df("k INT, label STRING, extra INT",
        Row(Int.box(2), "b", Int.box(7))), p)
      p
    }
    // every column of the batch is NOT NULL
    val batch = spark.range(1)
      .selectExpr("cast(id+20 as int) k", "'s' label", "cast(5 as int) extra")
    def assertKept(p: String): Unit = {
      assert(GraftTable.currentManifest(p).get.schemaDdl == "k INT,label STRING,extra INT")
      assert(GraftTable.read(spark, p).filter("extra IS NULL").count() == 1L)
    }
    val api = evolved("api")
    assert(GraftTable.appendStream(batch, api, "s1", 0L) > 0L)
    assertKept(api)
    val sink = evolved("sink")
    GraftTable.overwrite(batch, s"$root/ns/src")
    val q = stock.readStream.table("gts.ns.src").writeStream
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("gts_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gts.ns.sink")
    q.awaitTermination(60000)
    assert(GraftTable.currentManifest(sink).get.op == "stream_append")
    assertKept(sink)
  }

  test("stream appends refuse a drop fence like append, and delete their staged files") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    val schema = GraftTable.read(spark, path).schema
    GraftTable.markDropped(path, "dropped")
    GraftTable.reclaimDropped(path)
    def refused(write: => Long): Unit = {
      val e = intercept[IllegalStateException](write)
      assert(e.getMessage.contains("append aborted"), e.getMessage)
    }
    refused(GraftTable.append(kv(2 -> "b"), path))
    refused(GraftTable.appendStream(kv(2 -> "b"), path, "s", 0L))
    // the v2 commits: one executor-written file each, deleted on refusal
    def written(): java.io.File = {
      val d = tmp() + "/w"
      kv(3 -> "c").coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles.find(_.getName.endsWith(".parquet")).get
    }
    val f1 = written()
    refused(GraftTable.commitWritten(spark, path, "stream_append", Seq(f1), schema,
      mark = Some("s" -> 0L)))
    val f2 = written()
    refused {
      new graft.sources.GraftStreamingWrite(path, "q:x", schema, Nil, Nil, spark)
        .commit(0L, Array(graft.sources.GraftWrittenFile(f2.getAbsolutePath)))
      0L
    }
    assert(!GraftTable.exists(path))
    assert(Option(new java.io.File(path, "data").listFiles).forall(_.isEmpty),
      "refused commits must not leave their staged files behind")
  }

}
