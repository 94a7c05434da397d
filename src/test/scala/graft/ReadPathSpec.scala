package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftTable
import graft.core.GraftTable.ColRange

/** One GraftTable read path: the Scala API, `format("graft")`, the
  * `graft_table` TVF and catalog names all plan the DSv2 `GraftBatch`
  * scan, and the DML paths position rows by its `_graft_file` /
  * `_graft_pos` metadata columns. Checked on one mixed layout holding
  * plain, renamed, widened, deletion-vectored, and renamed +
  * deletion-vectored files, against a driver-side model of the rows. */
class ReadPathSpec extends AnyFunSuite with SparkSpecBase {

  private val warehouse = java.nio.file.Files.createTempDirectory("graft_read_path").toString
  spark.conf.set("spark.sql.catalog.grp", classOf[graft.catalog.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.grp.warehouse", warehouse)
  graft.plans.GraftSql.install(spark)

  /** Model row: k -> (label, x, w). */
  private type Model = Map[Int, (String, Int, String)]

  private def rowsOf(m: Model): Seq[String] =
    m.toSeq.map { case (k, (l, x, w)) => Row(k, l, x, w).toString }.sorted

  private def frame(schema: String, rows: Seq[Row]): DataFrame = df(schema, rows: _*)

  /** The mixed layout, and the model of its live rows. Files:
    * F0..F3 (k 0..399) renamed v→label and widened by `w` (F0 also
    * dv'd), P1/P2 (k 400..499) widened only (P2 also dv'd), Q (500..599)
    * plain, S (600..699) plain and dv'd. */
  private def mixed(name: String): (String, Model) = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grp.ns")
    val p = s"$warehouse/ns/$name"
    def span(lo: Int, hi: Int, label: String, withW: Boolean): DataFrame =
      spark.range(lo, hi).selectExpr(Seq("cast(id AS INT) AS k", s"concat('v', id) AS $label",
        "cast(id * 3 AS INT) AS x") ++ (if (withW) Seq("concat('w', id) AS w") else Nil): _*)
        .coalesce(1)
    GraftTable.overwrite(span(0, 100, "v", withW = false), p, statsCols = Seq("k"))
    Seq(100, 200, 300).foreach(lo =>
      GraftTable.append(span(lo, lo + 100, "v", withW = false), p, statsCols = Seq("k")))
    GraftTable.setProperties(p, Map("graft.deletionVectors" -> "true"))
    GraftTable.renameColumn(p, "v", "label")
    GraftTable.append(span(400, 450, "label", withW = false), p, statsCols = Seq("k"))
    GraftTable.append(span(450, 500, "label", withW = false), p, statsCols = Seq("k"))
    GraftTable.addColumn(p, "w", "STRING")
    GraftTable.append(span(500, 600, "label", withW = true), p, statsCols = Seq("k"))
    GraftTable.append(span(600, 700, "label", withW = true), p, statsCols = Seq("k"))
    val dead = (k: Int) => k % 7 == 0 && (k < 100 || (k >= 450 && k < 500) || k >= 600)
    GraftTable.deleteWhereMor(spark, p, pmod(col("k"), lit(7)) === 0 &&
      (col("k") < 100 || (col("k") >= 450 && col("k") < 500) || col("k") >= 600))
    val model: Model = (0 until 700).filterNot(dead).map(k =>
      k -> (s"v$k", k * 3, if (k >= 500) s"w$k" else null)).toMap
    (p, model)
  }

  private def layoutKinds(p: String): Set[(Boolean, Boolean)] =
    GraftTable.filesOf(p, GraftTable.currentManifest(p).get)
      .map(fe => (fe.renames.exists(_.nonEmpty), fe.dv.isDefined)).toSet

  test("every read path returns the model's rows on a mixed layout") {
    val (p, model) = mixed("eq")
    assert(layoutKinds(p) == Set((false, false), (true, false), (false, true), (true, true)),
      "layout must hold plain, renamed, dv'd and renamed+dv'd files")
    val (lo, hi) = (40, 640)
    val inRange = col("k").between(lo, hi)
    val keys = (lo to hi).toSeq
    val expect = rowsOf(model.filter { case (k, _) => k >= lo && k <= hi })
    val v = GraftTable.currentVersion(p).get
    val reads: Seq[(String, DataFrame)] = Seq(
      "read" -> GraftTable.read(spark, p).filter(inRange),
      "readVersion" -> GraftTable.readVersion(spark, p, v).filter(inRange),
      "readPruned" -> GraftTable.readPruned(spark, p,
        Seq(ColRange("k", Some(lo), Some(hi)))).df.filter(inRange),
      "readPrunedIn" -> GraftTable.readPrunedIn(spark, p, "k", keys).df
        .filter(col("k").isin(keys: _*)),
      "format(graft)" -> spark.read.format("graft").load(p).filter(inRange),
      "graft_table" -> spark.sql(s"SELECT * FROM graft_table('$p') WHERE k BETWEEN $lo AND $hi"),
      "spark.table" -> spark.table("grp.ns.eq").filter(inRange))
    reads.foreach { case (name, q) =>
      assert(q.columns.toSeq == Seq("k", "label", "x", "w"), s"$name columns")
      assert(canon(q) == expect, s"$name diverges from the model")
    }
  }

  test("MOR delete, update and merge on the mixed layout match the model") {
    val (p, model0) = mixed("mor")
    var model = model0
    GraftTable.deleteWhereMor(spark, p, col("k") % 5 === 1)
    model = model.filterNot(_._1 % 5 == 1)
    assert(canon(GraftTable.read(spark, p)) == rowsOf(model), "after delete")
    GraftTable.updateWhereMor(spark, p, col("k") % 5 === 2,
      Map("x" -> (col("x") + 1), "label" -> upper(col("label"))))
    model = model.map { case (k, (l, x, w)) =>
      k -> (if (k % 5 == 2) (l.toUpperCase, x + 1, w) else (l, x, w)) }
    assert(canon(GraftTable.read(spark, p)) == rowsOf(model), "after update")
    // one source row per file kind, an insert, and a delete clause
    val src = frame("k INT, label STRING, x INT, w STRING, del BOOLEAN", Seq(
      Row(3, "m3", -3, "mw", false), Row(103, "m103", -1, null, false),
      Row(403, "m403", -4, null, true), Row(458, "m458", -5, null, false),
      Row(503, "m503", -6, "mw", true), Row(608, "m608", -7, null, false),
      Row(900, "new", 9, "nw", false)))
    GraftTable.mergeIntoMor(spark, p, src, Seq("k"),
      updateSet = Map("label" -> GraftTable.srcCol("label"), "x" -> GraftTable.srcCol("x"),
        "w" -> GraftTable.srcCol("w")),
      deleteWhen = Some(GraftTable.srcCol("del")), insertNotMatched = true)
    val srcRows = src.collect().map(r => r.getInt(0) -> r).toMap
    model = model.flatMap { case (k, v) =>
      srcRows.get(k) match {
        case Some(r) if r.getBoolean(4) => None
        case Some(r) => Some(k -> (r.getString(1), r.getInt(2), r.getString(3)))
        case None => Some(k -> v)
      }
    } ++ srcRows.collect { case (k, r) if !model.contains(k) && !r.getBoolean(4) =>
      k -> (r.getString(1), r.getInt(2), r.getString(3)) }
    assert(canon(GraftTable.read(spark, p)) == rowsOf(model), "after merge")
  }

  test("per-file row counts keyed by _graft_file equal the manifest's liveRows") {
    val (p, _) = mixed("counts")
    val m = GraftTable.currentManifest(p).get
    val want = GraftTable.filesOf(p, m).map(fe =>
      new org.apache.hadoop.fs.Path(new File(GraftTable.resolveData(p, fe)).toURI).toString ->
        fe.liveRows).filter(_._2 > 0).toMap
    val got = GraftTable.fileRowCounts(
      GraftTable.read(spark, p).select(col(graft.sources.GraftBatch.FileMetaCol)))
    assert(got == want)
  }

  test("a file subset's aggregates count the subset, not the table") {
    val (p, model) = mixed("subset")
    // F1 only: k 100..199, renamed, no vector
    val s = GraftTable.readPruned(spark, p, Seq(ColRange("k", Some(100), Some(199))))
    assert(s.filesRead == 1)
    val agg = () => s.df.agg(count(lit(1)), min("k"), max("k")).collect().head
    assert(agg() == Row(100L, 100, 199))
    assert(s.df.filter(col("k") < 150).agg(count(lit(1))).collect().head.getLong(0) == 50L)
    // Q only (k 500..599, plain): the scan's aggregate pushdown answers
    // from the subset's manifest entries, zero files read
    val q = GraftTable.readPruned(spark, p, Seq(ColRange("k", Some(500), Some(599))))
    val qAgg = q.df.agg(count(lit(1)), min("k"), max("k"))
    assert(plannedFiles(qAgg) == 0 && qAgg.collect().head == Row(100L, 500, 599))
    // the manifest folds of the optimizer rules read the subset too
    graft.plans.GraftPrune.install(spark)
    try {
      assert(agg() == Row(100L, 100, 199))
      assert(s.df.filter(col("k") < 150).agg(count(lit(1))).collect().head.getLong(0) == 50L)
      // k >= 500 classifies Q (and, outside the subset, S) fully inside
      val qc = q.df.filter(col("k") >= 500).agg(count(lit(1)))
      assert(plannedFiles(qc) == 0 && qc.collect().head.getLong(0) == 100L)
      val in = GraftTable.readPrunedIn(spark, p, "k", Seq(605, 612))
      assert(in.df.agg(count(lit(1))).collect().head.getLong(0) ==
        model.keys.count(k => k >= 600 && k < 700))
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[graft.plans.GraftPrune])
  }

  test("a COW rewrite stages one file per touched file across file kinds") {
    val (p, _) = mixed("cow")
    // touches F0 (renamed + dv), Q (plain) and S (dv) with one row each
    GraftTable.updateWhere(spark, p, col("k").isin(1, 501, 601), Map("x" -> lit(0)))
    val changes = GraftTable.currentManifest(p).get.changes.get
    assert(changes.removed.size == 3)
    assert(changes.added.size == 3, s"staged ${changes.added.size} files for 3 touched")
  }

  /** The library's Scala sources, read from the project root. */
  private def mainSources(): Seq[File] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    def sources(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    sources(root)
  }

  test("no second read path in src/main: no V1 relation, no hidden metadata struct") {
    val banned = """HadoopFsRelation\(|baseRelationToDataFrame|_metadata\.file_path|_metadata\.row_index""".r
    // GraftPrune's plain-parquet rule rewrites hand-built parquet scans of
    // a data dir: from its `def` to the end of its body
    def pruneRule(lines: Seq[String]): Range = {
      val start = lines.indexWhere(_.contains("private def prune("))
      if (start < 0) 0 until 0
      else start to lines.indexWhere(_.startsWith("  }"), start)
    }
    val hits = mainSources().flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val lines = text.split("\n", -1).toSeq
      val allowed = if (f.getName == "GraftPrune.scala") pruneRule(lines) else 0 until 0
      banned.findAllMatchIn(text).map(m => text.substring(0, m.start).count(_ == '\n'))
        .filterNot(allowed.contains)
        .map(i => s"${f.getPath}:${i + 1}: ${lines(i).trim}")
    }
    assert(hits.isEmpty, "GraftTable reads must plan the GraftBatch scan:\n" + hits.mkString("\n"))
  }

  test("one predicate translator in src/main: no Catalyst comparison pattern over " +
      "an attribute and a literal") {
    // stats consumers read sources.Filters (Spark's pushdown translator
    // makes them from Catalyst); a `case GreaterThan(a: AttributeReference,
    // l: Literal)`-style extractor is a second translator
    val banned = ("""\b(GreaterThan|GreaterThanOrEqual|LessThan|LessThanOrEqual|EqualTo)\(\s*""" +
      """(\w+\s*:\s*AttributeReference\s*,\s*(\w+\s*:\s*)?Literal\b""" +
      """|(\w+\s*:\s*)?Literal(\([^)]*\))?\s*,\s*\w+\s*:\s*AttributeReference)""").r
    val hits = mainSources().flatMap { f =>
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n", -1)
      lines.indices.filter(i => banned.findFirstIn(lines(i)).isDefined)
        .map(i => s"${f.getPath}:${i + 1}: ${lines(i).trim}")
    }
    assert(hits.isEmpty, "translate with ClassicBridge.translateFilter and compile " +
      "with GraftPrune.v1StatPred instead:\n" + hits.mkString("\n"))
  }
}
