package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.GraftTable
import graft.core.GraftTable.ColRange

/** `table_dml`: a seeded loop of small keyed changes on one GraftTable over
  * lineitem that carries `graft.deletionVectors=true`, so copy-on-write
  * and merge-on-read changes land on the same files. Each commit is
  * followed by reads of the changed keys through six read paths in turn,
  * and every round ends with maintenance. A driver-side model tracks every
  * changed row: each read must see the write before it, and at the end the
  * table must equal the model. */
object TableDml {
  val Sf = "sf0.01"
  /** Clustered files of the initial load. */
  val NumFiles = 16
  /** Orders one change touches (~40 rows, inside one clustered file). */
  val OrdersPerChange = 10
  /** `lk` = orderkey * KeyMul + row index within the order; row indexes
    * from FirstNewRow up are free for inserts. */
  val KeyMul = 64L
  val FirstNewRow = 50L
  val Ns = "bench"
  val Table = "lineitem"
  /** Every change kind, once per round; the `mor_` kinds mask rows with
    * deletion vectors where their copy-on-write namesakes rewrite files. */
  val Changes: Seq[String] = Seq("upsert", "delete", "update", "merge", "change_set",
    "change_set_empty", "mor_delete", "mor_update", "mor_merge")
  val Reads: Seq[String] = Seq("pruned_range", "bloom_point", "time_travel", "sql_tvf",
    "catalog_read", "meta_agg")
  /** Reads of the changed keys after each commit. */
  val ReadsPerCommit = 2
  private val StatsCols = Seq("lk")

  def configure(b: SparkSession.Builder, work: File): SparkSession.Builder =
    b.config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", new File(work, "warehouse").getPath)

  /** lineitem with a unique row key: (orderkey, line number) repeats in
    * the testdata, so rows are numbered within their order instead. */
  private def keyed(spark: SparkSession, sfDir: File): DataFrame = {
    val li = spark.read.parquet(new File(sfDir, "lineitem.parquet").getPath)
    val w = Window.partitionBy("l_orderkey").orderBy(li.columns.map(col).toSeq: _*)
    li.withColumn("lk", col("l_orderkey") * KeyMul + row_number().over(w) - 1)
  }

  /** The expected table: the load plus every change so far, by key. */
  private final class Model(val schema: StructType, val base: DataFrame, var count: Long,
      val minKey: Long, val maxKey: Long) {
    val lkIdx: Int = schema.fieldIndex("lk")
    private val loaded = mutable.TreeMap.from(base.collect().map(x => x.getLong(lkIdx) -> x))
    val over = mutable.HashMap.empty[Long, Option[Row]]
    def rows(lo: Long, hi: Long): Map[Long, Row] = {
      val o = over.filter { case (k, _) => k >= lo && k < hi }
      (loaded.range(lo, hi).toMap ++ o.collect { case (k, Some(x)) => k -> x }) --
        o.collect { case (k, None) => k }
    }
    def apply(before: Map[Long, Row], after: Map[Long, Row]): Unit = {
      count += after.size - before.size
      (before.keySet -- after.keySet).foreach(k => over(k) = None)
      after.foreach { case (k, x) => if (!before.get(k).contains(x)) over(k) = Some(x) }
    }
    def frame(spark: SparkSession): DataFrame =
      base.join(keyFrame(spark, over.keys.toSeq), Seq("lk"), "left_anti")
        .select(schema.fieldNames.toSeq.map(col): _*)
        .unionByName(spark.createDataFrame(
          java.util.List.of(over.values.flatten.toSeq: _*), schema))
  }

  /** A one-column `lk` frame of `ks`. */
  private def keyFrame(spark: SparkSession, ks: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.List.of(ks.map(k => Row(k)): _*),
      StructType(Seq(StructField("lk", LongType))))

  /** One keyed change: its expected effect on the rows of [lo, hi) and
    * the commit that makes it. */
  private final case class Change(kind: String, lo: Long, hi: Long, before: Map[Long, Row],
      after: Map[Long, Row], commit: String => Unit) {
    def changedRows: Int =
      (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
  }

  def run(r: Run, data: File): Outcome = {
    val spark = r.spark
    graft.plans.GraftSql.install(spark)
    val sfDir = new File(data, Sf)
    require(new File(sfDir, "lineitem.parquet").isFile, s"testdata scale $Sf not found under $data")

    // fixture: the keyed source, cached and staged as range-partitioned
    // parquet (which also compiles the load's write path); three times,
    // the median counts
    var base: DataFrame = null
    val fixture = (1 to 3).map { i =>
      if (base != null) base.unpersist(blocking = true)
      val t0 = System.nanoTime
      base = keyed(spark, sfDir).cache()
      base.repartitionByRange(NumFiles, col("lk")).write
        .parquet(new File(r.work, s"dml_fixture_$i").getPath)
      (System.nanoTime - t0) / 1e9
    }
    val b = base.agg(count(lit(1)), min("lk"), max("lk"), max(col("lk") % KeyMul),
      min("l_orderkey"), max("l_orderkey")).first()
    require(b.getLong(3) < FirstNewRow, s"an order holds ${b.getLong(3) + 1} rows")
    r.setupS = Stats.median(fixture)
    r.note(s"fixtures ${fixture.map(x => f"$x%.2f").mkString(" ")}")

    r.startLoop()
    val t = new Loop(r, new File(new File(new File(r.work, "warehouse"), Ns), Table).getPath,
      new Model(base.schema, base, b.getLong(0), b.getLong(1), b.getLong(2)),
      (b.getLong(4) + 100, b.getLong(5) - 100))
    t.load()
    do t.round() while (r.loopSeconds < r.seconds)
    r.note("rounds done")

    r.check("the table ends equal to the model")(
      Digest.of(GraftTable.read(spark, t.p)) == Digest.of(t.model.frame(spark)))
    val plain = new File(r.work, "dml_plain").getPath
    t.model.frame(spark).repartitionByRange(NumFiles, col("lk")).write.parquet(plain)
    val end = Walk(new File(t.p))
    val tableFiles = end.files.keys.filter(k => k.endsWith(".parquet") &&
      !k.startsWith("_graft_log/") && !k.startsWith("_dv/"))
    val layers = Units.zeroLayers ++ Map(
      "storage.files_planned" -> (if (t.pruned == 0) 0.0 else t.planned.toDouble / t.pruned),
      "storage.files_skipped_ratio" ->
        (if (t.total == 0) 0.0 else 1.0 - t.planned.toDouble / t.total),
      "storage.table_files" -> tableFiles.size.toDouble,
      "storage.dv_files" -> end.files.keys.count(_.startsWith("_dv/")).toDouble,
      "storage.manifest_kb" -> end.files.filter(_._1.startsWith("_graft_log/")).values
        .map(_._1).sum / 1024.0,
      "storage.empty_files_added" -> t.emptyFiles.toDouble,
      "read.after_write.p50_ms" -> Stats.median(r.ms("read"))) ++
      Reads.map(k => s"read.$k.p50_ms" -> Stats.median(r.msOf(s"read.$k"))) ++
      Units.commitKinds.map(k => s"commit.$k.p50_ms" -> Stats.median(r.msOf(s"commit.$k")))
    val timed = r.ops.filter(_.cls != "load").toSeq
    Outcome(Map(
      "load_s" -> Stats.median(r.ms("load")) / 1e3,
      "change_mean_ms" -> Stats.mean(r.ms("commit")),
      "read_mean_ms" -> Stats.mean(r.ms("read")),
      "ops_per_s" -> r.opsPerSecond,
      "write_amp" -> t.written / (t.changedRows * t.bytesPerRow),
      "space_amp" -> end.bytes.toDouble / Walk(new File(plain)).bytes),
      layers, timed, timed.size.toDouble)
  }

  /** The change loop over the table at `p`; changes pick orders in `orders`. */
  private final class Loop(r: Run, val p: String, val model: Model, orders: (Long, Long)) {
    private val spark = r.spark
    private val name = s"graft.$Ns.$Table"
    private var walk: Walk = _
    private var targetBytes = 1L
    var bytesPerRow = 0.0
    var written, changedRows, emptyFiles, planned, total = 0L
    var pruned = 0

    def load(): Unit = {
      r.op("load", "load") {
        GraftTable.writeClustered(model.base, p, col("lk"), NumFiles, statsCols = StatsCols)
        GraftTable.setProperties(p, Map("graft.deletionVectors" -> "true"))
      }(_ => None)
      walk = Walk(new File(p))
      val dataBytes = walk.files.filter(_._1.endsWith(".parquet")).values.map(_._1).sum
      bytesPerRow = dataBytes.toDouble / model.count
      // compaction packs files under half a loaded file: the small files
      // the changes leave, never the loaded ones
      targetBytes = math.max(1L, dataBytes / NumFiles / 2)
    }

    /** Every change kind once, in seeded order, then maintenance; each
      * commit is followed by reads of the keys it changed. */
    def round(): Unit = {
      // 11 commits x 2 reads = 22 reads: the six paths 3 or 4 times each,
      // the same multiset every round
      val reads = r.rng.shuffle(Seq.fill(4)(Reads).flatten.take(
        ReadsPerCommit * (Changes.size + 2))).iterator
      r.rng.shuffle(Changes).foreach { kind =>
        val c = change(r, spark, model, kind, orders._1, orders._2)
        commit(kind, c.commit)
        (1 to ReadsPerCommit).foreach(_ => readBack(reads.next(), c.lo, c.hi, c.after,
          model.count + c.after.size - c.before.size, c.before.keySet ++ c.after.keySet))
        changedRows += c.changedRows
        model(c.before, c.after)
      }
      Seq[String => Unit](GraftTable.purgeDeletes(spark, _, StatsCols): Unit,
        GraftTable.compactFiles(spark, _, targetBytes, StatsCols): Unit).foreach { m =>
        commit("maintenance", m)
        val o = orders._1 + r.rng.nextLong(orders._2 - orders._1)
        val (lo, hi) = (o * KeyMul, (o + OrdersPerChange) * KeyMul)
        val want = model.rows(lo, hi)
        (1 to ReadsPerCommit).foreach(_ =>
          readBack(reads.next(), lo, hi, want, model.count, Set.empty))
      }
    }

    private def commit(kind: String, body: String => Unit): Unit = {
      val before = if (kind == "change_set_empty") describe(spark, p) else Set.empty[(String, Long)]
      r.op(s"commit.$kind", "commit")(body(p))(_ => None)
      if (kind == "change_set_empty") emptyFiles += (describe(spark, p) -- before).count(_._2 == 0L)
      val w = Walk(new File(p))
      written += w.newBytes(walk)
      walk = w
    }

    // read the changed keys through `kind`; they must equal `want`
    private def readBack(kind: String, lo: Long, hi: Long, want: Map[Long, Row], wantCount: Long,
        touched: Set[Long]): Unit = {
      val range = col("lk") >= lo && col("lk") < hi
      def rowsMatch(got: Array[Row], keys: Option[Set[Long]]): Option[String] = {
        val exp = keys.fold(want)(ks => want.filter(kv => ks(kv._1)))
          .map { case (k, x) => k -> x.toSeq }
        val act = got.map(x => x.getLong(model.lkIdx) -> x.toSeq).toMap
        if (act.size == got.length && act == exp) None
        else Some(s"read.$kind [$lo, $hi): ${got.length} rows, want ${exp.size}")
      }
      def prunedRows(ps: => GraftTable.PrunedScan, filter: Column): Array[Row] = {
        val s = ps
        planned += s.filesRead; total += s.filesTotal; pruned += 1
        s.df.filter(filter).collect()
      }
      kind match {
        case "pruned_range" =>
          r.op(s"read.$kind", "read")(prunedRows(GraftTable.readPruned(spark, p,
            Seq(ColRange("lk", Some(lo), Some(hi - 1)))), range))(rowsMatch(_, None))
        case "bloom_point" =>
          val keys = r.rng.shuffle((touched ++ want.keySet).toSeq.sorted).take(20)
          r.op(s"read.$kind", "read")(prunedRows(GraftTable.readPrunedIn(spark, p, "lk", keys),
            col("lk").isin(keys: _*)))(rowsMatch(_, Some(keys.toSet)))
        case "time_travel" =>
          val v = GraftTable.currentVersion(p).get
          r.op(s"read.$kind", "read")(GraftTable.readVersion(spark, p, v).filter(range).collect())(
            rowsMatch(_, None))
        case "sql_tvf" =>
          r.op(s"read.$kind", "read")(spark.sql(
            s"SELECT * FROM graft_table('$p') WHERE lk >= $lo AND lk < $hi").collect())(
            rowsMatch(_, None))
        case "catalog_read" =>
          r.op(s"read.$kind", "read")(spark.table(name).filter(range).collect())(rowsMatch(_, None))
        case "meta_agg" =>
          r.op(s"read.$kind", "read")(
            spark.table(name).agg(count(lit(1)), min("lk"), max("lk")).first()) { x =>
            val got = (x.getLong(0), x.getLong(1), x.getLong(2))
            val exp = (wantCount, model.minKey, model.maxKey)
            if (got == exp) None else Some(s"read.meta_agg: got $got, want $exp")
          }
      }
    }
  }

  /** (file, live rows) of the table's current snapshot. */
  private def describe(spark: SparkSession, p: String): Set[(String, Long)] =
    GraftTable.describeFiles(spark, p).select("file", "n_rows").collect()
      .map(x => (x.getString(0), x.getLong(1))).toSet

  /** A seeded change of `kind` over a fresh range of orders. */
  private def change(r: Run, spark: SparkSession, m: Model, kind: String,
      loOrder: Long, hiOrder: Long): Change = {
    val o = loOrder + r.rng.nextLong(hiOrder - loOrder - OrdersPerChange)
    val (lo, hi) = (o * KeyMul, (o + OrdersPerChange) * KeyMul)
    val before = m.rows(lo, hi)
    val keys = before.keys.toSeq.sorted
    val s = m.schema
    def set(x: Row, kv: (String, Any)*): Row = {
      val a = x.toSeq.toArray
      kv.foreach { case (k, v) => a(s.fieldIndex(k)) = v }
      Row.fromSeq(a.toSeq)
    }
    def d(x: Row, c: String): Double = x.getDouble(s.fieldIndex(c))
    // new rows: copies of the first row of the range under free keys
    def fresh(first: Long, n: Int): Seq[Row] = keys.headOption.toSeq.flatMap { k0 =>
      val order = k0 / KeyMul
      (0 until n).map(j => order * KeyMul + first + j).filterNot(before.contains)
        .map(k => set(before(k0), "lk" -> k, "l_quantity" -> 99.0))
    }
    def df(rows: Seq[Row]): DataFrame = spark.createDataFrame(java.util.List.of(rows: _*), s)
    def byKey(rows: Seq[Row]): Map[Long, Row] = rows.map(x => x.getLong(m.lkIdx) -> x).toMap
    val inRange = col("lk") >= lo && col("lk") < hi
    val prune = Seq(ColRange("lk", Some(lo), Some(hi - 1)))
    kind match {
      case "upsert" =>
        val delta = keys.zipWithIndex.collect { case (k, i) if i % 2 == 0 =>
          set(before(k), "l_quantity" -> (d(before(k), "l_quantity") + 1.0)) } ++
          fresh(FirstNewRow, 3)
        Change(kind, lo, hi, before, before ++ byKey(delta),
          GraftTable.upsertByKey(spark, _, df(delta), Seq("lk"), StatsCols): Unit)
      case "delete" | "mor_delete" =>
        val pred = inRange && pmod(col("lk"), lit(3L)) === 0L
        Change(kind, lo, hi, before, before.filter(_._1 % 3 != 0),
          if (kind == "delete") GraftTable.deleteWhere(spark, _, pred, prune): Unit
          else GraftTable.deleteWhereMor(spark, _, pred, prune): Unit)
      case "update" | "mor_update" =>
        val pred = inRange && pmod(col("lk"), lit(2L)) === 1L
        val assign = Map("l_discount" -> (col("l_discount") + 0.01), "l_returnflag" -> lit("U"))
        val after = before.map { case (k, x) =>
          k -> (if (k % 2 == 1) set(x, "l_discount" -> (d(x, "l_discount") + 0.01),
            "l_returnflag" -> "U") else x) }
        Change(kind, lo, hi, before, after,
          if (kind == "update") GraftTable.updateWhere(spark, _, pred, assign, prune): Unit
          else GraftTable.updateWhereMor(spark, _, pred, assign, prune): Unit)
      case "merge" | "mor_merge" =>
        val upd = keys.zipWithIndex.collect { case (k, i) if i % 4 == 0 =>
          set(before(k), "l_tax" -> (d(before(k), "l_tax") + 0.01)) }
        val del = keys.zipWithIndex.collect { case (k, i) if i % 4 == 1 =>
          set(before(k), "l_linestatus" -> "X") }
        val ins = fresh(FirstNewRow + 6, 2)
        val setAll = s.fieldNames.filter(_ != "lk").map(c => c -> GraftTable.srcCol(c)).toMap
        val deleteWhen = Some(GraftTable.srcCol("l_linestatus") === "X")
        val src = df(upd ++ del ++ ins)
        Change(kind, lo, hi, before, before -- del.map(_.getLong(m.lkIdx)) ++ byKey(upd ++ ins),
          if (kind == "merge") GraftTable.mergeInto(spark, _, src, Seq("lk"), setAll, None,
            deleteWhen, insertNotMatched = true, statsCols = StatsCols): Unit
          else GraftTable.mergeIntoMor(spark, _, src, Seq("lk"), setAll, None, deleteWhen,
            insertNotMatched = true): Unit)
      case "change_set" =>
        val dels = keys.zipWithIndex.collect { case (k, i) if i % 5 == 0 => k }
        val ins = keys.zipWithIndex.collect { case (k, i) if i % 5 == 1 =>
          set(before(k), "l_quantity" -> (d(before(k), "l_quantity") + 2.0)) } ++
          fresh(FirstNewRow + 10, 2)
        Change(kind, lo, hi, before, before -- dels ++ byKey(ins),
          GraftTable.applyChangeSet(spark, _, keyFrame(spark, dels), df(ins), Seq("lk"),
            StatsCols): Unit)
      case "change_set_empty" =>
        // kept on purpose: applyChangeSet commits a zero-row file for an
        // empty change set today, and storage.empty_files_added shows it
        Change(kind, lo, hi, before, before,
          GraftTable.applyChangeSet(spark, _, keyFrame(spark, Nil), df(Nil), Seq("lk"),
            StatsCols): Unit)
    }
  }
}
