package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftTable
import graft.core.GraftTable.{ColRange, srcCol}

/** Keyed commits over a DRIVER-LOCAL key frame (bounds on the driver,
  * a literal IN probe, kept rows by filter) commit exactly what the
  * same commits over the same rows read back from parquet (the join
  * path) commit: the same table, the same removed files, the same added
  * rows. And the Spark jobs each keyed or predicate commit may launch
  * on a clustered table. */
class KeyedCommitSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String = Files.createTempDirectory("graft_keyed").toString

  /** The same rows, but not driver-local: a parquet scan. */
  private def nonLocal(d: DataFrame): DataFrame = {
    val p = tmp() + "/rows"
    d.write.parquet(p)
    spark.read.parquet(p)
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { (p: Path) =>
      val t = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t): Unit else Files.copy(p, t): Unit
    }
  }

  /** A clustered 4-file table over `rows`, keyed for stats on `keys`. */
  private def table(rows: DataFrame, keys: Seq[String]): String = {
    val p = tmp() + "/t"
    GraftTable.writeClustered(rows, p, col(keys.head), numFiles = 4, statsCols = keys)
    p
  }

  /** Runs `op` on two copies of the table at `seed`: once handing it its
    * frames as they are, once read back from parquet. Both runs must end
    * with equal tables and commit equal change logs: the same removed
    * file paths and the same added rows. */
  private def bothPaths(seed: String)(op: (String, DataFrame => DataFrame) => Unit): Unit = {
    val (a, b) = (tmp() + "/local", tmp() + "/join")
    copyDir(seed, a)
    copyDir(seed, b)
    op(a, identity)
    op(b, nonLocal)
    def log(p: String) = {
      val m = GraftTable.currentManifest(p).get
      val c = m.changes.get
      (c.removed.map(_.path).toSet, canon(GraftTable.readFileSubset(spark, p, m, c.added)))
    }
    assert(canon(GraftTable.read(spark, a)) == canon(GraftTable.read(spark, b)))
    assert(log(a) == log(b))
  }

  private def kv(rows: (Integer, String)*): DataFrame =
    df("k INT, v STRING", rows.map(r => Row(r._1, r._2)): _*)

  private lazy val kvSeed: String =
    table(kv(((1 to 40).map(i => (Int.box(i), s"v$i")) :+ ((null: Integer) -> "nv")): _*), Seq("k"))

  private def abv(rows: (Integer, String, String)*): DataFrame =
    df("a INT, b STRING, v STRING", rows.map(r => Row(r._1, r._2, r._3)): _*)

  /** A two-column key with NULL components in both columns. */
  private lazy val abSeed: String = table(abv(
    ((1 to 20).flatMap(i => Seq((Int.box(i), "x", s"x$i"), (Int.box(i), "y", s"y$i"))) ++
      Seq((null, "x", "nx"), (Int.box(3), null, "3n"), (null, null, "nn"))): _*),
    Seq("a", "b"))

  test("driver-local frames of literal key types collect; parquet scans and doubles do not") {
    val local = kv(Int.box(1) -> "a", (null: Integer) -> "b")
    assert(GraftTable.localKeyTuples(local, Seq("k")).map(_.map(_.get(0)).toSet)
      .contains(Set(1, null)))
    assert(GraftTable.localKeyTuples(local.unionByName(kv(Int.box(2) -> "c")), Seq("k"))
      .map(_.size).contains(3))
    assert(GraftTable.localKeyTuples(spark.sql("SELECT * FROM VALUES (1, 'a') AS t(k, v)"),
      Seq("k")).isDefined)
    assert(GraftTable.localKeyTuples(nonLocal(local), Seq("k")).isEmpty)
    assert(GraftTable.localKeyTuples(df("x DOUBLE", Row(Double.box(1.0))), Seq("x")).isEmpty)
    assert(GraftTable.localKeyTuples(abv((Int.box(1), null, "v")), Seq("a", "b")).isDefined)
  }

  test("upsertByKey: same commit on both paths, NULL key and unmatched keys included") {
    bothPaths(kvSeed) { (p, f) =>
      GraftTable.upsertByKey(spark, p,
        f(kv(Int.box(3) -> "V3", (null: Integer) -> "NV", Int.box(77) -> "new")), Seq("k"), Seq("k"))
    }
    // keys that match no file: only the inserts stage
    bothPaths(kvSeed) { (p, f) =>
      GraftTable.upsertByKey(spark, p, f(kv(Int.box(500) -> "a", Int.box(501) -> "b")),
        Seq("k"), Seq("k"))
    }
  }

  test("deleteByKey: same commit on both paths; a key set matching no file touches none") {
    bothPaths(kvSeed) { (p, f) =>
      GraftTable.deleteByKey(spark, p, f(df("k INT", Row(Int.box(5)), Row(null))), Seq("k"))
    }
    bothPaths(kvSeed) { (p, f) =>
      GraftTable.deleteByKey(spark, p, f(df("k INT", Row(Int.box(900)))), Seq("k"))
      assert(GraftTable.currentManifest(p).get.changes.get.removed.isEmpty)
    }
  }

  test("applyChangeSet: same commit on both paths, the empty change set included") {
    bothPaths(kvSeed) { (p, f) =>
      GraftTable.applyChangeSet(spark, p, f(df("k INT", Row(Int.box(2)), Row(null))),
        f(kv(Int.box(30) -> "V30", Int.box(88) -> "new")), Seq("k"), Seq("k"))
    }
    bothPaths(kvSeed) { (p, f) =>
      GraftTable.applyChangeSet(spark, p, f(df("k INT")), f(kv()), Seq("k"), Seq("k"))
      assert(GraftTable.currentManifest(p).get.changes.get.added.isEmpty)
    }
  }

  test("mergeInto and mergeIntoMor: same commit on both paths") {
    val src = df("k INT, v STRING, op STRING",
      Row(Int.box(4), "x", "D"), Row(Int.box(5), "V5", "U"), Row(Int.box(6), "same", "X"),
      Row(null, "NV", "U"), Row(Int.box(90), "v90", "I"))
    def clauses(mor: Boolean)(p: String, f: DataFrame => DataFrame): Unit =
      if (mor) GraftTable.mergeIntoMor(spark, p, f(src), Seq("k"),
        updateSet = Map("v" -> srcCol("v")), updateWhen = Some(srcCol("op") === "U"),
        deleteWhen = Some(srcCol("op") === "D"))
      else GraftTable.mergeInto(spark, p, f(src), Seq("k"),
        updateSet = Map("v" -> srcCol("v")), updateWhen = Some(srcCol("op") === "U"),
        deleteWhen = Some(srcCol("op") === "D"), statsCols = Seq("k"))
    bothPaths(kvSeed)(clauses(mor = false))
    bothPaths(kvSeed)(clauses(mor = true))
  }

  test("a merge source with duplicate keys fails with the same message on both paths") {
    val dup = kv(Int.box(1) -> "a", Int.box(1) -> "b")
    for (merge <- Seq[(String, DataFrame) => Long](
      GraftTable.mergeInto(spark, _, _, Seq("k")),
      GraftTable.mergeIntoMor(spark, _, _, Seq("k")))) {
      val msgs = Seq(dup, nonLocal(dup)).map(s =>
        intercept[IllegalArgumentException](merge(kvSeed, s)).getMessage)
      assert(msgs.distinct.size == 1 && msgs.head.contains("duplicate keys"), msgs)
    }
  }

  test("a two-column key with NULL components: same commits on both paths") {
    val keys = Seq("a", "b")
    bothPaths(abSeed) { (p, f) =>
      GraftTable.upsertByKey(spark, p, f(abv((Int.box(2), "x", "X2"), (null, "x", "NX"),
        (Int.box(3), null, "3N"), (Int.box(2), null, "new"), (Int.box(50), "z", "new"))), keys)
    }
    bothPaths(abSeed) { (p, f) =>
      GraftTable.deleteByKey(spark, p,
        f(df("a INT, b STRING", Row(null, null), Row(Int.box(7), "y"), Row(Int.box(8), null))), keys)
    }
    bothPaths(abSeed) { (p, f) =>
      GraftTable.mergeInto(spark, p, f(abv((Int.box(4), "x", "X4"), (null, null, "NN"),
        (null, "y", "new"))), keys, updateSet = Map("v" -> srcCol("v")))
    }
  }

  test("a double key takes the join path and commits the same as its parquet twin") {
    val xv = (rows: Seq[(java.lang.Double, String)]) =>
      df("x DOUBLE, v STRING", rows.map(r => Row(r._1, r._2)): _*)
    val seed = table(xv((1 to 20).map(i => (Double.box(i / 2.0), s"v$i")) :+
      (Double.box(-0.0), "neg0")), Seq("x"))
    val delta = xv(Seq((Double.box(1.5), "U"), (Double.box(0.0), "zero"), (null, "n")))
    assert(GraftTable.localKeyTuples(delta, Seq("x")).isEmpty)
    bothPaths(seed)((p, f) => GraftTable.upsertByKey(spark, p, f(delta), Seq("x"), Seq("x")))
  }

  test("keyed and predicate commits on a clustered table stay within their job budgets") {
    val p = tmp() + "/t"
    // even keys 0..6398: an odd key is new
    val rows = spark.range(0, 3200).select((col("id") * 2).as("k"), concat(lit("v"), col("id")).as("v"))
    GraftTable.writeClustered(rows, p, col("k"), numFiles = 16, statsCols = Seq("k"))
    val kl = (ks: Seq[Long], v: String) =>
      df("k BIGINT, v STRING", ks.map(k => Row(Long.box(k), v)): _*)
    // 40 consecutive keys inside one clustered file, half of them new
    val delta = (lo: Long) => kl(lo until lo + 40, "u")
    val spent = Seq(
      ("upsertByKey", 2, () => GraftTable.upsertByKey(spark, p, delta(200), Seq("k"), Seq("k"))),
      ("applyChangeSet", 3, () => GraftTable.applyChangeSet(spark, p, kl(Seq(500L, 502L), ""),
        delta(400), Seq("k"), Seq("k"))),
      ("applyChangeSet (empty)", 1, () => GraftTable.applyChangeSet(spark, p, kl(Nil, ""),
        kl(Nil, ""), Seq("k"), Seq("k"))),
      ("deleteByKey", 2, () => GraftTable.deleteByKey(spark, p, delta(600), Seq("k"))),
      ("mergeInto", 5, () => GraftTable.mergeInto(spark, p, delta(800), Seq("k"),
        updateSet = Map("v" -> srcCol("v")), statsCols = Seq("k"))),
      ("deleteWhere", 2, () => GraftTable.deleteWhere(spark, p,
        col("k") >= 1000 && col("k") < 1040, Seq(ColRange("k", Some(1000L), Some(1039L)))))
    ).map { case (name, budget, op) => (name, budget, jobsDuring(op(): Unit)) }
    val over = spent.filter { case (_, budget, jobs) => jobs > budget }
    assert(over.isEmpty, over.map { case (name, budget, jobs) =>
      s"$name launched $jobs Spark jobs (budget $budget)" }.mkString("; "))
    assert(GraftTable.read(spark, p).count() == 3200 + 20 + (20 - 2) - 20 + 20 - 20)
  }
}
