package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.core.GraftTable
import graft.plans.GraftSql

/** The SQL time-travel surface: graft_table / graft_table_version /
  * graft_table_at resolve to the same snapshots as the Scala API, compose
  * with SQL joins, and refuse non-literal pins loudly. */
class GraftSqlSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  GraftSql.install(spark)

  private def tmp(): String =
    Files.createTempDirectory("graft_sqlspec").toString + "/t"

  test("graft_table_files describes the live layout from metadata alone") {
    val path = tmp()
    GraftTable.writeClustered(Seq.tabulate(40)(i => (i, s"v$i")).toDF("id", "v"),
      path, col("id"), numFiles = 4, statsCols = Seq("id"))
    val rows = spark.sql(
      s"SELECT file, n_rows, stats FROM graft_table_files('$path') ORDER BY file").collect()
    assert(rows.length == 4 && rows.map(_.getLong(1)).sum == 40)
    assert(rows.forall(_.getString(2).contains("id:[")), "per-column stats rendered")
    // version pin shows the historical layout
    GraftTable.append(Seq((99, "x")).toDF("id", "v"), path)
    assert(spark.sql(s"SELECT count(*) FROM graft_table_files('$path')").head.getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) FROM graft_table_files('$path', 1)").head.getLong(0) == 4)
  }

  test("graft_table_checks lists active constraints; drop removes the row") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, "a")).toDF("id", "v"), path)
    GraftTable.addCheck(spark, path, "pos_id", "id > 0")
    val rows = spark.sql(s"SELECT name, expr FROM graft_table_checks('$path')").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("pos_id", "id > 0")))
    GraftTable.dropCheck(path, "pos_id")
    assert(spark.sql(s"SELECT * FROM graft_table_checks('$path')").isEmpty)
  }

  test("graft_table_stats reports per-column coverage and tracks ANALYZE") {
    val path = tmp()
    // stats on k only, then a stats-free append: k covered 4/5, x 0/5
    GraftTable.writeClustered(Seq.tabulate(40)(i => (i, i * 2, s"v$i"))
      .toDF("k", "x", "v"), path, col("k"), numFiles = 4, statsCols = Seq("k"))
    GraftTable.append(Seq((99, 198, "a")).toDF("k", "x", "v"), path,
      statsCols = Seq("k"))
    def cov() = spark.sql(s"SELECT column, files_with_stats, files_with_bloom, " +
      s"files_total FROM graft_table_stats('$path')").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val before = cov()
    assert(before("k") == ((5L, 0L, 5L)) && before("x") == ((0L, 0L, 5L)))
    assert(before("v") == ((0L, 0L, 5L)))
    // the introspection drives the maintenance: ANALYZE closes the gap
    GraftTable.analyzeStats(spark, path, Seq("x"), bloomCols = Seq("k"))
    val after = cov()
    assert(after("x") == ((5L, 0L, 5L)) && after("k") == ((5L, 5L, 5L)))
  }

  test("graft_table_consumers reports bookmarks and lag against the head") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, "a")).toDF("k", "v"), path) // v1
    GraftTable.append(Seq((2, "b")).toDF("k", "v"), path) // v2
    GraftTable.registerConsumer(path, "replica_a", 1L) // registration commits v3
    GraftTable.append(Seq((3, "c")).toDF("k", "v"), path) // v4
    val rows = spark.sql(s"SELECT consumer, processed_version, head_version, " +
      s"lag_versions FROM graft_table_consumers('$path')").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq(("replica_a", 1L, 4L, 3L)))
    // advancing the bookmark shrinks the lag; no consumers → empty
    GraftTable.registerConsumer(path, "replica_a", 4L)
    assert(spark.sql(s"SELECT lag_versions FROM graft_table_consumers('$path')")
      .head.getLong(0) == 1L) // the registration itself advanced the head
  }

  test("TVF reads match the Scala API per version, by timestamp, and at head") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    GraftTable.append(Seq((3, "c")).toDF("id", "v"), path)
    GraftTable.upsertByKey(spark, path, Seq((2, "B")).toDF("id", "v"), Seq("id"))

    def viaSql(from: String): Seq[(Int, String)] =
      spark.sql(s"SELECT id, v FROM $from ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq

    assert(viaSql(s"graft_table('$path')") === Seq((1, "a"), (2, "B"), (3, "c")))
    assert(viaSql(s"graft_table_version('$path', 1)") === Seq((1, "a"), (2, "b")))
    assert(viaSql(s"graft_table_version('$path', 2)") === Seq((1, "a"), (2, "b"), (3, "c")))
    // timestamp pin: the instant of commit 2 (epoch-micros literal form),
    // and a far-future TIMESTAMP string resolving to head
    val ts2 = GraftTable.versions(path).find(_._1 == 2L).get._2
    assert(viaSql(s"graft_table_at('$path', $ts2)") === Seq((1, "a"), (2, "b"), (3, "c")))
    assert(viaSql(s"graft_table_at('$path', TIMESTAMP '2999-01-01 00:00:00')") ===
      Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("TVFs compose with SQL joins over ordinary relations") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "x"), path)
    Seq((1, "one"), (3, "three")).toDF("id", "name").createOrReplaceTempView("names")
    val out = spark.sql(
      s"""SELECT n.name, t.x FROM graft_table('$path') t
         |JOIN names n USING (id) ORDER BY n.name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(out === Seq(("one", 10.0), ("three", 30.0)))
  }

  test("graft_table_changes surfaces the version diff in SQL") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    GraftTable.upsertByKey(spark, path, Seq((2, "B"), (3, "c")).toDF("id", "v"), Seq("id"))
    val out = spark.sql(
      s"""SELECT id, v, change_type FROM graft_table_changes('$path', 1, 2, 'id')
         |ORDER BY id""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(out === Seq((2, "B", "update"), (3, "c", "insert")))
  }

  test("graft_table_changes_at pins the CDF span by timestamps") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"), path) // v1
    GraftTable.upsertByKey(spark, path, Seq((2, "B"), (3, "c")).toDF("id", "v"), Seq("id")) // v2
    GraftTable.deleteWhere(spark, path, col("id") === 1) // v3
    val ts = GraftTable.versions(path).map(t => t._1 -> t._2).toMap
    def span(f: String, t: String): Seq[(Int, String)] =
      spark.sql(s"""SELECT id, change_type FROM graft_table_changes_at('$path', $f, $t, 'id')
         |ORDER BY id, change_type""".stripMargin)
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    // each instant resolves to the last version at or before it — the
    // (v1, v2] span via timestamps equals the version form
    assert(span(s"${ts(1L)}", s"${ts(2L)}") === Seq((2, "update"), (3, "insert")))
    // the (v1, v3] span sees the later delete too
    assert(span(s"${ts(1L)}", s"${ts(3L)}") ===
      Seq((1, "delete"), (2, "update"), (3, "insert")))
    // a from-instant between commits rounds DOWN to the earlier version
    assert(span(s"${ts(1L) + 1}", s"${ts(2L)}") === Seq((2, "update"), (3, "insert")))
    // a far-future TIMESTAMP string end pins the head, matching the
    // reference's AT(TIMESTAMP) habit
    assert(span(s"${ts(2L)}", "TIMESTAMP '2999-01-01 00:00:00'") ===
      Seq((1, "delete")))
  }

  test("graft_table_history describes commits in SQL") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, "a")).toDF("id", "v"), path)
    GraftTable.append(Seq((2, "b")).toDF("id", "v"), path)
    val h = spark.sql(
      s"SELECT version, op, n_rows FROM graft_table_history('$path') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(h === Seq((1L, "overwrite", 1L), (2L, "append", 2L)))
  }

  test("TVF scans file-skip exactly like an API read — no rule install needed") {
    val path = tmp()
    GraftTable.writeClustered(
      Seq.tabulate(800)(i => (i, i % 7)).toDF("k", "grp"), path, col("k"), 8,
      statsCols = Seq("k"))
    // the TVF's plan reads through the GraftBatch scan, so the skip
    // happens at its split planning with NO GraftPrune install —
    // measure at the filesPlanned metric
    val q = spark.sql(s"SELECT k, grp FROM graft_table('$path') WHERE k BETWEEN 100 AND 150")
    assert(q.count() === 51L)
    val planned = plannedFiles(q)
    assert(planned <= 2, s"TVF scan must file-skip: planned $planned/8")
  }

  test("non-literal pins and missing versions refuse loudly") {
    val path = tmp()
    GraftTable.overwrite(Seq((1, "a")).toDF("id", "v"), path)
    val e1 = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_table_version('$path', id)").collect())
    assert(e1.getMessage.contains("literal") || e1.getMessage.contains("UNRESOLV"),
      s"unexpected: ${e1.getMessage}")
    val e2 = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_table_version('$path', 99)").collect())
    assert(e2.getMessage.contains("no version"), s"unexpected: ${e2.getMessage}")
  }
}
