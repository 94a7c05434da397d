package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.core.GraftTable
import graft.catalog.GraftCatalog
import graft.plans.GraftSql

/** The named-table catalog: namespaces map to warehouse directories,
  * tables resolve through [[GraftCatalog]], reads/writes/DDL/DML and
  * grammar-native time travel all land on the same GraftTable operators
  * as the path-addressed surface. The session here has NO extensions
  * (the catalog conf is dynamic; the parser/rule are static), so these
  * tests cover the fallback paths — the extension fast path is pinned
  * by the rule-application test below and end-to-end in PlanAudit's
  * extension-built JVM. */
class GraftCatalogSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private val warehouse = Files.createTempDirectory("graft_catspec").toString

  spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

  private def kv(rows: (Int, String)*) = rows.toSeq.toDF("k", "v")

  test("namespace DDL: create, list, describe, drop") {
    spark.sql("CREATE NAMESPACE graft.ns_a")
    spark.sql("CREATE NAMESPACE graft.ns_b")
    val names = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
    assert(Set("ns_a", "ns_b").subsetOf(names))
    // namespaces are not tables and vice versa
    assert(spark.sql("SHOW TABLES IN graft.ns_a").isEmpty)
    spark.sql("DROP NAMESPACE graft.ns_b")
    val after = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
    assert(!after.contains("ns_b"))
    // dropping a non-empty namespace without CASCADE refuses
    spark.sql("CREATE NAMESPACE graft.ns_c")
    spark.sql("CREATE TABLE graft.ns_c.t (k INT, v STRING)")
    intercept[Exception](spark.sql("DROP NAMESPACE graft.ns_c"))
    spark.sql("DROP NAMESPACE graft.ns_c CASCADE")
    assert(!new java.io.File(s"$warehouse/ns_c").exists)
  }

  test("CREATE TABLE + INSERT + SELECT round trip through names") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dwh")
    spark.sql("CREATE TABLE graft.dwh.kv (k INT, v STRING) TBLPROPERTIES ('team'='core')")
    // the empty table reads as zero rows under the declared schema
    assert(spark.table("graft.dwh.kv").isEmpty)
    // DDL landed as a real GraftTable at the mapped directory
    val path = s"$warehouse/dwh/kv"
    assert(GraftTable.exists(path))
    assert(GraftTable.propertiesOf(path) == Map("team" -> "core"))
    spark.sql("INSERT INTO graft.dwh.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.dwh.kv VALUES (3, 'c')")
    assert(canon(spark.table("graft.dwh.kv")) == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // named and path reads see the same snapshot
    assert(canon(GraftTable.read(spark, path)) == canon(spark.table("graft.dwh.kv")))
    // INSERT OVERWRITE truncates then writes
    spark.sql("INSERT OVERWRITE graft.dwh.kv VALUES (9, 'z')")
    assert(canon(spark.table("graft.dwh.kv")) == canon(kv(9 -> "z")))
    assert(spark.sql("SHOW TABLES IN graft.dwh").collect().map(_.getString(1)).toSet == Set("kv"))
  }

  test("grammar-native VERSION AS OF / TIMESTAMP AS OF") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    val path = s"$warehouse/tt/orders"
    GraftTable.overwrite(kv(1 -> "a"), path)
    val tsAfterV1 = java.time.Instant.now.plusSeconds(1)
    Thread.sleep(1100)
    GraftTable.append(kv(2 -> "b"), path)
    assert(canon(spark.sql("SELECT * FROM graft.tt.orders VERSION AS OF 1")) ==
      canon(kv(1 -> "a")))
    assert(canon(spark.sql("SELECT * FROM graft.tt.orders VERSION AS OF 2")) ==
      canon(kv(1 -> "a", 2 -> "b")))
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      .format(tsAfterV1)
    assert(canon(spark.sql(s"SELECT * FROM graft.tt.orders TIMESTAMP AS OF '$lit'")) ==
      canon(kv(1 -> "a")))
    // a pinned snapshot refuses writes
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.tt.orders VERSION AS OF 1 VALUES (7, 'x')"))
    assert(e.getMessage != null)
  }

  test("the /abs/path identifier bridges path-addressed tables into plain SQL") {
    val path = Files.createTempDirectory("graft_catpath").toString + "/t"
    GraftTable.overwrite(kv(5 -> "e"), path)
    GraftTable.append(kv(6 -> "f"), path)
    assert(canon(spark.sql(s"SELECT * FROM graft.`$path`")) == canon(kv(5 -> "e", 6 -> "f")))
    assert(canon(spark.sql(s"SELECT * FROM graft.`$path` VERSION AS OF 1")) ==
      canon(kv(5 -> "e")))
  }

  test("native DELETE routes through SupportsDelete; MOR under the property") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    val path = s"$warehouse/del/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b", 3 -> "c"), path)
    spark.sql("DELETE FROM graft.del.t WHERE k = 2")
    assert(canon(spark.table("graft.del.t")) == canon(kv(1 -> "a", 3 -> "c")))
    // with deletion vectors enabled the same statement goes merge-on-read
    GraftTable.setProperties(path, Map("graft.deletionVectors" -> "true"))
    spark.sql("DELETE FROM graft.del.t WHERE k = 3")
    assert(canon(spark.table("graft.del.t")) == canon(kv(1 -> "a")))
    val m = GraftTable.currentManifest(path).get
    assert(m.op == "delete_mor", s"expected a MOR delete commit, got '${m.op}'")
  }

  test("named DML through GraftSql.dml: UPDATE and MERGE INTO") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    val path = s"$warehouse/dml/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    GraftSql.dml(spark, "UPDATE graft.dml.t SET v = 'B' WHERE k = 2")
    assert(canon(GraftTable.read(spark, path)) == canon(kv(1 -> "a", 2 -> "B")))
    kv(2 -> "bb", 3 -> "cc").createOrReplaceTempView("cat_merge_src")
    GraftSql.dml(spark, """
      MERGE INTO graft.dml.t AS t USING cat_merge_src AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(canon(GraftTable.read(spark, path)) == canon(kv(1 -> "a", 2 -> "bb", 3 -> "cc")))
  }

  test("ALTER TABLE through the catalog: columns and properties") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.alt")
    spark.sql("CREATE TABLE graft.alt.t (k INT, v STRING)")
    spark.sql("INSERT INTO graft.alt.t VALUES (1, 'a')")
    spark.sql("ALTER TABLE graft.alt.t ADD COLUMNS (n INT)")
    assert(spark.table("graft.alt.t").columns.toSeq == Seq("k", "v", "n"))
    assert(spark.table("graft.alt.t").select("n").head.isNullAt(0))
    spark.sql("ALTER TABLE graft.alt.t RENAME COLUMN v TO label")
    assert(spark.table("graft.alt.t").columns.toSeq == Seq("k", "label", "n"))
    spark.sql("ALTER TABLE graft.alt.t DROP COLUMN n")
    assert(spark.table("graft.alt.t").columns.toSeq == Seq("k", "label"))
    spark.sql("ALTER TABLE graft.alt.t SET TBLPROPERTIES ('x'='1')")
    assert(GraftTable.propertiesOf(s"$warehouse/alt/t").get("x").contains("1"))
    spark.sql("ALTER TABLE graft.alt.t UNSET TBLPROPERTIES ('x')")
    assert(!GraftTable.propertiesOf(s"$warehouse/alt/t").contains("x"))
  }

  test("DROP TABLE and ALTER TABLE RENAME move the directory") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv")
    spark.sql("CREATE TABLE graft.mv.a (k INT, v STRING)")
    spark.sql("INSERT INTO graft.mv.a VALUES (1, 'a')")
    // the RENAME TO target is catalog-relative (same convention as Iceberg)
    spark.sql("ALTER TABLE graft.mv.a RENAME TO mv.b")
    assert(!GraftTable.exists(s"$warehouse/mv/a"))
    assert(canon(spark.table("graft.mv.b")) == canon(kv(1 -> "a")))
    spark.sql("DROP TABLE graft.mv.b")
    // the tree is reclaimed; only the racing-committer fence (tombstone)
    // may remain, and it is invisible to every surface
    assert(!GraftTable.exists(s"$warehouse/mv/b"))
    assert(!new java.io.File(s"$warehouse/mv/b/data").exists)
    intercept[Exception](spark.table("graft.mv.b").collect())
    assert(!spark.sql("SHOW TABLES IN graft.mv").collect()
      .map(_.getString(1)).contains("b"))
  }

  test("CTAS through the catalog materializes the query") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    kv(1 -> "a", 2 -> "b", 3 -> "c").createOrReplaceTempView("cat_ctas_src")
    spark.sql("CREATE TABLE graft.ctas.t AS SELECT * FROM cat_ctas_src WHERE k < 3")
    assert(canon(spark.table("graft.ctas.t")) == canon(kv(1 -> "a", 2 -> "b")))
  }

  test("named-scan estimateStatistics reports manifest-true size and live rows") {
    // Spark 4.1's V1ScanWrapper does not forward scan statistics, so
    // non-extension auto-broadcast can't be pinned here (PlanAudit pins
    // it in the extension JVM, where the scan rule swaps in the
    // manifest FileIndex) — but the interface must answer exactly for
    // direct v2 consumers
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bc")
    val path = s"$warehouse/bc/dim"
    GraftTable.overwrite(spark.range(0, 50).selectExpr(
      "id AS k", "concat('d', id) AS name"), path)
    val cat = new GraftCatalog
    cat.initialize("graft", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", warehouse)))
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("bc"), "dim")).asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val scan = t.newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty)
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    val st = scan.estimateStatistics()
    val expectBytes = GraftTable.filesOf(path, GraftTable.currentManifest(path).get)
      .map(_.bytes).sum
    assert(st.numRows.getAsLong == 50L)
    assert(st.sizeInBytes.getAsLong == expectBytes && expectBytes > 0)
  }

  test("grammar-native TRUNCATE TABLE on a named table is one metadata commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tr")
    val path = s"$warehouse/tr/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    val vPre = GraftTable.currentVersion(path).get
    spark.sql("TRUNCATE TABLE graft.tr.t")
    assert(spark.table("graft.tr.t").isEmpty)
    // metadata-only: one version, old snapshot still time-travels
    assert(GraftTable.currentVersion(path).get == vPre + 1)
    assert(canon(spark.sql(s"SELECT * FROM graft.tr.t VERSION AS OF $vPre")) ==
      canon(kv(1 -> "a", 2 -> "b")))
  }

  test("CTAS is ATOMIC: a failing query leaves no table, no staged debris") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    // the stage-commit protocol is active (catalog implements staging)
    kv(1 -> "a").createOrReplaceTempView("cat_atomic_src")
    val boom = org.apache.spark.sql.functions.udf((k: Int) =>
      if (k > 0) throw new RuntimeException("ctas boom") else k)
    spark.udf.register("cat_ctas_boom", boom)
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ctas.broken AS SELECT cat_ctas_boom(k) AS k, v FROM cat_atomic_src"))
    // no half-written table, and the hidden staged dir was aborted away
    assert(!spark.catalog.tableExists("graft.ctas.broken"))
    assert(!new java.io.File(s"$warehouse/ctas").list().exists(_.contains("__stage")))
  }

  test("REPLACE TABLE AS SELECT preserves identity: history, time travel, one commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    val path = s"$warehouse/ctas/r"
    kv(1 -> "a", 2 -> "b").createOrReplaceTempView("cat_rtas_v1")
    kv(7 -> "x").createOrReplaceTempView("cat_rtas_v2")
    spark.sql("CREATE TABLE graft.ctas.r AS SELECT * FROM cat_rtas_v1")
    val vBefore = GraftTable.currentVersion(path).get
    spark.sql("REPLACE TABLE graft.ctas.r AS SELECT * FROM cat_rtas_v2")
    // one commit on the SAME chain; the old snapshot still time-travels
    assert(GraftTable.currentVersion(path).get == vBefore + 1)
    assert(canon(spark.table("graft.ctas.r")) == canon(kv(7 -> "x")))
    assert(canon(spark.sql(s"SELECT * FROM graft.ctas.r VERSION AS OF $vBefore")) ==
      canon(kv(1 -> "a", 2 -> "b")))
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates it
    intercept[Exception](spark.sql(
      "REPLACE TABLE graft.ctas.missing AS SELECT * FROM cat_rtas_v2"))
    spark.sql("CREATE OR REPLACE TABLE graft.ctas.fresh AS SELECT * FROM cat_rtas_v2")
    assert(canon(spark.table("graft.ctas.fresh")) == canon(kv(7 -> "x")))
    // nothing staged left behind
    assert(!new java.io.File(s"$warehouse/ctas").list().exists(_.contains("__stage")))
  }

  test("named reads plan a REAL DSv2 Batch: vectorized, file-pruned, stats-true — no extensions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.fast")
    val path = s"$warehouse/fast/t"
    GraftTable.writeClustered(Seq.tabulate(40)(i => (i, s"v$i")).toDF("k", "v"),
      path, col("k"), numFiles = 4, statsCols = Seq("k"))
    val sliced = spark.table("graft.fast.t").filter(col("k") < 10)
    // this STOCK session (no extensions) must plan a v2 BatchScan —
    // never the retired V1 row fallback, never an analysis-rule swap
    sliced.collect()
    val planStr = sliced.queryExecution.executedPlan.toString
    assert(planStr.contains("BatchScan"), s"expected BatchScan in:\n$planStr")
    assert(!planStr.contains("RowDataSourceScan"), s"V1 row scan leaked into:\n$planStr")
    // pushed filters prune files through the manifest stats at split
    // planning: k<10 on a 4-file clustered layout keeps 1 file
    val scans = sliced.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val planned = scans.flatMap(_.inputRDD.partitions).length
    assert(planned >= 1)
    val keptFiles = scans.map(_.scan).collect {
      case s: graft.catalog.GraftNamedScan =>
        s.toBatch.asInstanceOf[graft.sources.GraftBatch].kept.length
    }.sum
    // range-partitioner boundaries are approximate — require a strict
    // prune, not an exact file count
    assert(keptFiles < 4 && keptFiles >= 1,
      s"stats prune should skip files, kept $keptFiles/4")
    assert(canon(sliced) == canon(Seq.tabulate(10)(i => (i, s"v$i")).toDF("k", "v")))
    // manifest-true statistics flow through the v2 scan (no V1ScanWrapper
    // to drop them): a small named dim auto-broadcasts in a plain join
    val fact = spark.range(0, 1000).selectExpr("cast(id % 40 as int) AS k", "id AS x")
    val joined = fact.join(spark.table("graft.fast.t"), "k")
    assert(joined.count() == 1000)
    val joinPlan = joined.queryExecution.executedPlan.toString
    assert(joinPlan.contains("BroadcastHashJoin"),
      s"small named dim should auto-broadcast:\n$joinPlan")
    // no analysis rule swaps the named read: the analyzed plan's leaf is
    // the v2 relation over the named table itself
    val analyzed = sliced.queryExecution.analyzed
    assert(analyzed.collectLeaves().exists {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.isInstanceOf[graft.catalog.GraftNamedTable]
      case _ => false
    }, analyzed.treeString)
  }

  test("readStream.table streams a named table with exactly-once batches") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    val path = s"$warehouse/strm/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    GraftTable.append(kv(2 -> "b"), path)
    val ckpt = Files.createTempDirectory("graft_cat_ckpt").toString
    val outPath = Files.createTempDirectory("graft_cat_out").toString + "/sink"
    val q = spark.readStream.table("graft.strm.t")
      .writeStream.format("graft").option("path", outPath)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(canon(GraftTable.read(spark, outPath)) == canon(kv(1 -> "a", 2 -> "b")))
  }

  test("writeStream.toTable appends through the distributed V2 sink, exactly once") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.strm")
    val srcPath = s"$warehouse/strm/src2"
    GraftTable.overwrite(kv(1 -> "a"), srcPath)
    GraftTable.append(kv(2 -> "b"), srcPath)
    val ckpt = Files.createTempDirectory("graft_cat_ckpt2").toString
    // the sink table does not exist yet: toTable creates it through the
    // catalog from the query schema
    val q = spark.readStream.table("graft.strm.src2")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.strm.sink2")
    q.awaitTermination(60000)
    assert(canon(spark.table("graft.strm.sink2")) == canon(kv(1 -> "a", 2 -> "b")))
    val sinkPath = s"$warehouse/strm/sink2"
    // the commits are stream-marked appends (the exactly-once channel),
    // and no zero-row files were staged
    val m = GraftTable.currentManifest(sinkPath).get
    assert(m.streamMarks.exists(_.keys.exists(_.startsWith("q:"))),
      s"expected a q:<queryId> stream mark, got ${m.streamMarks}")
    assert(GraftTable.filesOf(sinkPath, m).forall(_.rows > 0))
    // restart with more source data: only the delta lands (no replay
    // double-append — HWM + checkpoint agree across restarts)
    GraftTable.append(kv(3 -> "c"), srcPath)
    val q2 = spark.readStream.table("graft.strm.src2")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.strm.sink2")
    q2.awaitTermination(60000)
    assert(canon(spark.table("graft.strm.sink2")) ==
      canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // a replayed epoch commits nothing: re-commit batch 0 by hand
    val before = GraftTable.currentManifest(sinkPath).get.version
    val sid = GraftTable.currentManifest(sinkPath).get.streamMarks.get
      .keys.find(_.startsWith("q:")).get
    assert(GraftTable.commitWritten(spark, sinkPath, "stream_append", Nil,
      spark.table("graft.strm.sink2").schema, mark = Some(sid -> 0L)) == -1L)
    assert(GraftTable.currentManifest(sinkPath).get.version == before)
  }

  test("maintenance dialect and TVFs address catalog tables by NAME") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mnt")
    val path = s"$warehouse/mnt/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    GraftTable.append(kv(2 -> "b"), path)
    GraftTable.append(kv(3 -> "c"), path)
    // OPTIMIZE by name bin-packs the three commits' files
    GraftSql.dml(spark, "OPTIMIZE graft.mnt.t")
    assert(GraftTable.currentManifest(path).get.op == "compact")
    // ANALYZE by name backfills bloom filters
    GraftSql.dml(spark, "ANALYZE graft.mnt.t COMPUTE BLOOM FOR COLUMNS (v)")
    // RESTORE by name rolls back to the 2-row snapshot
    GraftSql.dml(spark, "RESTORE TABLE graft.mnt.t TO VERSION AS OF 2")
    assert(canon(spark.table("graft.mnt.t")) == canon(kv(1 -> "a", 2 -> "b")))
    // CLONE by name lands the copy at the mapped directory
    GraftSql.dml(spark, "CREATE TABLE graft.mnt.t2 SHALLOW CLONE graft.mnt.t")
    assert(canon(spark.table("graft.mnt.t2")) == canon(kv(1 -> "a", 2 -> "b")))
    // VACUUM by name (age-unbounded keeps the 2-version contract)
    GraftSql.dml(spark, "VACUUM graft.mnt.t")
    // REORG by name purges deletion vectors (compact first so the
    // delete masks part of a file — a fully-covered file just drops)
    GraftSql.dml(spark, "OPTIMIZE graft.mnt.t")
    GraftTable.setProperties(path, Map("graft.deletionVectors" -> "true"))
    GraftSql.dml(spark, "DELETE FROM graft.mnt.t WHERE k = 2")
    assert(GraftSql.dml(spark, "REORG TABLE graft.mnt.t APPLY (PURGE)") == 1L)
    assert(canon(spark.table("graft.mnt.t")) == canon(kv(1 -> "a")))
    // REPLACE WHERE and TRUNCATE take catalog names too
    spark.sql("SELECT 9 AS k, 'r' AS v").createOrReplaceTempView("mnt_rw")
    GraftSql.dml(spark,
      "INSERT INTO graft.mnt.t2 REPLACE WHERE k >= 2 SELECT k, v FROM mnt_rw")
    assert(canon(spark.table("graft.mnt.t2")) == canon(kv(1 -> "a", 9 -> "r")))
    GraftSql.dml(spark, "TRUNCATE TABLE graft.mnt.t2")
    assert(spark.table("graft.mnt.t2").count() == 0)
    assert(GraftTable.currentManifest(s"$warehouse/mnt/t2").get.op == "truncate")
    // TVFs take the same names (bare or graft.-prefixed), path form still works
    GraftSql.install(spark)
    assert(spark.sql("SELECT * FROM graft_table_history('mnt.t')").count() ==
      spark.sql(s"SELECT * FROM graft_table_history('$path')").count())
    assert(canon(spark.sql("SELECT k, v FROM graft_table_version('graft.mnt.t2', 1)")) ==
      canon(kv(1 -> "a", 2 -> "b")))
    // a named target with no warehouse conf fails loudly
    val bare = spark.newSession()
    val e = intercept[IllegalArgumentException](
      GraftSql.dml(bare, "OPTIMIZE graft.mnt.t"))
    assert(e.getMessage.contains("warehouse"))
  }

  test(".changes data-predicate pruning: keyed CDF reads skip clean changed files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cdpd")
    val path = s"$warehouse/cdpd/t"
    // four appended files with disjoint key ranges → a keyed filter can
    // prove three of them clean from per-file stats
    (0 until 4).foreach { i =>
      GraftTable.append(spark.range(i * 100L, (i + 1) * 100L)
        .selectExpr("id AS k", "concat('v', id) AS v").coalesce(1), path,
        statsCols = Seq("k"))
    }
    def partsOf(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def find(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
        case o => o.children.map(find).foldLeft(0)(math.max)
      }
      find(df.queryExecution.executedPlan)
    }
    val full = spark.read.table("graft.cdpd.t.changes")
    assert(partsOf(full) == 4, "span total is one partition per changed file")
    val keyed = spark.read.table("graft.cdpd.t.changes").filter(col("k") === 250)
    assert(partsOf(keyed) == 1, "a keyed CDF read must skip provably-clean files")
    assert(canon(keyed.select("k", "v", "_change_type")) ==
      canon(Seq((250L, "v250", "insert")).toDF("k", "v", "_change_type")))
    // pruning composes with the version-axis pushdown and never drops a
    // matching row: a rewrite makes delete+insert rows for k=150 only
    GraftTable.upsertByKey(spark,
      path, spark.range(150, 151).selectExpr("id AS k", "'X' AS v"), Seq("k"))
    val afterRewrite = spark.read.table("graft.cdpd.t.changes")
      .filter(col("k") === 150)
    assert(canon(afterRewrite.select("k", "v", "_change_type")) ==
      canon(Seq((150L, "v150", "insert"), (150L, "v150", "delete"),
        (150L, "X", "insert")).toDF("k", "v", "_change_type")))
  }

  test("the .changes metadata child table: batch spans, streaming parity, loud errors") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cdf")
    val path = s"$warehouse/cdf/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)            // v1
    GraftTable.append(kv(3 -> "c"), path)                         // v2
    GraftTable.upsertByKey(spark, path, kv(2 -> "B"), Seq("k"))   // v3 rewrite
    GraftTable.deleteByKey(spark, path, Seq(1).toDF("k"), Seq("k")) // v4
    val feed = spark.read.table("graft.cdf.t.changes")
    assert(feed.columns.toSeq ==
      Seq("k", "v", "_change_type", "_commit_version"))
    // folding the full feed reproduces the named head read
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k")).orderBy(col("_commit_version").desc,
      when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val folded = feed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("_change_type") === "insert")
      .select("k", "v")
    assert(canon(folded) == canon(spark.table("graft.cdf.t")))
    // a span: only v2's append
    val span = spark.read.option("startingVersion", 2).option("endingVersion", 2)
      .table("graft.cdf.t.changes")
    assert(canon(span.select("k", "v", "_change_type")) ==
      canon(Seq((3, "c", "insert")).toDF("k", "v", "_change_type")))
    // streaming through the child table == the path-addressed CDF stream
    val ckpt = Files.createTempDirectory("graft_cdf_named_ck").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.table("graft.cdf.t.changes").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.collect().map(_.toString): Unit
      }.start()
    q.awaitTermination()
    val ckpt2 = Files.createTempDirectory("graft_cdf_path_ck").toString
    val exp = scala.collection.mutable.ArrayBuffer.empty[String]
    val q2 = spark.readStream.format("graft").option("readChangeFeed", "true")
      .load(path).writeStream
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        exp ++= b.collect().map(_.toString): Unit
      }.start()
    q2.awaitTermination()
    assert(got.sorted == exp.sorted)
    // errors: empty span refuses; .changes of a non-table stays missing
    intercept[Exception](spark.read.option("startingVersion", 9)
      .option("endingVersion", 3).table("graft.cdf.t.changes").collect())
    intercept[Exception](spark.table("graft.cdf.missing.changes").collect())
  }

  test(".changes column pruning: only requested columns decode; span options validate loudly") {
    import graft.core.GraftTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cdfp")
    val path = s"$warehouse/cdfp/t"
    GraftTable.overwrite(Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("k", "v", "x"), path)
    GraftTable.append(Seq((3, "c", 30.0)).toDF("k", "v", "x"), path)
    GraftTable.deleteWhere(spark, path, col("k") === 1)
    val full = spark.table("graft.cdfp.t.changes")
    // data-subset + one meta column: the planned scan schema IS the
    // projection (pruned down the parquet read), values exact
    val pruned = full.select("k", "_commit_version")
    val scans = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.nonEmpty &&
      scans.forall(_.readSchema().fieldNames.toSeq == Seq("k", "_commit_version")),
      scans.map(_.readSchema().toDDL).mkString(";"))
    // every pruned shape must equal the unpruned feed's projection:
    // collect the full feed ONCE (all-columns path, identity factory)
    // and project driver-side as the reference
    val ref = full.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getDouble(2), r.getString(3), r.getLong(4)))
    assert(ref.length >= 4 && ref.exists(_._4 == "delete"), ref.mkString(";"))
    assert(canon(pruned) ==
      canon(ref.toSeq.map(t => (t._1, t._5)).toDF("k", "_commit_version")))
    // meta-only projection: zero parquet column reads, values from the log
    assert(canon(full.select("_change_type")) ==
      canon(ref.toSeq.map(_._4).toDF("_change_type")))
    // data-only projection drops both meta columns
    assert(canon(full.select("v")) == canon(ref.toSeq.map(_._2).toDF("v")))
    // zero-column count
    assert(full.count() == ref.length)
    // loud span validation: garbage version, beyond-head ending
    def msgOf(body: => Unit): String = {
      val e = intercept[Exception](body)
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    }
    assert(msgOf(spark.read.option("startingVersion", "abc")
      .table("graft.cdfp.t.changes").collect()).contains("must be a version number"))
    assert(msgOf(spark.read.option("endingVersion", 99)
      .table("graft.cdfp.t.changes").collect()).contains("beyond the head"))
    // _commit_version FILTER pushdown narrows the planned span: whole
    // versions outside the bounds contribute zero partitions
    def partsOf(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.flatMap(_.inputRDD.partitions).length
    }
    val allParts = partsOf(full.select("k", "_commit_version"))
    val v2Parts = partsOf(full.select("k", "_commit_version")
      .filter(col("_commit_version") === 2))
    assert(v2Parts < allParts, s"version filter should prune partitions: $v2Parts/$allParts")
    assert(canon(full.select("k", "_commit_version")
      .filter(col("_commit_version") === 2)) == canon(Seq((3, 2L))
      .toDF("k", "_commit_version")))
    // a filter-empty span plans zero partitions and answers empty
    val none = full.select("k", "_commit_version")
      .filter(col("_commit_version") > 90)
    assert(none.count() == 0)
    assert(partsOf(none) == 0)
    // range + conjunction shapes narrow too, and stay exact
    assert(canon(full.select("_change_type", "_commit_version")
      .filter(col("_commit_version") >= 2 && col("_commit_version") <= 3)) ==
      canon(ref.filter(t => t._5 >= 2 && t._5 <= 3).toSeq.map(t => (t._4, t._5))
        .toDF("_change_type", "_commit_version")))
  }

  test("drop/rename fence racing committers: staged writes fail loudly, never resurrect") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.race")
    val path = s"$warehouse/race/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    // DROP lands between a writer's stage and its commit: the tombstone
    // fence turns the commit into a loud failure, not a resurrection
    GraftTable.betweenStageAndCommitForTests = () => {
      spark.sql("DROP TABLE graft.race.t")
      GraftTable.betweenStageAndCommitForTests = () => ()
    }
    try {
      val e = intercept[IllegalStateException](GraftTable.append(kv(2 -> "b"), path))
      assert(e.getMessage.contains("dropped"), e.getMessage)
    } finally GraftTable.betweenStageAndCommitForTests = () => ()
    assert(!GraftTable.exists(path))
    assert(GraftTable.currentVersion(path).isEmpty)
    // the name is reclaimable: CREATE clears the fence, history restarts
    spark.sql("CREATE TABLE graft.race.t (k INT, v STRING)")
    spark.sql("INSERT INTO graft.race.t VALUES (7, 'z')")
    assert(canon(spark.table("graft.race.t")) == canon(kv(7 -> "z")))
    assert(GraftTable.currentVersion(path).contains(2L))

    // RENAME fence: the old path refuses the straggler's commit by
    // naming the table's new home; the moved table is untouched
    val p2 = s"$warehouse/race/src"
    GraftTable.overwrite(kv(1 -> "a"), p2)
    GraftTable.betweenStageAndCommitForTests = () => {
      spark.sql("ALTER TABLE graft.race.src RENAME TO race.moved")
      GraftTable.betweenStageAndCommitForTests = () => ()
    }
    try {
      val e2 = intercept[IllegalStateException](GraftTable.append(kv(2 -> "b"), p2))
      assert(e2.getMessage.contains("renamed to"), e2.getMessage)
    } finally GraftTable.betweenStageAndCommitForTests = () => ()
    assert(canon(spark.table("graft.race.moved")) == canon(kv(1 -> "a")))
    assert(!GraftTable.exists(p2))
    // residue is invisible everywhere: not a table, not a namespace
    val tables = spark.sql("SHOW TABLES IN graft.race").collect()
      .map(_.getString(1)).toSet
    assert(tables == Set("t", "moved"), tables.toString)
    assert(spark.sql("SHOW NAMESPACES IN graft.race").isEmpty)
    // dropping the residue name again answers false (nothing to drop)
    assert(!spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].dropTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("race"), "ghost")))
  }

  test("bloom-derived NDV column stats reach CBO and reorder a pessimal join") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cbo")
    GraftTable.overwrite(spark.range(0, 200000).selectExpr(
      "id % 20000 AS k1", "id % 200 AS k2", "id AS payload"),
      s"$warehouse/cbo/fact", bloomCols = Seq("k1", "k2"))
    GraftTable.overwrite(spark.range(0, 20000).selectExpr("id AS k1", "id AS b"),
      s"$warehouse/cbo/mid", bloomCols = Seq("k1"))
    GraftTable.overwrite(spark.range(0, 4).selectExpr("id AS k2", "id AS c"),
      s"$warehouse/cbo/tiny", bloomCols = Seq("k2"))
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the scan's v2 column stats surface exact nulls + bloom NDV
      val stats = spark.table("graft.cbo.fact").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(200000)))
      val ndv = stats.attributeStats.map { case (a, cs) =>
        a.name -> cs.distinctCount.map(_.toLong).getOrElse(-1L) }.toMap
      assert(math.abs(ndv("k1") - 20000L) <= 600, ndv.toString) // ~3% sketch error
      assert(math.abs(ndv("k2") - 200L) <= 6, ndv.toString)
      assert(stats.attributeStats.forall(_._2.nullCount.contains(BigInt(0))))
      // pessimal order: fact x mid first; CBO must pull tiny inside
      val q = spark.sql("SELECT count(*) AS n FROM graft.cbo.fact f " +
        "JOIN graft.cbo.mid m ON f.k1 = m.k1 " +
        "JOIN graft.cbo.tiny t ON f.k2 = t.k2")
      val lines = q.queryExecution.optimizedPlan.treeString.linesIterator.toSeq
      val tinyLine = lines.indexWhere(_.contains("graft.cbo.tiny"))
      val midLine = lines.indexWhere(_.contains("graft.cbo.mid"))
      assert(tinyLine >= 0 && midLine >= 0 && tinyLine < midLine,
        q.queryExecution.optimizedPlan.treeString)
      assert(q.head().getLong(0) == 4000L) // 200000/200*4 matched via tiny
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("loadTable of a missing table fails loudly, tableExists answers quietly") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    assert(!cat.tableExists(Identifier.of(Array("nope"), "missing")))
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException](
      cat.loadTable(Identifier.of(Array("nope"), "missing")))
  }
}
