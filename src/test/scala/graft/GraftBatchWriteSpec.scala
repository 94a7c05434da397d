package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.core.GraftTable
import graft.catalog.GraftCatalog

/** The DSv2 BATCH write ([[graft.sources.GraftWrite]] — stock-session
  * `INSERT INTO` / `INSERT OVERWRITE` / CTAS on catalog names):
  * executor-staged files, one manifest CAS, and — on bucketed tables —
  * the declared layout requested as a required distribution + ordering
  * so plain SQL INSERTs keep storage-partitioned joins engaged. */
class GraftBatchWriteSpec extends AnyFunSuite with SparkSpecBase {

  private val warehouse = Files.createTempDirectory("graft_v2write").toString

  spark.conf.set("spark.sql.catalog.ins", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.ins.warehouse", warehouse)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS ins.ns")

  private def withSpjConfs[T](body: => T): T = {
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .map { case (k, v) =>
        val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old }
    try body
    finally saved.foreach { case (k, old) =>
      old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("INSERT INTO appends through the v2 batch write; rows exact, version bumps") {
    val path = s"$warehouse/ns/plain"
    GraftTable.overwrite(spark.range(0, 100)
      .selectExpr("cast(id as int) AS k", "id AS x"), path)
    val v0 = GraftTable.currentVersion(path).get
    spark.sql("INSERT INTO ins.ns.plain SELECT cast(id as int), id FROM range(100, 250)")
    assert(GraftTable.currentVersion(path).get == v0 + 1)
    assert(spark.table("ins.ns.plain").count() == 250)
    assert(canon(spark.table("ins.ns.plain").agg(sum("x"))) ==
      canon(spark.range(0, 250).agg(sum("id"))))
    // the commit carries per-file stats for declared-capable columns
    val m = GraftTable.currentManifest(path).get
    val newFiles = GraftTable.filesOf(path, m).filter(_.rows > 0)
    assert(newFiles.forall(_.stats.contains("k")),
      "v2-written files must carry column stats like every other write path")
  }

  test("stage-insert reclamation is DIR-granular per job; vacuum keys on newest mtime") {
    val path = s"$warehouse/ns/orphans"
    GraftTable.overwrite(spark.range(0, 20)
      .selectExpr("cast(id as int) AS k", "id AS x"), path)
    val stageRoot = new java.io.File(path, ".stage-insert")
    val staleMs =
      System.currentTimeMillis - GraftTable.DefaultOrphanGraceUs / 1000L - 60000L
    // a DEAD job's subdir: every entry older than the grace — a later
    // commit reclaims the whole dir
    val deadDir = new java.io.File(stageRoot, "job-dead")
    deadDir.mkdirs()
    val orphan = new java.io.File(deadDir, "ins-rdead-p0-t0.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    assert(orphan.setLastModified(staleMs))
    assert(deadDir.setLastModified(staleMs))
    // a LIVE straggler's subdir: its EARLY task file closed before the
    // grace window, only a later file is fresh — the shape the old
    // per-file sweep raced on (deleting the early file and failing the
    // victim's commit). Dir-granular sweeping must keep the whole dir.
    val liveDir = new java.io.File(stageRoot, "job-live")
    liveDir.mkdirs()
    val early = new java.io.File(liveDir, "ins-rlive-p0-t0.parquet")
    java.nio.file.Files.write(early.toPath, Array[Byte](4, 5))
    assert(early.setLastModified(staleMs))
    val fresh = new java.io.File(liveDir, "ins-rlive-p1-t1.parquet")
    java.nio.file.Files.write(fresh.toPath, Array[Byte](6))
    assert(liveDir.setLastModified(staleMs)) // dir inode stale; newest FILE fresh
    spark.sql("INSERT INTO ins.ns.orphans SELECT cast(id as int), id FROM range(20, 30)")
    assert(!orphan.exists && !deadDir.exists,
      "a successful commit must reclaim a wholly-stale foreign job dir")
    assert(early.exists && fresh.exists,
      "a subdir with ANY in-grace entry belongs to a live job — its early " +
        "files must survive a sibling's commit sweep")
    assert(spark.table("ins.ns.orphans").count() == 30)
    // vacuum backstop keys on the newest entry in the TREE, not the dir
    // inode: the fresh file keeps the whole stage tree alive
    GraftTable.vacuum(path, keepVersions = 10)
    assert(early.exists && fresh.exists,
      "vacuum must key stage liveness on the newest entry in the tree")
    assert(fresh.setLastModified(staleMs))
    GraftTable.vacuum(path, keepVersions = 10)
    assert(!fresh.exists && !early.exists,
      "vacuum must reclaim abandoned .stage-insert debris past the grace")
  }

  test("INSERT OVERWRITE truncates and replaces; old snapshot time-travels") {
    val path = s"$warehouse/ns/ow"
    GraftTable.overwrite(spark.range(0, 50)
      .selectExpr("cast(id as int) AS k", "id AS x"), path)
    val v0 = GraftTable.currentVersion(path).get
    spark.sql("INSERT OVERWRITE ins.ns.ow SELECT cast(id as int), id FROM range(0, 7)")
    assert(spark.table("ins.ns.ow").count() == 7)
    assert(spark.read.format("graft").option("versionAsOf", v0).load(path).count() == 50)
  }

  test("INSERT INTO a bucketed table lands single-bucket files; SPJ stays zero-exchange") {
    val f = s"$warehouse/ns/bf"
    val d = s"$warehouse/ns/bd"
    GraftTable.writeBucketed(spark.range(0, 2000)
      .selectExpr("cast(id % 400 as int) AS k", "id AS x"), f, "k", 8)
    GraftTable.writeBucketed(spark.range(0, 400)
      .selectExpr("cast(id as int) AS k", "cast(id as string) AS v"), d, "k", 8)
    // stock SQL INSERT — not pre-partitioned; the write's required
    // distribution (clustered on k, n=8) must bucket it
    spark.sql("INSERT INTO ins.ns.bf SELECT cast(id % 400 as int), id FROM range(2000, 5000)")
    val m = GraftTable.currentManifest(f).get
    val live = GraftTable.filesOf(f, m).filter(_.rows > 0)
    assert(live.nonEmpty && live.forall(_.stats.contains(GraftTable.BucketStatCol)),
      "files written by stock INSERT must be single-bucket (layout survives SQL writes)")
    withSpjConfs {
      val j = spark.table("ins.ns.bf").join(spark.table("ins.ns.bd"), "k")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"post-INSERT co-bucketed join must not shuffle:\n$p")
      assert(j.count() == 5000)
    }
  }

  test("the insert plan itself carries the bucket distribution exchange + in-bucket sort") {
    val path = s"$warehouse/ns/planshape"
    GraftTable.writeBucketed(spark.range(0, 10)
      .selectExpr("cast(id as int) AS k", "id AS x"), path, "k", 4)
    val qe = spark.sql(
      "INSERT INTO ins.ns.planshape SELECT cast(id as int), id FROM range(10, 500)")
    val p = qe.queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning(k"),
      s"write must request clustered distribution on the bucket key:\n$p")
    assert(p.contains("Sort [k"),
      s"write must request in-bucket ordering for tight row-group stats:\n$p")
  }

  test("CTAS through the staging catalog with declared bucketing lands bucketed") {
    spark.sql(
      "CREATE TABLE ins.ns.ctasb TBLPROPERTIES ('graft.bucketBy'='k,4') AS " +
        "SELECT cast(id % 50 as int) AS k, id AS x FROM range(0, 1000)")
    val path = s"$warehouse/ns/ctasb"
    val live = GraftTable.filesOf(path, GraftTable.currentManifest(path).get)
      .filter(_.rows > 0)
    assert(live.nonEmpty && live.forall(_.stats.contains(GraftTable.BucketStatCol)),
      "CTAS into a bucket-declared table must produce single-bucket files")
    assert(spark.table("ins.ns.ctasb").count() == 1000)
  }

  test("CHECK constraints enforce on the v2 insert; failed insert commits nothing") {
    val path = s"$warehouse/ns/chk"
    GraftTable.overwrite(spark.range(0, 10)
      .selectExpr("cast(id as int) AS k", "id AS x"), path)
    GraftTable.addCheck(spark, path, "k_nonneg", "k >= 0")
    val v0 = GraftTable.currentVersion(path).get
    val e = intercept[Exception] {
      spark.sql("INSERT INTO ins.ns.chk SELECT cast(-1 as int), 0 FROM range(1)")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(t => Option(t.getMessage).exists(_.contains("k_nonneg"))),
      s"violation must name the CHECK: $e")
    assert(GraftTable.currentVersion(path).get == v0)
    assert(spark.table("ins.ns.chk").count() == 10)
    // the staged-then-refused files must not linger in data/
    val m = GraftTable.currentManifest(path).get
    val manifested = GraftTable.filesOf(path, m).map(_.path.split('/').last).toSet
    val onDisk = Option(new java.io.File(path, "data").listFiles).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(onDisk == manifested, s"refused insert leaked files: ${onDisk diff manifested}")
  }

  test("streaming writes to a bucketed table land single-bucket files too") {
    val src = s"$warehouse/ns/ssrc"
    val sink = s"$warehouse/ns/ssink"
    GraftTable.overwrite(spark.range(0, 600)
      .selectExpr("cast(id % 128 as int) AS k", "id AS x"), src)
    GraftTable.writeBucketed(spark.range(600, 700)
      .selectExpr("cast(id % 128 as int) AS k", "id AS x"), sink, "k", 4)
    val ckpt = Files.createTempDirectory("graft_v2w_ckpt").toString
    val q = spark.readStream.table("ins.ns.ssrc")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("ins.ns.ssink")
    q.awaitTermination(60000)
    assert(spark.table("ins.ns.ssink").count() == 700)
    val live = GraftTable.filesOf(sink, GraftTable.currentManifest(sink).get)
      .filter(_.rows > 0)
    assert(live.forall(_.stats.contains(GraftTable.BucketStatCol)),
      "the epoch's required distribution must keep streamed files single-bucket")
  }

  test("racing append between stage and commit: both batches survive the CAS rebase") {
    val path = s"$warehouse/ns/race"
    GraftTable.overwrite(spark.range(0, 10)
      .selectExpr("cast(id as int) AS k", "id AS x"), path)
    var fired = false
    GraftTable.betweenStageAndCommitForTests = () => {
      if (!fired) {
        fired = true
        GraftTable.append(spark.range(1000, 1010)
          .selectExpr("cast(id as int) AS k", "id AS x"), path)
      }
    }
    try spark.sql("INSERT INTO ins.ns.race SELECT cast(id as int), id FROM range(100, 110)")
    finally GraftTable.betweenStageAndCommitForTests = () => ()
    assert(fired)
    assert(spark.table("ins.ns.race").count() == 30,
      "the insert must rebase over the racing append, dropping neither batch")
  }

  test("one writer: the Scala API, SQL INSERT and writeStream.toTable write the same files") {
    val cols = Seq("cast(id as int) AS k", "concat('s', cast(id as string)) AS s",
      "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, cast(id as int), 0, 0) AS ts",
      "cast(id * 1.25 as decimal(10,2)) AS amt")
    val batch = spark.range(0, 20).selectExpr(cols: _*).coalesce(1)
    val api = s"$warehouse/ns/par_api"
    GraftTable.append(batch, api)
    val sql = s"$warehouse/ns/par_sql"
    GraftTable.create(sql, batch.schema)
    batch.createOrReplaceTempView("par_batch")
    spark.sql("INSERT INTO ins.ns.par_sql SELECT * FROM par_batch")
    val q = spark.readStream.table("ins.ns.par_api").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft_par_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("ins.ns.par_stream")
    q.awaitTermination(60000)
    val stream = s"$warehouse/ns/par_stream"
    def footer(p: String): String = {
      val files = GraftTable.filesOf(p, GraftTable.currentManifest(p).get)
      assert(files.size == 1, s"$p: ${files.map(_.path)}")
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(GraftTable.resolveData(p, files.head)),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
    }
    def stats(p: String) = GraftTable.filesOf(p, GraftTable.currentManifest(p).get).map(_.stats)
    val schema = footer(api)
    assert(schema.contains("int64 ts (TIMESTAMP(MICROS,true))"), schema)
    assert(schema.contains("required int32 k"), schema)
    assert(footer(sql) == schema)
    assert(footer(stream) == schema)
    assert(stats(api).head.keySet == Set("k", "s", "ts", "amt"))
    assert(stats(sql) == stats(api))
    assert(stats(stream) == stats(api))
    assert(jobsDuring(GraftTable.overwrite(batch, s"$warehouse/ns/par_over")) == 1)
  }

}
