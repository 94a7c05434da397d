package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftTable

/** The DSv2 streaming source over a GraftTable's commit log
  * ([[graft.sources.GraftStreamSource]]): offsets are versions, batches
  * are change-log file sets, checkpoints make restarts incremental, and
  * the pinned-schema guards fail loudly instead of emitting NULLs. */
class GraftStreamSourceSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_stream_src").toString

  private def kv(rows: (Int, String)*) =
    df("k INT, v STRING", rows.map(r => Row(Int.box(r._1), r._2)): _*)

  /** Drain the stream with AvailableNow into an in-memory sink; returns
    * (rows, number of non-empty micro-batches). */
  private def drain(src: DataFrame, name: String): (Seq[String], Long) = {
    val q = src.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0).toLong
    (canon(spark.table(name)), batches)
  }

  test("a streaming read of a missing table fails loudly, never an empty-schema stream") {
    val path = tmp() + "/nope"
    val src = spark.readStream.format("graft").load(path)
    val e = intercept[Exception] {
      val q = src.writeStream.format("memory").queryName("missing_tbl")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("not a GraftTable")),
      s"expected a loud missing-table refusal, got: ${chain(e).mkString(" | ")}")
  }

  test("append-only history streams in full; one micro-batch per version under the cap") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b"), path)
    GraftTable.append(kv(3 -> "c"), path)
    GraftTable.append(kv(4 -> "d", 5 -> "e"), path)
    val src = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", 1).load(path)
    val (rows, batches) = drain(src, "gss_full")
    assert(rows == canon(kv(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d", 5 -> "e")))
    assert(batches == 3, s"expected 3 single-version micro-batches, got $batches")
  }

  test("maxBytesPerTrigger admits at least one version per batch, never more than fit") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    GraftTable.append(kv(2 -> "b"), path)
    GraftTable.append(kv(3 -> "c"), path)
    // cap of 1 byte: every version overflows alone -> one version per batch
    val src = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", 1).load(path)
    val (rows, batches) = drain(src, "gss_bytes")
    assert(rows == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    assert(batches == 3, s"expected 3 byte-capped micro-batches, got $batches")
    // a huge cap admits everything in one batch
    val loose = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", Long.MaxValue).load(path)
    val (rows2, batches2) = drain(loose, "gss_bytes2")
    assert(rows2 == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    assert(batches2 == 1, s"expected a single uncapped micro-batch, got $batches2")
  }

  test("random append/evolve history drains to the snapshot under any trigger caps") {
    val rnd = new scala.util.Random(20260814L)
    (1 to 3).foreach { trial =>
      val path = tmp() + s"/t$trial"
      var nextK = 0
      var widened = false
      val nCommits = 2 + rnd.nextInt(4)
      (1 to nCommits).foreach { c =>
        val rows = (1 to (1 + rnd.nextInt(3))).map { _ =>
          nextK += 1; (nextK, s"v$nextK")
        }
        val narrow = df("k INT, v STRING", rows.map(r => Row(Int.box(r._1), r._2)): _*)
        if (c == 1) GraftTable.overwrite(narrow, path)
        else if (rnd.nextBoolean() && !widened) GraftTable.append(narrow, path)
        else if (rnd.nextBoolean()) { // widen mid-history: old files stream extra = NULL
          widened = true
          GraftTable.appendEvolve(df("k INT, v STRING, extra INT",
            rows.map(r => Row(Int.box(r._1), r._2, Int.box(r._1 * 10))): _*), path)
        } else GraftTable.appendEvolve(narrow, path) // narrow after widen: extra = NULL
      }
      val src = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", 1 + rnd.nextInt(3))
        .option("maxBytesPerTrigger", if (rnd.nextBoolean()) "1" else s"${1L << 40}")
        .load(path)
      val (rows, _) = drain(src, s"gss_rand$trial")
      // the stream must equal the batch snapshot read, row for row
      assert(rows == canon(GraftTable.read(spark, path)), s"trial $trial diverged")
    }
  }

  test("numeric startingVersion: 0 is full history, N skips the versions before N") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path) // v1
    GraftTable.append(kv(2 -> "b"), path) // v2
    GraftTable.append(kv(3 -> "c"), path) // v3
    // startingVersion=0 = full history (the scaladoc contract), with the
    // byte walk exercised too — neither may plan the nonexistent version 0
    val (all, _) = drain(spark.readStream.format("graft")
      .option("startingVersion", 0).option("maxBytesPerTrigger", 1).load(path), "gss_sv0")
    assert(all == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // startingVersion=2: version 2 is the first consumed
    val (tail, _) = drain(spark.readStream.format("graft")
      .option("startingVersion", 2).load(path), "gss_sv2")
    assert(tail == canon(kv(2 -> "b", 3 -> "c")))
  }

  test("startingTimestamp: the first consumed version is the first at/after the instant") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path) // v1
    GraftTable.append(kv(2 -> "b"), path) // v2
    GraftTable.append(kv(3 -> "c"), path) // v3
    val ts = GraftTable.versions(path).map(t => t._1 -> t._2).toMap
    // pin exactly at v2's commit instant: v2 is the first consumed
    val (tail, _) = drain(spark.readStream.format("graft")
      .option("startingTimestamp", ts(2L).toString).load(path), "gss_ts2")
    assert(tail == canon(kv(2 -> "b", 3 -> "c")))
    // an instant before every commit is full history
    val (all, _) = drain(spark.readStream.format("graft")
      .option("startingTimestamp", (ts(1L) - 10).toString).load(path), "gss_ts0")
    assert(all == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // an instant after the head consumes nothing (until new commits)
    val (none, _) = drain(spark.readStream.format("graft")
      .option("startingTimestamp", (ts(3L) + 10).toString).load(path), "gss_tsf")
    assert(none.isEmpty)
    // the two starting pins refuse together
    intercept[Exception] {
      spark.readStream.format("graft").option("startingVersion", 1)
        .option("startingTimestamp", ts(1L).toString).load(path)
        .writeStream.format("memory").queryName("gss_tsx")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
  }

  test("SMALLINT/TINYINT columns stream with correct internal boxing") {
    val path = tmp() + "/t"
    val d = df("k INT, s SMALLINT, b TINYINT",
      Row(Int.box(1), Short.box(7), Byte.box(3)),
      Row(Int.box(2), Short.box(-2), Byte.box(-1)))
    GraftTable.overwrite(d, path)
    val (rows, _) = drain(spark.readStream.format("graft").load(path), "gss_shortbyte")
    assert(rows == canon(d))
  }

  test("a registered lagging stream survives the vacuum that used to kill it") {
    val root = tmp()
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    GraftTable.overwrite(kv(1 -> "a"), src) // v1
    GraftTable.append(kv(2 -> "b"), src) // v2
    def run(): Unit = {
      val st = spark.readStream.format("graft")
        .option("consumerId", "lagger").load(src)
      val q = graft.streaming.Streams.graftTableSink(st, dst, ckpt).start()
      q.awaitTermination()
    }
    run() // consumes to v2; commit registers bookmark 2 (a sync_mark commit, v3)
    assert(GraftTable.currentManifest(src).get.streamMarks
      .exists(_.get("consumer:lagger").contains(2L)))
    // four data commits land while the stream is down (v4..v7)
    (3 to 6).foreach(i => GraftTable.append(kv(i -> s"v$i"), src))
    // count-based retention alone would drop v3..v5 — including manifests
    // the stream's next batches must plan. The bookmark keeps them.
    GraftTable.vacuum(src, keepVersions = 2)
    assert(GraftTable.versions(src).map(_._1) == (3L to 7L),
      "bookmark must protect every version after the consumer's mark")
    run() // resumes at offset 2 and drains the protected span
    assert(canon(GraftTable.read(spark, dst)) ==
      canon(kv((1 to 6).map(i => i -> (if (i == 1) "a" else if (i == 2) "b" else s"v$i")): _*)))
    // the bookmark advanced past the drained span
    assert(GraftTable.currentManifest(src).get.streamMarks
      .exists(_.get("consumer:lagger").exists(_ >= 7L)))
  }

  test("an UNregistered lagging stream fails loudly when vacuum drops its span") {
    val root = tmp()
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    GraftTable.overwrite(kv(1 -> "a"), src)
    GraftTable.append(kv(2 -> "b"), src)
    def run(): Unit = {
      val st = spark.readStream.format("graft").load(src) // no consumerId
      val q = graft.streaming.Streams.graftTableSink(st, dst, ckpt).start()
      q.awaitTermination()
    }
    run()
    (3 to 6).foreach(i => GraftTable.append(kv(i -> s"v$i"), src))
    GraftTable.vacuum(src, keepVersions = 2) // drops v3..v4 the stream still needs
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("vacuumed") || m.contains("no version")),
      s"expected a loud vacuum-horizon failure, got: ${messages(e).mkString(" | ")}")
  }

  test("checkpoint restart resumes at the bookmark — exactly-once into a graft sink") {
    val root = tmp()
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    GraftTable.overwrite(kv(1 -> "a"), src)
    GraftTable.append(kv(2 -> "b"), src)

    def run(): Unit = {
      val stream = spark.readStream.format("graft").load(src)
      val q = graft.streaming.Streams.graftTableSink(stream, dst, ckpt).start()
      q.awaitTermination()
    }
    run()
    assert(canon(GraftTable.read(spark, dst)) == canon(kv(1 -> "a", 2 -> "b")))
    // two more commits; the restarted stream must emit ONLY those
    GraftTable.append(kv(3 -> "c"), src)
    GraftTable.append(kv(4 -> "d"), src)
    run()
    assert(canon(GraftTable.read(spark, dst)) ==
      canon(kv(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d")))
    // a replayed run with nothing new is a no-op (no duplicate appends)
    val before = GraftTable.currentVersion(dst)
    run()
    assert(canon(GraftTable.read(spark, dst)) ==
      canon(kv(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d")))
    assert(GraftTable.currentVersion(dst) == before)
  }

  test("writeStream.format(\"graft\") is a native exactly-once append sink") {
    val root = tmp()
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    GraftTable.overwrite(kv(1 -> "a"), src)
    GraftTable.append(kv(2 -> "b"), src)
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("statsCols", "k")
        .option("bloomCols", "k")
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    run()
    assert(canon(GraftTable.read(spark, dst)) == canon(kv(1 -> "a", 2 -> "b")))
    // restart picks up only the new commits
    GraftTable.append(kv(3 -> "c"), src)
    run()
    assert(canon(GraftTable.read(spark, dst)) == canon(kv(1 -> "a", 2 -> "b", 3 -> "c")))
    // a replayed run with nothing new commits nothing (the manifest
    // high-water mark, not the checkpoint, is the dedup ledger)
    val before = GraftTable.currentVersion(dst)
    run()
    assert(GraftTable.currentVersion(dst) == before)
    // the statsCols/bloomCols options indexed the sink's files
    assert(GraftTable.filesOf(dst, GraftTable.currentManifest(dst).get)
      .forall(_.stats.get("k").exists(_.bloom.isDefined)))
    // non-append modes and partitionBy refuse at sink construction
    intercept[Exception] {
      spark.readStream.format("graft").load(src)
        .writeStream.format("graft").outputMode("update")
        .option("checkpointLocation", s"$root/ckpt2")
        .trigger(Trigger.AvailableNow()).start(s"$root/dst2")
    }
    intercept[Exception] {
      spark.readStream.format("graft").load(src)
        .writeStream.format("graft").partitionBy("k")
        .option("checkpointLocation", s"$root/ckpt3")
        .trigger(Trigger.AvailableNow()).start(s"$root/dst3")
    }
  }

  test("startingVersion=latest skips history; a COW rewrite fails without ignoreChanges") {
    val root = tmp()
    val path = s"$root/t"
    // one initial file, so the later COW rewrite's pre-image is deterministic
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b").coalesce(1), path)
    // "latest" resolves at QUERY START: the first run bookmarks the head
    // and emits nothing; the continuation sees only post-start commits
    def runLatest(): Seq[String] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = spark.readStream.format("graft")
        .option("startingVersion", "latest").load(path)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt_latest")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => got.add(r.toString)): Unit
        }.start()
      q.awaitTermination()
      got.iterator().asScala.toSeq.sorted
    }
    assert(runLatest().isEmpty)
    GraftTable.append(kv(3 -> "c"), path)
    assert(runLatest() == canon(kv(3 -> "c")))

    GraftTable.upsertByKey(spark, path, kv(2 -> "B"), Seq("k"))
    val all = spark.readStream.format("graft").load(path)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = all.writeStream.format("memory").queryName("gss_cow")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(err.getMessage.contains("ignoreChanges") ||
      Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")))
    // with ignoreChanges the rewritten file re-emits (kept rows included)
    val loose = spark.readStream.format("graft")
      .option("ignoreChanges", "true").load(path)
    val (rows2, _) = drain(loose, "gss_cow_ok")
    assert(rows2 == canon(kv(1 -> "a", 2 -> "b", 3 -> "c", 1 -> "a", 2 -> "B")))
  }

  test("readChangeFeed streams COW rewrites as explicit delete/insert with versions") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a", 2 -> "b").coalesce(1), path) // v1: one file
    GraftTable.append(kv(3 -> "c"), path)                          // v2
    GraftTable.upsertByKey(spark, path, kv(2 -> "B"), Seq("k"))    // v3: rewrites v1's file
    GraftTable.deleteByKey(spark, path, kv(3 -> "c").select("k"), Seq("k")) // v4
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String, Long)]()
    val q = spark.readStream.format("graft").option("readChangeFeed", "true").load(path)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getInt(0), r.getString(1),
          r.getString(2), r.getLong(3)))): Unit
      }.start()
    q.awaitTermination()
    val events = got.iterator().asScala.toSet
    assert(events == Set(
      (1, "a", "insert", 1L), (2, "b", "insert", 1L),      // initial load
      (3, "c", "insert", 2L),                              // append
      (1, "a", "delete", 3L), (2, "b", "delete", 3L),      // COW pre-image
      (1, "a", "insert", 3L), (2, "B", "insert", 3L),      // COW post-image
      (3, "c", "delete", 4L)),                             // keyed delete
      s"got $events")
    // a CDF consumer folding per version converges to the head snapshot
    val replica = scala.collection.mutable.Map.empty[Int, String]
    events.toSeq.sortBy(e => (e._4, e._3 == "insert")).foreach {
      case (k, _, "delete", _) => replica -= k
      case (k, v, "insert", _) => replica(k) = v
      case _ => ()
    }
    assert(replica.toMap == Map(1 -> "a", 2 -> "B"))
    assert(canon(GraftTable.read(spark, path)) ==
      canon(kv(replica.toSeq.sortBy(_._1): _*)))
  }

  test("readChangeFeed over random COW histories folds to the head snapshot") {
    val rnd = new scala.util.Random(20260814L)
    (1 to 2).foreach { trial =>
      val path = tmp() + s"/t$trial"
      var live = Map(1 -> "a", 2 -> "b") // model of head, keyed (unique keys)
      var nextK = 2
      GraftTable.overwrite(kv(live.toSeq: _*), path)
      (1 to (3 + rnd.nextInt(3))).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => // append fresh unique keys
            val fresh = (1 to 1 + rnd.nextInt(2)).map { _ => nextK += 1; nextK -> s"v$nextK" }
            GraftTable.append(kv(fresh: _*), path); live ++= fresh
          case 1 if live.nonEmpty => // upsert a random existing key + one new
            val k = live.keys.toSeq(rnd.nextInt(live.size)); nextK += 1
            val delta = Seq(k -> s"u$k-$nextK", nextK -> s"v$nextK")
            GraftTable.upsertByKey(spark, path, kv(delta: _*), Seq("k")); live ++= delta
          case _ if live.nonEmpty => // delete a random key
            val k = live.keys.toSeq(rnd.nextInt(live.size))
            GraftTable.deleteByKey(spark, path, kv(k -> "x").select("k"), Seq("k"))
            live -= k
          case _ => ()
        }
      }
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String, Long)]()
      val q = spark.readStream.format("graft").option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", 1).load(path)
        .writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => got.add((r.getInt(0), r.getString(1),
            r.getString(2), r.getLong(3)))): Unit
        }.start()
      q.awaitTermination()
      val replica = scala.collection.mutable.Map.empty[Int, String]
      got.iterator().asScala.toSeq.sortBy(e => (e._4, e._3 == "insert")).foreach {
        case (k, _, "delete", _) => replica -= k
        case (k, v, "insert", _) => replica(k) = v
        case _ => ()
      }
      assert(replica.toMap == live, s"trial $trial: folded feed diverged from model")
      assert(canon(GraftTable.read(spark, path)) ==
        canon(kv(live.toSeq.sortBy(_._1): _*)), s"trial $trial: model diverged from table")
    }
  }

  test("readChangeFeed refuses a mid-history truncate loudly") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    GraftTable.overwrite(kv(9 -> "z"), path) // v2 truncates
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft").option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("memory").queryName("gss_cdf_trunc")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val msg = err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("truncated"))
  }

  test("files written before a rename stream through the maintained rename map") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    GraftTable.renameColumn(path, "v", "label")
    GraftTable.append(df("k INT, label STRING", Row(Int.box(2), "b")), path)
    val src = spark.readStream.format("graft").load(path)
    val (rows, _) = drain(src, "gss_rename")
    assert(rows == canon(df("k INT, label STRING",
      Row(Int.box(1), "a"), Row(Int.box(2), "b"))))
  }

  test("widening mid-stream: pinned schema keeps reading; restart adopts the new column") {
    val path = tmp() + "/t"
    GraftTable.overwrite(kv(1 -> "a"), path)
    val pinned = spark.readStream.format("graft").load(path) // schema pinned (k, v)
    GraftTable.appendEvolve(df("k INT, v STRING, extra INT",
      Row(Int.box(2), "b", Int.box(9))), path)
    val (rows, _) = drain(pinned, "gss_widen")
    assert(rows == canon(kv(1 -> "a", 2 -> "b"))) // extra invisible until restart
    val fresh = spark.readStream.format("graft").load(path)
    val (rows2, _) = drain(fresh, "gss_widen2")
    assert(rows2 == canon(df("k INT, v STRING, extra INT",
      Row(Int.box(1), "a", null), Row(Int.box(2), "b", Int.box(9)))))
  }

  test("value types round-trip through the row-grain reader; streaming count is exact") {
    val path = tmp() + "/t"
    val data = df("id BIGINT, x DOUBLE, s STRING, t TIMESTAMP, d DATE, b BOOLEAN, " +
      "m DECIMAL(10,2), w DECIMAL(38,10)",
      Row(Long.box(1L), Double.box(1.5), "one", ts("2024-01-02 03:04:05.123456"),
        java.sql.Date.valueOf("2024-01-02"), Boolean.box(true),
        new java.math.BigDecimal("-12345678.91"),
        new java.math.BigDecimal("1234567890123456789012345678.0123456789")),
      Row(Long.box(2L), null, null, null, null, null, null, null))
    GraftTable.overwrite(data, path)
    val src = spark.readStream.format("graft").load(path)
    val (rows, _) = drain(src.select("id", "x", "s", "t", "d", "b", "m", "w"), "gss_types")
    assert(rows == canon(data))
    val q = spark.readStream.format("graft").load(path)
      .groupBy().count()
      .writeStream.format("memory").queryName("gss_count").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("gss_count").head().getLong(0) == 2L)
  }
}
