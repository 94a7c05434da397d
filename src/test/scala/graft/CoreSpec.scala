package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.audit.AuditControl
import graft.core.TableIO
import graft.operators.{DimDate, Ops}

/** TableIO upsert/overwrite atomicity, audit lifecycle, ops helpers, date dim. */
class CoreSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_test").toString

  test("upsertByKey: first write, key replacement, append") {
    val path = tmp() + "/t"
    val v1 = df("k INT, v STRING", Row(Int.box(1), "a"), Row(Int.box(2), "b"))
    TableIO.upsertByKey(spark, path, v1, Seq("k"))
    val delta = df("k INT, v STRING", Row(Int.box(2), "B"), Row(Int.box(3), "c"))
    TableIO.upsertByKey(spark, path, delta, Seq("k"))
    val got = spark.read.parquet(path).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("upsertByKey sync_all_columns: added delta column NULL-pads old rows") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, v STRING", Row(Int.box(1), "a"), Row(Int.box(2), "b")), Seq("k"))
    TableIO.upsertByKey(spark, path,
      df("k INT, v STRING, extra INT", Row(Int.box(2), "B", Int.box(9))), Seq("k"))
    val got = spark.read.parquet(path)
    assert(got.columns.sorted.toSeq == Seq("extra", "k", "v"))
    val rows = got.collect().map(r =>
      (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("v")),
        if (r.isNullAt(r.fieldIndex("extra"))) None else Some(r.getInt(r.fieldIndex("extra"))))).toSet
    assert(rows == Set((1, "a", None), (2, "B", Some(9))))
  }

  test("upsertByKey sync_all_columns: column dropped from the delta leaves the table") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, v STRING, old STRING", Row(Int.box(1), "a", "x"), Row(Int.box(2), "b", "y")), Seq("k"))
    TableIO.upsertByKey(spark, path,
      df("k INT, v STRING", Row(Int.box(3), "c")), Seq("k"))
    val got = spark.read.parquet(path)
    assert(got.columns.sorted.toSeq == Seq("k", "v"))
    assert(got.collect().map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet
      == Set((1, "a"), (2, "b"), (3, "c")))
  }

  /** All files (relative path → bytes) under a dir, for byte-identity checks. */
  private def dirBytes(root: java.io.File, prefix: String = ""): Map[String, Seq[Byte]] = {
    Option(root.listFiles).getOrElse(Array.empty).flatMap { f =>
      if (f.isDirectory) dirBytes(f, s"$prefix${f.getName}/")
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(s"$prefix${f.getName}" ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    }.toMap
  }

  test("upsertAggregate: merge-of-partials equals from-scratch aggregate over any batching") {
    val rows = (1 to 40).map(i => (i % 5, i.toDouble, i))
    def toDf(xs: Seq[(Int, Double, Int)]) =
      df("k INT, v DOUBLE, t INT", xs.map(x => Row(Int.box(x._1), Double.box(x._2), Int.box(x._3))): _*)
    for (nBatches <- Seq(1, 3)) {
      val path = tmp() + s"/agg$nBatches"
      rows.grouped(math.ceil(rows.size.toDouble / nBatches).toInt).foreach { b =>
        TableIO.upsertAggregate(spark, path, toDf(b), Seq("k"),
          Seq("sum" -> "v", "min" -> "t", "max" -> "t"))
      }
      val got = spark.read.parquet(path).collect().map(r => (r.getInt(0),
        (r.getLong(r.fieldIndex("n_rows")),
          r.getDecimal(r.fieldIndex("sum_v")).doubleValue(),
          r.getInt(r.fieldIndex("min_t")), r.getInt(r.fieldIndex("max_t"))))).toMap
      val want = rows.groupBy(_._1).map { case (k, xs) =>
        k -> ((xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).min, xs.map(_._3).max)) }
      assert(got == want, s"nBatches=$nBatches: $got != $want")
    }
    // a batch of only-new keys inserts; only-existing keys combine; both at once
    val p2 = tmp() + "/agg2"
    TableIO.upsertAggregate(spark, p2, toDf(Seq((1, 2.0, 5))), Seq("k"), Seq("sum" -> "v"))
    TableIO.upsertAggregate(spark, p2, toDf(Seq((1, 3.0, 6), (2, 7.0, 1))), Seq("k"), Seq("sum" -> "v"))
    val m = spark.read.parquet(p2).collect()
      .map(r => r.getInt(0) -> r.getDecimal(2).doubleValue()).toMap
    assert(m == Map(1 -> 5.0, 2 -> 7.0), s"got $m")
    intercept[IllegalArgumentException] {
      TableIO.upsertAggregate(spark, p2, toDf(Seq((1, 1.0, 1))), Seq("k"), Seq("avg" -> "v"))
    }: Unit
  }

  test("distinct-count state: maintained bitmap equals one-shot sketch over any batching") {
    import graft.operators.Ops
    val docs = df("g STRING, v STRING",
      (1 to 200).map(i => Row(s"g${i % 3}", s"val${i % 57}")): _*)
    // one-shot: state → estimate matches distinctSketch exactly (same
    // hash, same formula)
    val oneShot = Ops.estimateDistinctFromState(
        Ops.distinctStateRows(docs, Seq("g"), col("v"), m = 256), Seq("g"), "word", 256)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val sketch = Ops.distinctSketch(docs, Seq("g"), col("v"), m = 256)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(oneShot == sketch, s"$oneShot != $sketch")
    // incrementally maintained over 4 batches through the bit_or monoid
    // channel: same estimates — COUNT DISTINCT survives batching, even
    // with duplicate values repeating across batches
    val path = tmp() + "/dstate"
    val rows = (1 to 200).map(i => (s"g${i % 3}", s"val${i % 57}"))
    rows.grouped(50).foreach { b =>
      val bdf = df("g STRING, v STRING", b.map(x => Row(x._1, x._2)): _*)
      TableIO.upsertAggregate(spark, path,
        Ops.distinctStateRows(bdf, Seq("g"), col("v"), m = 256),
        Seq("g", "widx"), Seq("bit_or" -> "word"))
    }
    val maintained = Ops.estimateDistinctFromState(
        spark.read.parquet(path).withColumnRenamed("bit_or_word", "word"),
        Seq("g"), "word", 256)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(maintained == sketch, s"maintained $maintained != $sketch")
  }

  test("winsorize: clamps to the group's [lo, hi] band; NULLs and bandless groups pass through") {
    val d = df("g STRING, v DOUBLE",
      (Seq.tabulate(100)(i => Row("a", Double.box(i + 1.0))) ++ Seq(
        Row("a", null), Row("b", null))): _*)
    val out = Ops.winsorize(d, Seq("g"), "v", lo = 0.05, hi = 0.95).collect()
    val a = out.filter(r => r.getString(0) == "a" && !r.isNullAt(1))
    // percentile_disc on 1..100: p5 = 5, p95 = 95
    assert(a.forall(r => r.getDouble(r.fieldIndex("lo")) == 5.0 &&
      r.getDouble(r.fieldIndex("hi")) == 95.0))
    assert(a.map(r => r.getDouble(r.fieldIndex("v_w"))).min == 5.0)
    assert(a.map(r => r.getDouble(r.fieldIndex("v_w"))).max == 95.0)
    // in-band values untouched
    assert(a.filter(r => r.getDouble(1) == 50.0).forall(r => r.getDouble(r.fieldIndex("v_w")) == 50.0))
    // NULL value in a thresholded group stays NULL (not clamped to lo)
    assert(out.filter(r => r.getString(0) == "a" && r.isNullAt(1))
      .forall(_.isNullAt(out.head.fieldIndex("v_w"))))
    // group with no non-NULL values: no band, value passes through
    assert(out.filter(_.getString(0) == "b").forall(r =>
      r.isNullAt(r.fieldIndex("lo")) && r.isNullAt(r.fieldIndex("v_w"))))
  }

  test("compact: repacks append fragments; content identical; partitioned keeps dirs") {
    val path = tmp() + "/t"
    (1 to 6).foreach(i => df("k INT, v STRING", Row(Int.box(i), s"v$i"))
      .coalesce(1).write.mode("append").parquet(path))
    val before = canon(spark.read.parquet(path))
    val (nb, na) = TableIO.compact(spark, path)
    assert(nb >= 6 && na == 1, s"compact $nb -> $na")
    assert(canon(spark.read.parquet(path)) == before)
    // partitioned: one file per partition, partition dirs preserved
    val p2 = tmp() + "/p"
    (1 to 4).foreach(i => df("k INT, p STRING, v STRING",
        Row(Int.box(i), s"d${i % 2}", s"v$i"))
      .coalesce(1).write.mode("append").partitionBy("p").parquet(p2))
    val beforeP = canon(spark.read.parquet(p2))
    val (pb, pa) = TableIO.compact(spark, p2, partitionBy = Seq("p"))
    assert(pb >= 4 && pa == 2, s"compact $pb -> $pa")
    assert(canon(spark.read.parquet(p2)) == beforeP)
    val dirs = Option(new java.io.File(p2).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("p=d0", "p=d1"), s"got $dirs")
  }

  test("two-level partitioned upsertByKey: only touched (y, m) leaves rewrite, incl. NULL level") {
    val path = tmp() + "/t"
    val base = df("k INT, y STRING, m STRING, v STRING",
      Row(Int.box(1), "2024", "01", "a"), Row(Int.box(2), "2024", "02", "b"),
      Row(Int.box(3), "2025", "01", "c"), Row(Int.box(4), "2025", null, "d"))
    TableIO.upsertByKey(spark, path, base, Seq("k"), partitionBy = Seq("y", "m"))
    val before = dirBytes(new java.io.File(path))
    // delta updates (2024, 01), lands a row in the NULL month, and opens a
    // brand-new (2025, 03) — the multi-column touched set goes through the
    // broadcast semi-join path, not the single-column IN literal
    val delta = df("k INT, y STRING, m STRING, v STRING",
      Row(Int.box(1), "2024", "01", "A"), Row(Int.box(5), "2025", null, "e"),
      Row(Int.box(6), "2025", "03", "f"))
    TableIO.upsertByKey(spark, path, delta, Seq("k"), partitionBy = Seq("y", "m"))
    val after = dirBytes(new java.io.File(path))
    for (d <- Seq("y=2024/m=02/", "y=2025/m=01/")) {
      assert(before.view.filterKeys(_.startsWith(d)).toMap
        == after.view.filterKeys(_.startsWith(d)).toMap, s"partition $d changed")
    }
    assert(after.keys.exists(_.startsWith("y=2025/m=03/")))
    // read back with an explicit schema: a plain read would re-infer the
    // month dirs as ints ("01" → 1) — standard consumer behavior, but this
    // assertion checks the values as written
    val got = spark.read.schema("k INT, v STRING, y STRING, m STRING").parquet(path)
      .select("k", "y", "m", "v").collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(got == Map(
      1 -> (("2024", "01", "A")), 2 -> (("2024", "02", "b")),
      3 -> (("2025", "01", "c")), 4 -> (("2025", null, "d")),
      5 -> (("2025", null, "e")), 6 -> (("2025", "03", "f"))), s"got $got")
  }

  test("partitioned upsertByKey rewrites only touched partitions; untouched dirs byte-identical") {
    val path = tmp() + "/t"
    val base = df("k INT, p STRING, v STRING",
      Row(Int.box(1), "2024-01-01", "a"), Row(Int.box(2), "2024-01-01", "b"),
      Row(Int.box(3), "2024-01-02", "c"), Row(Int.box(4), "2024-01-03", "d"))
    TableIO.upsertByKey(spark, path, base, Seq("k"), partitionBy = Seq("p"))
    val before = dirBytes(new java.io.File(path))
    assert(before.keys.exists(_.startsWith("p=2024-01-02/")))
    // delta touches 2024-01-01 (update k=2) and a brand-new partition
    val delta = df("k INT, p STRING, v STRING",
      Row(Int.box(2), "2024-01-01", "B"), Row(Int.box(5), "2024-01-04", "e"))
    TableIO.upsertByKey(spark, path, delta, Seq("k"), partitionBy = Seq("p"))
    val after = dirBytes(new java.io.File(path))
    // untouched partitions: identical file names AND bytes
    for (d <- Seq("p=2024-01-02/", "p=2024-01-03/")) {
      assert(before.view.filterKeys(_.startsWith(d)).toMap
        == after.view.filterKeys(_.startsWith(d)).toMap, s"partition $d changed")
    }
    assert(after.keys.exists(_.startsWith("p=2024-01-04/")))
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "c"), (4, "d"), (5, "e")))
  }

  test("partitioned upsertByKey: a key moving partitions leaves no stale copy behind") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING",
        Row(Int.box(1), "old", "a"), Row(Int.box(2), "keep", "b")),
      Seq("k"), partitionBy = Seq("p"))
    // k=1 moves old → new, emptying partition p=old entirely
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING", Row(Int.box(1), "new", "A")),
      Seq("k"), partitionBy = Seq("p"))
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("p")),
        r.getString(r.fieldIndex("v")))).toSet
    assert(got == Set((1, "new", "A"), (2, "keep", "b")))
    assert(!new java.io.File(path, "p=old").exists)
  }

  test("partitioned upsertByKey: NULL partition values keep non-delta rows and upsert like any partition") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING",
        Row(Int.box(1), null, "a"), Row(Int.box(2), null, "b"),
        Row(Int.box(3), "x", "c")),
      Seq("k"), partitionBy = Seq("p"))
    // delta updates k=1 inside the NULL partition: k=2 must survive
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING", Row(Int.box(1), null, "A")),
      Seq("k"), partitionBy = Seq("p"))
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), Option(r.getString(r.fieldIndex("p"))),
        r.getString(r.fieldIndex("v")))).toSet
    assert(got == Set((1, None, "A"), (2, None, "b"), (3, Some("x"), "c")))
    // k=1 leaving the NULL partition must not drop k=2 with it
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING", Row(Int.box(1), "x", "A2")),
      Seq("k"), partitionBy = Seq("p"))
    val got2 = spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), Option(r.getString(r.fieldIndex("p"))))).toSet
    assert(got2 == Set((1, Some("x")), (2, None), (3, Some("x"))))
  }

  test("partitioned upsertByKey: NULL and empty-string partition values share one default partition") {
    val path = tmp() + "/t"
    // Spark writes both NULL and "" to __HIVE_DEFAULT_PARTITION__ (and reads
    // them back as NULL); the touched-partition set must not list it twice
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING",
        Row(Int.box(1), null, "a"), Row(Int.box(2), "x", "b")),
      Seq("k"), partitionBy = Seq("p"))
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING",
        Row(Int.box(3), "", "c"), Row(Int.box(1), null, "A")),
      Seq("k"), partitionBy = Seq("p"))
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), Option(r.getString(r.fieldIndex("p"))),
        r.getString(r.fieldIndex("v")))).toSet
    assert(got == Set((1, None, "A"), (2, Some("x"), "b"), (3, None, "c")), s"got $got")
  }

  test("partitioned upsertByKey: timestamp partition column swaps the dir Spark actually wrote") {
    val path = tmp() + "/t"
    val t1 = "2024-01-01 00:00:00"
    val t2 = "2024-02-01 00:00:00"
    TableIO.upsertByKey(spark, path,
      df("k INT, p TIMESTAMP, v STRING",
        Row(Int.box(1), ts(t1), "a"), Row(Int.box(2), ts(t1), "b"),
        Row(Int.box(3), ts(t2), "c")),
      Seq("k"), partitionBy = Seq("p"))
    TableIO.upsertByKey(spark, path,
      df("k INT, p TIMESTAMP, v STRING", Row(Int.box(1), ts(t1), "A")),
      Seq("k"), partitionBy = Seq("p"))
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet
    assert(got == Set((1, "A"), (2, "b"), (3, "c")),
      s"timestamp-partitioned upsert silently dropped or kept wrong rows: $got")
  }

  test("partition-level crash recovery: .__old__ restores, .__del__ completes") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING",
        Row(Int.box(1), "x", "a"), Row(Int.box(2), "y", "b")),
      Seq("k"), partitionBy = Seq("p"))
    val px = new java.io.File(path, "p=x")
    val py = new java.io.File(path, "p=y")
    // crash after stashing p=x but before moving the new dir in
    java.nio.file.Files.move(px.toPath, new java.io.File(path, "p=x.__old__").toPath)
    // crash mid-deletion of p=y
    java.nio.file.Files.move(py.toPath, new java.io.File(path, "p=y.__del__").toPath)
    val got = TableIO.read(spark, path).collect() // read triggers recovery
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("p")))).toSet
    assert(got == Set((1, "x")), s"recovery produced $got")
    assert(px.exists && !new java.io.File(path, "p=x.__old__").exists)
    assert(!py.exists && !new java.io.File(path, "p=y.__del__").exists)
  }

  test("partition-level crash recovery: staged .__new__ rolls forward; stale staging is dropped") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING",
        Row(Int.box(1), "x", "old"), Row(Int.box(2), "y", "b")),
      Seq("k"), partitionBy = Seq("p"))
    // fabricate a swap that crashed between its two renames on p=x: live
    // stashed away, complete new data staged under the dot-hidden name
    val donor = tmp() + "/donor"
    TableIO.upsertByKey(spark, donor,
      df("k INT, p STRING, v STRING", Row(Int.box(1), "x", "NEW")),
      Seq("k"), partitionBy = Seq("p"))
    java.nio.file.Files.move(new java.io.File(path, "p=x").toPath,
      new java.io.File(path, ".p=x.__old__").toPath)
    java.nio.file.Files.move(new java.io.File(donor, "p=x").toPath,
      new java.io.File(path, ".p=x.__new__").toPath)
    val got = TableIO.read(spark, path).collect() // read triggers recovery
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet
    assert(got == Set((1, "NEW"), (2, "b")), s"roll-forward produced $got")
    assert(!new java.io.File(path, ".p=x.__old__").exists)
    assert(!new java.io.File(path, ".p=x.__new__").exists)
    // staging with a live sibling is indistinguishable from an IN-FLIGHT
    // writer's (staged-before-stash window), so recovery must neither
    // resurrect it nor delete it — it is dot-hidden and the next writer of
    // the partition clears it itself
    val donor2 = tmp() + "/donor2"
    TableIO.upsertByKey(spark, donor2,
      df("k INT, p STRING, v STRING", Row(Int.box(2), "y", "STALE")),
      Seq("k"), partitionBy = Seq("p"))
    java.nio.file.Files.move(new java.io.File(donor2, "p=y").toPath,
      new java.io.File(path, ".p=y.__new__").toPath)
    val got2 = TableIO.read(spark, path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet
    assert(got2 == Set((1, "NEW"), (2, "b")), s"stale staging resurrected: $got2")
    assert(new java.io.File(path, ".p=y.__new__").exists,
      "recovery deleted a staging dir it cannot prove stale (could be an in-flight writer's)")
    // the next upsert of that partition clears the stale staging and wins
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING", Row(Int.box(2), "y", "b2")),
      Seq("k"), partitionBy = Seq("p"))
    val got3 = TableIO.read(spark, path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet
    assert(got3 == Set((1, "NEW"), (2, "b2")), s"post-staging upsert produced $got3")
    assert(!new java.io.File(path, ".p=y.__new__").exists)
  }

  test("partition delete path clears stale staging so recovery cannot resurrect deleted rows") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING", Row(Int.box(1), "x", "a"), Row(Int.box(2), "y", "b")),
      Seq("k"), partitionBy = Seq("p"))
    // leftover staging for p=y from an aborted writer, then an upsert moves
    // key 2 out of p=y (emptying the partition): the delete path must clear
    // the staging, or a later recovery would roll it into the deleted slot
    val donor = tmp() + "/donor"
    TableIO.upsertByKey(spark, donor,
      df("k INT, p STRING, v STRING", Row(Int.box(2), "y", "ZOMBIE")),
      Seq("k"), partitionBy = Seq("p"))
    java.nio.file.Files.move(new java.io.File(donor, "p=y").toPath,
      new java.io.File(path, ".p=y.__new__").toPath)
    TableIO.upsertByKey(spark, path,
      df("k INT, p STRING, v STRING", Row(Int.box(2), "x", "b")),
      Seq("k"), partitionBy = Seq("p"))
    val got = TableIO.read(spark, path).collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("p")))).toSet
    assert(got == Set((1, "x"), (2, "x")), s"moved-key upsert produced $got")
    assert(!new java.io.File(path, ".p=y.__new__").exists && !new java.io.File(path, "p=y").exists)
    TableIO.read(spark, path).count() // recovery after the delete resurrects nothing
    assert(!new java.io.File(path, "p=y").exists, "recovery resurrected a deleted partition")
  }

  test("upsertByKey sync_all_columns: same-name dataType change rewrites and recasts kept rows") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, v INT", Row(Int.box(1), Int.box(10)), Row(Int.box(2), Int.box(20))), Seq("k"))
    TableIO.upsertByKey(spark, path,
      df("k INT, v DOUBLE", Row(Int.box(2), Double.box(2.5))), Seq("k"))
    val got = spark.read.parquet(path)
    assert(got.schema("v").dataType == org.apache.spark.sql.types.DoubleType,
      s"type change must follow the delta, got ${got.schema("v").dataType}")
    val rows = got.collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getDouble(r.fieldIndex("v")))).toSet
    assert(rows == Set((1, 10.0), (2, 2.5)))
  }

  test("upsertByKey ignore-mode: drifted delta type is cast back to the target type") {
    val path = tmp() + "/t"
    TableIO.upsertByKey(spark, path,
      df("k INT, v INT", Row(Int.box(1), Int.box(10))), Seq("k"))
    TableIO.upsertByKey(spark, path,
      df("k INT, v BIGINT", Row(Int.box(3), Long.box(30L))), Seq("k"), syncAllColumns = false)
    val got = spark.read.parquet(path)
    assert(got.schema("v").dataType == org.apache.spark.sql.types.IntegerType,
      s"ignore-mode must keep the target type, got ${got.schema("v").dataType}")
    val rows = got.collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getInt(r.fieldIndex("v")))).toSet
    assert(rows == Set((1, 10), (3, 30)))
  }

  test("overwriteAtomic: self-overwrite (read table, transform, write same path)") {
    val path = tmp() + "/t"
    TableIO.overwriteAtomic(df("k INT", Row(Int.box(1)), Row(Int.box(2))), path)
    val doubled = spark.read.parquet(path).withColumn("k", col("k") * 2)
    TableIO.overwriteAtomic(doubled, path)
    assert(spark.read.parquet(path).collect().map(_.getInt(0)).toSet == Set(2, 4))
  }

  test("audit lifecycle: register idempotently, default info, hwm advance") {
    val audit = new AuditControl(spark, tmp())
    assert(!audit.info("dim_x").isInitialized) // absent → epoch default
    assert(audit.info("dim_x").hwmDate == ts("1900-01-01 00:00:00"))
    audit.ensureRegistered("dim_x", "orders", "o_orderkey")
    audit.ensureRegistered("dim_x", "orders", "o_orderkey")
    assert(audit.table.count() == 1) // idempotent (S9)
    val hwm = ts("2024-03-01 12:00:00")
    val at = ts("2024-03-02 08:00:00")
    audit.markProcessed("dim_x", hwm, lit(at))
    val i = audit.info("dim_x")
    assert(i.isProcessed && i.hwmDate == hwm && i.isInitialized)
    assert(i.lastProcessedDate.contains(at))
  }

  test("markProcessedAll: the same inputs write byte-identical audit files") {
    def parts(dir: String): Seq[Array[Byte]] = {
      val audit = new AuditControl(spark, dir)
      audit.ensureRegisteredAll(Seq(("dim_a", "t", "k"), ("dim_b", "t", "k")))
      audit.markProcessedAll(Map("dim_a" -> ts("2024-01-05 00:00:00"),
        "dim_b" -> ts("2024-01-06 00:00:00")), lit(ts("2024-02-01 00:00:00")))
      new java.io.File(dir, "audit_control").listFiles
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
        .map(f => java.nio.file.Files.readAllBytes(f.toPath))
    }
    val (a, b) = (parts(tmp()), parts(tmp()))
    assert(a.nonEmpty && a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
  }

  test("processingRange counts days from hwm to target") {
    val audit = new AuditControl(spark, tmp())
    audit.ensureRegistered("dim_y", "t", "k")
    audit.markProcessed("dim_y", ts("2024-03-01 00:00:00"), current_timestamp())
    val r = audit.processingRange("dim_y", java.time.LocalDate.parse("2024-03-04"))
    assert(r.totalDays == 3 && r.needsProcessing)
  }

  test("missingDates finds the gaps in a date spine") {
    val present = df("d DATE",
      Row(java.sql.Date.valueOf("2024-01-01")), Row(java.sql.Date.valueOf("2024-01-03")))
    val out = Ops.missingDates(present, "d", lit("2024-01-01"), lit("2024-01-04"))
    assert(out.collect().map(_.getDate(0).toString).toSet == Set("2024-01-02", "2024-01-04"))
  }

  test("missingDatesLastDays spans the trailing window ending at asOf (reference call shape)") {
    val present = df("d DATE",
      Row(java.sql.Date.valueOf("2024-01-09")), Row(java.sql.Date.valueOf("2024-01-07")))
    val out = Ops.missingDatesLastDays(present, "d", days = 7, asOf = lit("2024-01-10"))
    assert(out.collect().map(_.getDate(0).toString).toSet ==
      Set("2024-01-04", "2024-01-05", "2024-01-06", "2024-01-08", "2024-01-10"))
  }

  test("sessionize: gap starts a new session, same-instant events share one") {
    val ev = df("user_id INT, ts TIMESTAMP, event_id INT",
      Row(Int.box(1), ts("2024-01-01 10:00:00"), Int.box(1)),
      Row(Int.box(1), ts("2024-01-01 10:10:00"), Int.box(2)), // within gap
      Row(Int.box(1), ts("2024-01-01 11:00:00"), Int.box(3)), // 50 min > 30 → new
      Row(Int.box(2), ts("2024-01-01 10:00:00"), Int.box(4)))
    val out = Ops.sessionize(ev, "user_id", "ts", gapSeconds = 1800, tiebreak = Seq("event_id"))
      .collect().map(r => (r.getInt(0), r.getInt(2)) -> r.getLong(3)).toMap
    assert(out == Map((1, 1) -> 1L, (1, 2) -> 1L, (1, 3) -> 2L, (2, 4) -> 1L), s"got $out")
  }

  test("rollingWindow: trailing range includes endpoints, resets per key, ties share a frame") {
    val ev = df("user_id INT, ts TIMESTAMP, value DOUBLE",
      Row(Int.box(1), ts("2024-01-01 10:00:00"), Double.box(1.0)),
      Row(Int.box(1), ts("2024-01-01 10:30:00"), Double.box(2.0)), // 30m ≤ 1h: in frame
      Row(Int.box(1), ts("2024-01-01 11:00:00"), Double.box(4.0)), // exactly 1h back: inclusive
      Row(Int.box(1), ts("2024-01-01 13:00:00"), Double.box(8.0)), // everything expired
      Row(Int.box(2), ts("2024-01-01 10:30:00"), Double.box(16.0)), // other key untouched
      Row(Int.box(2), ts("2024-01-01 10:30:00"), Double.box(32.0))) // same instant: shared frame
    val out = Ops.rollingWindow(ev, "user_id", "ts", col("value"), 3600)
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).toString, r.getDouble(3), r.getLong(4)))
      .toSet
    assert(out == Set(
      (1, "2024-01-01 10:00:00.0", 1.0, 1L),
      (1, "2024-01-01 10:30:00.0", 3.0, 2L),
      (1, "2024-01-01 11:00:00.0", 7.0, 3L),
      (1, "2024-01-01 13:00:00.0", 8.0, 1L),
      (2, "2024-01-01 10:30:00.0", 48.0, 2L),
      (2, "2024-01-01 10:30:00.0", 48.0, 2L)), s"got $out")
  }

  test("funnel: completes in order, breaks at a missing step, >= allows same-instant steps") {
    val ev = df("u INT, ts TIMESTAMP, t STRING",
      // user 1: full funnel, click same instant as view (>= keeps it)
      Row(Int.box(1), ts("2024-01-01 10:00:00"), "view"),
      Row(Int.box(1), ts("2024-01-01 10:00:00"), "click"),
      Row(Int.box(1), ts("2024-01-01 11:00:00"), "buy"),
      // user 2: click BEFORE the first view — funnel breaks at step 2
      Row(Int.box(2), ts("2024-01-01 09:00:00"), "click"),
      Row(Int.box(2), ts("2024-01-01 10:00:00"), "view"),
      // user 3: never viewed — excluded entirely
      Row(Int.box(3), ts("2024-01-01 10:00:00"), "buy"))
    val out = Ops.funnel(ev, "u", "ts", "t", Seq("view", "click", "buy"))
      .collect().map(r => r.getInt(0) ->
        ((1 to 3).map(i => Option(r.getTimestamp(i)).map(_.toString)), r.getInt(4))).toMap
    assert(out.keySet == Set(1, 2))
    assert(out(1) == (Seq(Some("2024-01-01 10:00:00.0"), Some("2024-01-01 10:00:00.0"),
      Some("2024-01-01 11:00:00.0")), 3))
    assert(out(2) == (Seq(Some("2024-01-01 10:00:00.0"), None, None), 1))
  }

  test("redactPii replaces email/ip/phone in order and counts on the original text") {
    val docs = df("id INT, text STRING",
      Row(Int.box(1), "mail a.b@x.io and b@y.co, host 10.0.0.1, call +555 123 4567 or 555-123-4567"),
      Row(Int.box(2), "clean text"),
      Row(Int.box(3), null))
    val out = graft.operators.Corpus.redactPii(docs, "id", "text")
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(out(1) == (("mail <EMAIL> and <EMAIL>, host <IP>, call <PHONE> or <PHONE>", 2, 1, 2)))
    assert(out(2) == (("clean text", 0, 0, 0)))
    assert(out(3) == (("", 0, 0, 0)))
  }

  test("mixtureWeights: α=1 keeps natural shares; small α flattens toward uniform") {
    val docs = df("id INT, src STRING, text STRING",
      Row(Int.box(1), "big", "a b c d e f g h"), // 8 tokens
      Row(Int.box(2), "small", "a b"))           // 2 tokens
    def w(alpha: Double): Map[String, Double] =
      graft.operators.Corpus.mixtureWeights(docs, "src", "text", alpha)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(w(1.0) == Map("big" -> 0.8, "small" -> 0.2))
    val flat = w(0.1)
    assert(flat("small") > 0.2 && flat("small") < flat("big"), s"got $flat")
    assert(math.abs(flat.values.sum - 1.0) < 1e-9)
  }

  test("writeBucketed: bucket-keyed join and aggregation plan with ZERO exchanges") {
    val left = spark.range(1000).selectExpr("id as k", "id * 2 as a")
    val right = spark.range(500).selectExpr("id as k", "id * 3 as b")
    TableIO.writeBucketed(left, "bk_left", Seq("k"), numBuckets = 4, sortCols = Seq("k"))
    TableIO.writeBucketed(right, "bk_right", Seq("k"), numBuckets = 4, sortCols = Seq("k"))
    // the fixture is broadcast-sized, which would sidestep the shuffle this
    // test is about — force the shuffle-join path a 100 TB side would take
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_left").join(spark.table("bk_right"), Seq("k"))
      val jplan = joined.queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange"), s"bucketed join still shuffles:\n${jplan.take(1500)}")
      assert(joined.count() == 500)
      // aggregation on the bucket key also skips its shuffle
      val agg = spark.table("bk_left").groupBy("k").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(agg.count() == 1000)
      // correctness against the plain (shuffled) join
      assert(canon(joined) == canon(left.join(right, Seq("k"))))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_left"): Unit
      spark.sql("DROP TABLE IF EXISTS bk_right"): Unit
    }
  }

  test("date-partitioned layout turns the HWM predicate into partition pruning") {
    val path = tmp() + "/events_by_day"
    val rows = (1 to 30).map(day =>
      Row(Long.box(day.toLong), f"2024-01-$day%02d", Double.box(day * 1.0)))
    TableIO.overwriteAtomic(
      df("event_id BIGINT, day STRING, value DOUBLE", rows: _*), path,
      partitionBy = Seq("day"))
    val hwm = spark.read.parquet(path).filter(col("day") > "2024-01-27")
    val scan = hwm.queryExecution.executedPlan.collectLeaves().head.toString
    // the filter must land in PartitionFilters (directory-level pruning),
    // NOT PushedFilters (row-group level after listing everything)
    assert(scan.contains("PartitionFilters") && scan.matches("(?s).*PartitionFilters: \\[[^\\]]*2024-01-27.*"),
      s"HWM predicate not pruning partitions:\n${scan.take(800)}")
    // collect() executes THIS DataFrame's queryExecution (count() would
    // build a fresh one and leave these metrics untouched)
    assert(hwm.collect().length == 3)
    // the executed scan's metric counts files actually read post-pruning
    // (df.inputFiles would report the full pre-pruning listing)
    val numFiles = hwm.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }
    assert(numFiles.contains(3L), s"expected 3 pruned-in files, got $numFiles")
  }

  test("zorderKey: exact Morton interleave; z-layout narrows per-file ranges on BOTH dims") {
    // hand-computed: a=5 (101) → bits at 0,2,4 = 1+0+16; b=3 (011) → bits
    // at 1,3,5 = 2+8+0 → 27
    val one = df("a INT, b INT", Row(Int.box(5), Int.box(3)))
    assert(one.select(Ops.zorderKey(col("a"), col("b"), 3)).first().getLong(0) == 27L)
    assert(df("a INT, b INT", Row(Int.box(0), Int.box(0)))
      .select(Ops.zorderKey(col("a"), col("b"))).first().getLong(0) == 0L)
    // out-of-range guard: negative or >= 2^bits inputs must yield NULL,
    // never a sign-extended / truncated garbage interleave
    val bad = df("a INT, b INT", Row(Int.box(-1), Int.box(3)), Row(Int.box(8), Int.box(3)),
      Row(Int.box(3), Int.box(-5)), Row(Int.box(7), Int.box(7)))
      .select(Ops.zorderKey(col("a"), col("b"), 3).as("z")).collect()
    assert(bad.count(_.isNullAt(0)) == 3, s"expected 3 NULL keys, got ${bad.toSeq}")
    assert(bad.exists(r => !r.isNullAt(0) && r.getLong(0) == 63L)) // (7,7) at 3 bits
  }

  test("zorderKeyN: 3-D interleave matches a driver Morton reference; guards hold") {
    def morton(vals: Seq[Long], bits: Int): Long =
      (for (i <- 0 until bits; (v, j) <- vals.zipWithIndex)
        yield ((v >> i) & 1L) << (i * vals.size + j)).reduce(_ | _)
    val rnd = new scala.util.Random(5)
    val triples = Seq.fill(40)((rnd.nextInt(32).toLong, rnd.nextInt(32).toLong, rnd.nextInt(32).toLong))
    val got = df("a BIGINT, b BIGINT, c BIGINT",
        triples.map(t => Row(Long.box(t._1), Long.box(t._2), Long.box(t._3))): _*)
      .select(Ops.zorderKeyN(Seq(col("a"), col("b"), col("c")), 5).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == triples.map(t => morton(Seq(t._1, t._2, t._3), 5)))
    // 2-D compatibility: zorderKey delegates bit-identically
    assert(df("a INT, b INT", Row(Int.box(5), Int.box(3)))
      .select(Ops.zorderKeyN(Seq(col("a"), col("b")), 3)).first().getLong(0) == 27L)
    // key-width guard: 3 dims × 22 bits = 66 > 63
    intercept[IllegalArgumentException](
      Ops.zorderKeyN(Seq(col("a"), col("b"), col("c")), 22)): Unit
  }

  test("groupOls: closed-form slope/intercept/r on hand fixtures; constant-x and NULL rows") {
    val rows = Seq(
      Row("a", 0.0, 1.0), Row("a", 1.0, 3.0), Row("a", 2.0, 2.0), // slope .5, r .5
      Row("b", 5.0, 1.0), Row("b", 5.0, 9.0),                     // constant x
      Row("c", 1.0, 2.0), Row("c", 2.0, 4.0), Row("c", 3.0, 6.0), // exact line y=2x
      Row("c", null, 9.0), Row("c", 4.0, null))                   // excluded pairwise
    val got = Ops.groupOls(df("g STRING, x DOUBLE, y DOUBLE", rows: _*), Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))
      .toMap
    assert(got("a") == ((3L, Some(0.5), Some(1.5), Some(0.5), Some(0.25))))
    assert(got("b") == ((2L, None, None, None, None)))
    assert(got("c") == ((3L, Some(2.0), Some(0.0), Some(1.0), Some(1.0))))
  }

  test("editOnePairs: equals the naive all-pairs lev<=1 self-join on random corpora") {
    // random strings over a 3-letter alphabet with planted near-dups:
    // substitutions, inserts, deletes, exact dups, plus group boundaries —
    // every case class the pigeonhole blocking must not lose
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (seed <- 1 to 3; segs <- Seq(2, 3, 6)) {
      val rnd = new scala.util.Random(seed)
      val alpha = "abc"
      def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val bases = (1 to 25).map(_ => randStr(1 + rnd.nextInt(10)))
      val mutated = bases.flatMap { s =>
        val i = rnd.nextInt(s.length)
        Seq(s,
          s.updated(i, alpha(rnd.nextInt(alpha.length))),         // substitution (or dup)
          s.patch(i, Seq(alpha(rnd.nextInt(alpha.length))), 0),   // insert
          if (s.length > 1) s.patch(i, Nil, 1) else s)            // delete (or dup)
      }
      val rows = mutated.zipWithIndex.map { case (s, i) =>
        Row(Long.box(i.toLong), Int.box(i % 2), s)
      }
      val d = df("id BIGINT, grp INT, name STRING", rows: _*)
      val got = Ops.editOnePairs(d, "id", "name", Seq("grp"), segments = segs)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      val naive = (for {
        Row(i1: java.lang.Long, g1: Integer, s1: String) <- rows
        Row(i2: java.lang.Long, g2: Integer, s2: String) <- rows
        if g1 == g2 && i1 < i2 && lev(s1, s2) <= 1
      } yield (i1.toLong, i2.toLong)).toSet
      assert(got == naive,
        s"seed=$seed segs=$segs: missing=${naive -- got} extra=${got -- naive}")
    }
    // locality: 32×32 grid written as 8 range-partitioned files; under the
    // z-key both x and y cluster, under an x-sort only x does. Compare the
    // summed per-file (max−min) widths of both dimensions
    val grid = spark.range(32L * 32)
      .selectExpr("cast(id % 32 as int) as x", "cast(id div 32 as int) as y")
    def avgWidths(sorted: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val path = tmp() + "/layout"
      sorted.write.parquet(path)
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("wx"), (max(col("y")) - min(col("y"))).as("wy"))
        .agg(avg(col("wx")), avg(col("wy"))).first()
      (perFile.getDouble(0), perFile.getDouble(1))
    }
    val (zx, zy) = avgWidths(grid.repartitionByRange(8, Ops.zorderKey(col("x"), col("y"), 5)))
    val (xx, xy) = avgWidths(grid.repartitionByRange(8, col("x")))
    // x-sort: x clusters tightly but y spans the full range in every file;
    // z-order: both stay bounded, so the combined footprint is smaller
    assert(zx + zy < xx + xy, s"z-order ($zx, $zy) not tighter than x-sort ($xx, $xy)")
    assert(zy < xy / 2, s"z-order y-width $zy not well below x-sort's $xy")
  }

  test("groupQuantiles: percentile_disc per group over the histogram, nulls excluded") {
    val d = df("g STRING, v INT",
      (Seq.tabulate(10)(i => Row("a", Int.box(i + 1))) :+ // a: 1..10
        Row("b", Int.box(5)) :+ Row("b", Int.box(5)) :+ Row("b", Int.box(7)) :+
        Row("b", null)): _*)
    val out = Ops.groupQuantiles(d, Seq("g"), col("v"), ps = Seq(0.5, 0.9, 1.0))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    // a: n=10 → p50 = smallest v with cum ≥ 5 → 5; p90 → cum ≥ 9 → 9; p100 → 10
    // b: n=3 (null dropped) → p50: cum ≥ 2 → 5; p90: cum ≥ 3 → 7; p100 → 7
    assert(out == Map("a" -> ((10L, 5, 9, 10)), "b" -> ((3L, 5, 7, 7))), s"got $out")
  }

  test("dedupFirst keeps exactly the first row per key by the given order") {
    val d = df("k INT, v INT", Row(Int.box(1), Int.box(10)),
      Row(Int.box(1), Int.box(20)), Row(Int.box(2), Int.box(5)))
    val out = Ops.dedupFirst(d, Seq("k"), Seq(col("v").desc))
    assert(out.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == Set((1, 20), (2, 5)))
  }

  test("saltedJoin equals plain join on skewed data, inner and left") {
    // 100 rows of hot key 1, a few of key 2, small side misses key 3
    val big = spark.range(100).selectExpr("1 as k", "id as payload")
      .unionByName(spark.range(5).selectExpr("2 as k", "id + 1000 as payload"))
      .unionByName(spark.range(2).selectExpr("3 as k", "id + 2000 as payload"))
    val small = df("k INT, name STRING", Row(Int.box(1), "hot"), Row(Int.box(2), "warm"))
      .selectExpr("cast(k as bigint) as k", "name")
    val plainInner = big.join(small, Seq("k"), "inner")
    assert(canon(Ops.saltedJoin(big, small, Seq("k"), 8, "inner")) == canon(plainInner))
    val plainLeft = big.join(small, Seq("k"), "left")
      .select("k", "payload", "name")
    assert(canon(Ops.saltedJoin(big, small, Seq("k"), 8, "left")
      .select("k", "payload", "name")) == canon(plainLeft))
  }

  test("bloomSemiJoin equals plain semi join; prefilter sits before the join; nulls drop") {
    // built from range, not a LocalRelation — ConvertToLocalRelation would
    // otherwise evaluate the bloom Filter at plan time and hide it
    val big = spark.range(200).selectExpr(
      "CASE WHEN id % 10 = 0 THEN NULL ELSE 'key' || id END AS k", "cast(id AS int) AS v")
    val keys = df("kk STRING", (0 until 200 by 3).map(i => Row(s"key$i")): _*)
    val out = Ops.bloomSemiJoin(big, keys, "k", "kk", mBits = 256, numHashes = 3)
    val plain = big.join(keys.withColumnRenamed("kk", "k"), Seq("k"), "left_semi")
    assert(canon(out) == canon(plain))
    assert(out.filter(col("k").isNull).count() == 0)
    // the bloom probe (md5 bit tests) must appear as a Filter in the plan —
    // that is the entire point of the operator
    assert(out.queryExecution.executedPlan.toString.contains("md5"))
    // tiny filter (mBits=256, 67 keys, 3 hashes): false positives are
    // expected and MUST be cleaned up by the residual join — same result
    val saturated = Ops.bloomSemiJoin(big, keys, "k", "kk", mBits = 64, numHashes = 2)
    assert(canon(saturated) == canon(plain))
  }

  test("DimDate: 5844 rows 2020→2035, leap day present, ISO weekday correct") {
    val dd = DimDate(spark).cache()
    assert(dd.count() == 5844) // reference cardinality (dim_date.sql:1)
    assert(dd.filter(col("month") === 2 && col("day_of_month") === 29).count() == 4)
    // 2024-01-01 was a Monday
    val r = dd.filter(col("date_day") === lit("2024-01-01").cast("date"))
      .select("day_of_week_iso", "day_name", "is_leap_year").head
    assert(r.getInt(0) == 1 && r.getString(1) == "Monday" && r.getBoolean(2))
    dd.unpersist()
  }
}
