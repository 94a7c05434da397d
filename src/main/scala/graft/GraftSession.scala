package graft

import org.apache.spark.sql.{Encoders, SparkSession}

/** The session bootstrap a graft deployment REQUIRES — one place owning
  * the confs that make the library's declared layouts actually pay off,
  * instead of a copy-pasted trio drifting across entry points.
  *
  *  - the v2 bucketing trio: without it, co-bucketed GraftTables
  *    ([[graft.core.GraftTable.writeBucketed]] → `bucket(n, key)`
  *    partitioning) join with two full exchanges the layout exists to
  *    delete — at 100 TB, the dominant cost of every fact⋈fact join;
  *  - `partiallyClusteredDistribution`: the storage-partitioned-join
  *    SKEW ESCAPE. Without it a hot bucket (the reference's dummy-member
  *    key-0 attractor, `models/dwh/fact_order.sql:17-19`) serializes its
  *    whole join into ONE task — the way AQE handles shuffle skew
  *    unasked, a graft session must handle SPJ skew unasked. The conf
  *    is Spark's own (SPARK-42038): the skewed side keeps its input
  *    splits, the other side replicates per split, results unchanged
  *    (q180 hash-gates that; GraftSpjSpec pins multi-task execution in
  *    a DEFAULT graft session with no per-query conf).
  *
  * THE documented trade (Spark 4.x, `KeyGroupedShuffleSpec
  * .canCreatePartitioning`): while the skew escape is on, Spark refuses
  * to shuffle an UNBUCKETED join side by the bucket function — a mixed
  * bucketed⋈unbucketed join plans ordinary exchanges instead of the
  * one-side function shuffle. The default chooses the escape because
  * the failure modes are asymmetric: a serialized hot bucket is one
  * task grinding through a fact table's hottest key (a cluster-killer
  * that AQE cannot touch — there is no exchange to re-split), while the
  * lost one-side shuffle degrades to exchanges AQE still coalesces. A
  * stage dominated by mixed joins opts out by setting
  * `partiallyClusteredDistribution.enabled=false` for that stage
  * (GraftSpjSpec pins both directions of the trade).
  *
  * Use [[configure]] on a builder ([[harness]] and the tests do), or copy
  * [[RequiredConfs]] into `spark-defaults.conf` for a deployed cluster.
  * All of these are Spark-native confs — a graft
  * table read through a session missing them is still CORRECT, just
  * slower (exchanges reappear; hot buckets serialize; small-R shuffles
  * degenerate into per-reducer file churn). */
object GraftSession {

  val RequiredConfs: Seq[(String, String)] = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
    // Route EVERY SQL shuffle to the serialized (Unsafe) writer, never the
    // bypass-merge writer. Bypass fires when reduce-partition count R ≤ 200
    // and opens R temp files PER MAP TASK, then concatenates them via
    // mmap+transferTo — O(M×R) file creates plus an munmap (= cross-core
    // TLB shootdown) per spliced block. Measured at local[32]/R=32: task
    // threads spend most of their runtime in FileOutputStream.open0/
    // unmap0/writeMetadataFileAndCommit, and the r15 scaling lab shows
    // 4-8× task-runtime inflation vs local[8] from this alone (q24
    // 43→10 s runTime, q121 37→7 s with the writer switched). The
    // serialized writer buffers in memory pages, radix-sorts by partition
    // id, and writes ONE file per map task regardless of R. On a
    // production cluster R is in the thousands, bypass never fires, and
    // this conf is a no-op — it exists to stop the small-R regime (which
    // is exactly what AQE-coalesced 100 MB-sized stages produce) from
    // degenerating into file-system churn that scales with core count.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    // Keep Tungsten memory pages below G1's humongous-object threshold.
    // The default page size is heap-derived (min(64 MB, heap/cores/16) —
    // 16 MB at 8 g/32 cores) and lands square in G1's humongous range
    // (region/2, 2 MB at an 8 g heap), so every serialized-shuffle /
    // hash-map / sort page allocation is a humongous allocation: the r15
    // scaling lab measured 29.5 s of GC in one q118 run from exactly this
    // once the serialized writer (above) started paging, vs 3.9-4.6 s at
    // 1 MB pages. Records larger than a page still get a dedicated page
    // (MemoryConsumer.allocatePage takes max(pageSize, required)), so
    // nothing breaks; the cost is more page boundaries per big sort,
    // which the same lab could not measure. Off-heap execution memory is
    // the production-cluster alternative (measured here too: still 18 s
    // GC spikes — the page churn is not the only humongous source), and
    // a fixed 1 MB page is the one that behaves on every heap size.
    "spark.buffer.pageSize" -> "1m",
    // Hold every generated class one Northwind build compiles. The cache
    // is keyed by (context class loader, source) and defaults to 100
    // entries, while a two-cycle sf0.01 build compiles 426 distinct
    // bodies and one perfbench table-DML round 103: at 100, 332 of the
    // build's 999 compiles recompiled a class the cache had evicted.
    // 2000 holds a build plus several DML rounds under both loaders with
    // headroom, and the larger cache did not raise the build's peak RSS
    // (2769 → 2117 MB, one traced run each on 4 cores). The conf is
    // STATIC — read once, when the JVM first generates code — so it can
    // only live in the session bootstrap, never in a per-query conf.
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    RequiredConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The session every measurement main (Bench, Verify and the tools)
    * runs in, so their numbers describe one program: [[RequiredConfs]] on
    * `local[cpus]` with `cpus` shuffle partitions, AQE, nanosecond
    * parquet timestamps read as longs (`events.parquet`), UTC and no UI.
    * `extra` confs apply last and win over the ones above. */
  def harness(cpus: String, extra: (String, String)*): SparkSession =
    (Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra)
      .foldLeft(configure(SparkSession.builder().master(s"local[$cpus]"))) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()

  /** Runs `body` with this session's SQL-task class loader as the calling
    * thread's context class loader, restoring the old one afterwards.
    *
    * Spark's codegen cache keys a compiled class by (context class loader,
    * source). In local mode a SQL task runs in the driver's JVM but under
    * the loader of the session's isolated executor state, not under the
    * driver thread's loader, so every whole-stage class compiled on the
    * driver (plan-time compile check) compiled a second time in the first
    * task that ran it: 241 of a build's 999 compiles. Under the task
    * loader the driver's compile is the task's cache hit. Together with the cache size above, a two-cycle
    * sf0.01 build compiles 486 classes instead of 1,053 (cycle 1: 380 →
    * 252, cycle 2: 616 → 179; on task threads 671 → 195).
    *
    * The price: that loader resolves a class name it lacks by asking the
    * driver's class server, so a driver-side compile under it averages
    * 55 ms against 13 ms under the application loader (4-core host,
    * local[4]). The executor also
    * drops a session's loader after 30 idle minutes; a later body then
    * runs under the stale one, which costs only the shared cache hits.
    *
    * Threads started inside `body` inherit the loader, so Spark's own
    * exchange and broadcast pools spawned from it compile under the same
    * key. Outside local mode tasks run in other JVMs and share no cache
    * with the driver: `body` runs unchanged. */
  def withTaskClassLoader[A](spark: SparkSession)(body: => A): A =
    taskClassLoader(spark) match {
      case None => body
      case Some(l) =>
        val t = Thread.currentThread
        val old = t.getContextClassLoader
        t.setContextClassLoader(l)
        try body finally t.setContextClassLoader(old)
    }

  /** The context class loader `spark`'s SQL tasks run under, in local
    * mode; learned once per session from a one-row Dataset action (a
    * plain `sc.runJob` task would report the executor's default loader,
    * which SQL tasks do not use) and None outside local mode. */
  private[graft] def taskClassLoader(spark: SparkSession): Option[ClassLoader] =
    if (!spark.sparkContext.isLocal) None
    else learned.synchronized {
      Option(learned.get(spark)).getOrElse {
        val id = java.util.UUID.randomUUID.toString
        spark.range(1).map((_: java.lang.Long) => {
          probed.put(id, Thread.currentThread.getContextClassLoader)
          0
        }, Encoders.scalaInt).collect()
        val l = Option(probed.remove(id))
        learned.put(spark, l)
        l
      }
    }

  private val learned = new java.util.WeakHashMap[SparkSession, Option[ClassLoader]]
  private val probed = new java.util.concurrent.ConcurrentHashMap[String, ClassLoader]
}
