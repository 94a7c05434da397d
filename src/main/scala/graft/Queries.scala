package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.audit.AuditControl
import graft.core.TableIO
import graft.functions.SqlFunctions._
import graft.functions.TextFunctions._
import graft.operators._
import graft.scd.{Scd2, Scd2Config}
import graft.sources.Tables

/** The operator inventory (SURVEY §2 + LLM-pipeline extensions), each entry a
  * named query over the testdata star schema with a DuckDB oracle.
  *
  * Cross-engine parity conventions (see SqlFunctions):
  *  - timestamps cross the boundary as epoch micros (BIGINT);
  *  - double aggregates go through exact decimal(18,4) sums, then one cast
  *    to double — immune to summation-order drift between engines;
  *  - every hash is MD5 over '-'-joined string casts of ints/strings only.
  */
object Queries {

  private type QFn = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- helpers

  /** Exact double aggregation: sum(cast(x as decimal(18,4)))::double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Epoch micros of any timestamp flavor (parquet ms columns arrive as
    * TIMESTAMP_NTZ; session TZ is UTC, so the cast is value-preserving). */
  private def micros(c: Column): Column = unix_micros(c.cast("timestamp"))

  private val EnStop = graft.functions.TextFunctions.EnStop

  /** Per-JVM memo for IMMUTABLE query fixtures, keyed by dataset dir —
    * the [[graft.northwind.NorthwindWarehouse.ensureBuilt]] pattern
    * generalized. A query whose timed operator is a READ / JOIN / fold
    * over tables it first writes (a commit history for a CDF consumer,
    * co-bucketed join inputs, a boundary-aligned stats layout) builds
    * them ONCE per (process, dataset): Verify and the correctness gate
    * see identical results (the build is deterministic and the fixture
    * never mutates after it), while Bench's 3-run median times the
    * operator under test instead of re-paying the fixture writes every
    * run — round 13's official bench timed out on exactly that
    * (BENCH_r13.json rc=124; the CDF family alone re-built ~115 s of
    * multi-commit histories per pass). Queries that TIME writers (q16/
    * q17/q30/q36, DML/maintenance gates) do not use this — their writes
    * ARE the operator. Returns the memoized build's value. */
  private object Fixture {
    private val builtFor = scala.collection.mutable.Map.empty[String, (String, Any)]
    def ensure[T](id: String, d: String)(build: => T): T = synchronized {
      builtFor.get(id) match {
        case Some((`d`, v)) => v.asInstanceOf[T]
        case _ =>
          val v = build
          builtFor(id) = (d, v)
          v
      }
    }
  }

  // ------------------------------------------------------ warehouse queries

  /** A1/A3-style aggregation with filter pushdown (TPC-H Q1 shape). */
  def aggPushdown(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** J1 star join with broadcastable dims (region/nation/supplier tiny). */
  def starJoin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** P1/P2 + CDC envelope staging (reference stg_customers shape). */
  def stagingEnvelope(s: SparkSession, d: String): DataFrame =
    Staging.stage(Tables.customer(s, d),
      Seq("customer_id" -> col("c_custkey"), "name" -> col("c_name"),
        "segment" -> col("c_mktsegment"), "nation_id" -> col("c_nationkey")),
      hashCols = Seq("customer_id", "name", "segment"))
      .drop("dl_process_date") // ingest timestamp is nondeterministic by design

  /** F1 surrogate keys incl. NULL coalescing. */
  def surrogateKeys(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("customer_id"),
      surrogateKey(col("c_custkey"), col("c_name"), col("c_nationkey")).as("sk"),
      surrogateKey(col("c_custkey"), lit(null), col("c_mktsegment")).as("sk_null_mid"))

  /** P5/W1 ordered dedup: latest order per customer. */
  def dedupRank(s: SparkSession, d: String): DataFrame =
    Ops.dedupFirst(Tables.orders(s, d), Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderkey"),
        micros(col("o_orderdate")).as("order_us"), col("o_totalprice"))

  /** J4 left-semi via IN-subquery semantics. */
  def semiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** J5 left-anti (NOT EXISTS). */
  def antiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** C1 high-watermark filter. */
  def hwmFilter(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("ts") > to_timestamp(lit("2024-01-20")))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts_us"))

  /** W2 hash-diff CDC change detection (lag). */
  def cdcChangeDetect(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("row_hash", rowHash(col("event_type")))
      .withColumn("prev_hash", lag(col("row_hash"), 1).over(w))
      .withColumn("upd_ind",
        when(col("prev_hash").isNull, lit("I"))
          .when(col("prev_hash") =!= col("row_hash"), lit("U"))
          .otherwise(lit("X")))
      .filter(col("upd_ind").isin("I", "U")) // P6 no-op suppression
      .select(col("event_id"), col("user_id"), col("upd_ind"))
  }

  private def userScdConfig = Scd2Config(
    businessKey = Seq("user_id"), effectiveCol = "ts",
    payload = Seq("event_type"), tiebreak = Seq("event_id"))

  private def userEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("row_hash", rowHash(col("event_type")))

  private val scdOutCols: Seq[Column] = Seq(col("sk"), col("user_id"),
    col("event_type"), col("row_hash"), col("version_no"), col("is_active"),
    micros(col("effective_date")).as("effective_us"),
    micros(col("expiry_date")).as("expiry_us"))

  /** §2.5 SCD2 window algorithm, batch build over full history. */
  def scd2History(s: SparkSession, d: String): DataFrame =
    Scd2.fromHistory(userEvents(s, d), userScdConfig).select(scdOutCols: _*)

  /** §2.5 + S4: the same dimension built INCREMENTALLY in two batches through
    * the merge/upsert path — must converge to the batch result (the C2
    * replay-collapse property, checked against the same oracle as
    * scd2_history). */
  def scd2Incremental(s: SparkSession, d: String): DataFrame = {
    val ev = userEvents(s, d)
    val split = to_timestamp(lit("2024-01-15"))
    // cache: merge consumes dim1 twice (touched-keys semi-join replay,
    // untouched-keys anti-join) — without this the full first-batch
    // window recomputes per consumer
    // (not unpersisted: the returned lazy plan still references dim1)
    val dim1 = Scd2.fromHistory(ev.filter(col("ts") < split), userScdConfig).cache()
    Scd2.merge(dim1, ev.filter(col("ts") >= split), userScdConfig).select(scdOutCols: _*)
  }

  /** J3 temporal (as-of) join: purchases probe the user dimension version
    * valid at the purchase timestamp (half-open [effective, expiry)). */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Scd2.fromHistory(userEvents(s, d), userScdConfig)
    val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
    AsOf.pointInTime(purchases, dim, "user_id", "user_id", col("__fact.ts"), "inner")
      .select(col("__fact.event_id").as("event_id"), col("__fact.user_id").as("user_id"),
        col("__fact.ts_us").as("ts_us"), col("__dim.sk").as("sk"),
        col("__dim.version_no").as("version_no"))
  }

  /** J3 + dummy-member fallback: dim restricted to even keys, failed lookups
    * coalesce to the key-0 dummy SK (reference fact_order.sql:17-19). */
  def dummyFallback(s: SparkSession, d: String): DataFrame = {
    val dim = Scd2.fromHistory(
      Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
        .withColumn("eff0", epochTs)
        .withColumn("row_hash", rowHash(col("c_name"))),
      Scd2Config(Seq("c_custkey"), "eff0", payload = Seq("c_name")))
    AsOf.pointInTime(Tables.orders(s, d), dim, "o_custkey", "c_custkey",
        col("__fact.o_orderdate"))
      .select(col("__fact.o_orderkey").as("o_orderkey"),
        col("__fact.o_custkey").as("o_custkey"),
        AsOf.resolveSk(col("__dim.sk")).as("sk"))
  }

  /** F16 generated date dimension (2020→2035, 5,844 rows). */
  def dimDate(s: SparkSession, d: String): DataFrame = DimDate(s)

  /** C8 gap detection: date spine anti-join. */
  def missingDates(s: SparkSession, d: String): DataFrame =
    Ops.missingDates(Tables.orders(s, d), "o_orderdate",
      lit("1995-01-01"), lit("1995-03-31"))

  /** C4-C6 audit lifecycle: register (idempotently, twice), load, advance the
    * HWM to max(ts), read back. State lives in a scratch dir; the returned
    * frame is the audit table minus the wall-clock column. */
  def auditLifecycle(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_audit").toString
    val audit = new AuditControl(s, root)
    audit.ensureRegistered("dim_user", "events", "user_id")
    audit.ensureRegistered("dim_user", "events", "user_id") // idempotent (S9)
    val hwm = Tables.events(s, d).agg(max(col("ts"))).first().getTimestamp(0)
    audit.markProcessed("dim_user", hwm, current_timestamp())
    audit.table.select(col("dimension_name"), col("driver_table"), col("business_key"),
      micros(col("hwm_date")).as("hwm_us"), col("is_processed"), col("is_initialized"))
  }

  /** S4 incremental upsert writer: base load, then a keyed upsert of modified
    * rows ('F'-status orders at doubled price); result read back from disk. */
  def incrementalUpsert(s: SparkSession, d: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/orders_t"
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    TableIO.upsertByKey(s, path, orders, Seq("o_orderkey"))
    val modified = orders.filter(col("o_orderstatus") === "F")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    TableIO.upsertByKey(s, path, modified, Seq("o_orderkey"))
    TableIO.readParquet(s, path)
  }

  /** W1 windowed top-N per group. */
  def topnPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d).withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
  }

  /** Tumbling-window aggregation (streaming-equivalent batch query; the
    * Structured Streaming path over the same rows must match — StreamingSpec).
    * withWatermark is a no-op on a batch Dataset, so this IS the streaming
    * transformer, run in batch. */
  def windowedAgg(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.windowedAgg(Tables.events(s, d), "ts", "event_type", "value")
      .select(micros(col("window_start")).as("window_us"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Corpus token-length audit: exact histogram-based percentiles. */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    Corpus.tokenStats(Tables.documents(s, d), "text")

  /** Gap-based sessionization of the user event stream (30-min gap),
    * aggregated to one row per session. */
  def sessionizeQ(s: SparkSession, d: String): DataFrame =
    Ops.sessionize(Tables.events(s, d), "user_id", "ts", gapSeconds = 1800,
        tiebreak = Seq("event_id"))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(micros(col("ts"))).as("start_us"),
        max(micros(col("ts"))).as("end_us"))

  /** C7/S10 late-arriving-dimension repair: facts first resolve against a
    * partial dim (odd keys fail to the dummy SK), then repairFailedLookups
    * re-resolves them against the full dim — the reference's post-hook
    * UPDATE (fact_order_fail_lookup.sql) as a targeted rewrite. */
  def repairLookup(s: SparkSession, d: String): DataFrame = {
    def dimOf(pred: Column): DataFrame = Scd2.fromHistory(
      Tables.customer(s, d).filter(pred)
        .withColumn("eff0", epochTs)
        .withColumn("row_hash", rowHash(col("c_name"))),
      Scd2Config(Seq("c_custkey"), "eff0", payload = Seq("c_name")))
    val partial = dimOf(col("c_custkey") % 2 === 0)
    val full = dimOf(lit(true))
    val firstPass = AsOf.pointInTime(Tables.orders(s, d), partial, "o_custkey", "c_custkey",
        col("__fact.o_orderdate"))
      .select(col("__fact.o_orderkey").as("o_orderkey"),
        col("__fact.o_custkey").as("o_custkey"),
        col("__fact.o_orderdate").as("o_orderdate"),
        AsOf.resolveSk(col("__dim.sk")).as("sk"))
    AsOf.repairFailedLookups(firstPass,
        full.withColumnRenamed("c_custkey", "k"), "o_custkey", "k",
        col("__fact.o_orderdate"), "sk")
      .select("o_orderkey", "o_custkey", "sk")
  }

  /** S11/E3 dbt-style snapshot over the user event stream. */
  def snapshotQ(s: SparkSession, d: String): DataFrame =
    Scd2.snapshot(userEvents(s, d), userScdConfig)
      .select(col("dbt_scd_id"), col("user_id"), col("event_type"), col("row_hash"),
        micros(col("dbt_valid_from")).as("valid_from_us"),
        micros(col("dbt_valid_to")).as("valid_to_us"))

  /** S11/E3 steady state: the same snapshot built INCREMENTALLY in two
    * batches through [[Scd2.snapshotMerge]] — must converge to the batch
    * snapshot (checked against the q31 oracle). */
  def snapshotIncrementalQ(s: SparkSession, d: String): DataFrame = {
    val ev = userEvents(s, d)
    val split = to_timestamp(lit("2024-01-15"))
    // cache: snapshotMerge consumes snap1 twice (touched-keys replay,
    // untouched-keys anti-join)
    val snap1 = Scd2.snapshot(ev.filter(col("ts") < split), userScdConfig).cache()
    Scd2.snapshotMerge(snap1, ev.filter(col("ts") >= split), userScdConfig)
      .select(col("dbt_scd_id"), col("user_id"), col("event_type"), col("row_hash"),
        micros(col("dbt_valid_from")).as("valid_from_us"),
        micros(col("dbt_valid_to")).as("valid_to_us"))
  }

  /** Multimodal decode: binary media column → typed metadata via the
    * per-partition mapPartitions decoder (stubbed kernel, real plumbing). */
  def multimodalDecode(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal.decodeMeta(
      graft.multimodal.Multimodal.asMediaTable(
        Tables.documents(s, d), "doc_id", "text", "text/plain")).toDF()

  // ----------------------------------------------------- text/dedup queries

  /** Token counting + quality scoring over documents. */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      tokenCount(col("text")).as("token_count"),
      charCount(col("text")).as("char_count"),
      round(avgWordLen(col("text")), 6).as("avg_word_len"),
      round(punctRatio(col("text")), 6).as("punct_ratio"),
      round(stopwordRatio(col("text"), EnStop), 6).as("stopword_ratio"),
      qualityScore(col("text"), EnStop).as("quality"))

  /** Stopword-profile language ID heuristic. */
  def langIdQ(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), langId(col("text")).as("lang_pred"),
      langScore(col("text"), "en").as("en_hits"), langScore(col("text"), "de").as("de_hits"),
      langScore(col("text"), "fr").as("fr_hits"), langScore(col("text"), "es").as("es_hits"))

  /** Exact dedup by normalized-content fingerprint. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")

  /** MinHash signatures (k=8 over word-3-gram shingles), flattened. */
  def minhashSig(s: SparkSession, d: String): DataFrame = {
    val withSig = Ops.spread(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("__t"))
      .filter(size(col("__t")) >= 3) // token-count filter: see Dedup scaladoc
      .select(col("doc_id"), shinglesOfTokens(col("__t"), 3).as("sh"))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 8))
    withSig.select(col("doc_id") +: (0 until 8).map(i =>
      element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** MinHash LSH near-dup candidate pairs, Jaccard-verified. */
  def lshPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
      shingleWords = 3, k = 8, bands = 4, threshold = 0.05)

  /** 32-bit SimHash signatures. */
  def simhashQ(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))

  /** Near-dup clusters: the q24 pair list → connected components → one
    * canonical (min) id per cluster — what a dedup pipeline keeps. */
  def nearDupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        shingleWords = 3, k = 8, bands = 4, threshold = 0.05),
      outIdCol = "doc_id")

  /** Direct n-gram Jaccard pairs via the shared-shingle inverted index. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      shingleWords = 3, threshold = 0.1, maxShingleFreq = 1000)

  /** Brute-force cosine top-5 for the first 20 query vectors. */
  def embeddingTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5)
  }

  /** LSH-bucketed ANN top-5 (sign-random-projection, 4 planes). */
  def embeddingLshAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5, planes = 4)
  }

  /** IVF ANN top-5: inverted-file coarse quantizer, nlist=16, nprobe=4. */
  def embeddingIvfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5,
      nlist = 16, nprobe = 4)
  }

  /** q127: the same IVF search run through a PERSISTED index
    * ([[Similarity.buildIvfIndex]] → [[Similarity.ivfIndexTopK]]):
    * centroids and clustered postings committed as GraftTables, the
    * query scan file-skipping to the probed lists. Shares q34's oracle —
    * the gate proves index-then-query ≡ ad-hoc, the property that makes
    * index reuse safe. */
  def embeddingIvfIndexAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // the persisted index is an immutable fixture — index REUSE is the
    // property under test (and under time); build it once per dataset
    val idx = Fixture.ensure("q127", d) {
      val p = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString + "/ivf"
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", p, nlist = 16)
      p
    }
    Similarity.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", 5, nprobe = 4)
  }

  /** IVFPQ ANN: product-quantized codes + ADC scoring within probed lists
    * (integer-exact micro-unit L2 — no rounding contract at all). */
  def embeddingPqAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5,
      nlist = 16, nprobe = 4, m = 8, ksub = 16)
  }

  private lazy val q102Root: String =
    java.nio.file.Files.createTempDirectory("graft_agg_state").toString

  private lazy val q103Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_travel").toString

  private lazy val q104Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_pruned").toString

  /** q103: versioned-table time travel (SURVEY S6, the reference's
    * `AT (TIMESTAMP => …)` — stg_dim_customer.sql:71): three commits
    * (history load, append of the remainder, keyed correction), then every
    * SNAPSHOT read back by version and aggregated. The oracle rebuilds
    * each version's expected state declaratively, so the gate proves the
    * manifest log preserves exact point-in-time contents — not just the
    * latest state. */
  def timeTravelQ(s: SparkSession, d: String): DataFrame = {
    val root = q103Root
    TableIO.clearDir(root)
    val path = s"$root/orders_v"
    val split = to_timestamp(lit("1996-01-01"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    graft.core.GraftTable.overwrite(orders.filter(col("o_orderdate") < split), path)
    graft.core.GraftTable.append(orders.filter(col("o_orderdate") >= split), path)
    graft.core.GraftTable.upsertByKey(s, path,
      orders.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2), Seq("o_orderkey"))
    (1L to 3L).map { v =>
      graft.core.GraftTable.readVersion(s, path, v).agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_price"))
        .select(lit(v).as("v"), col("n_orders"), col("total_price"))
    }.reduce(_ unionByName _)
  }

  private lazy val q138Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_sql").toString

  /** q138: SQL-dialect time travel — the same 3-commit history as q103,
    * but every snapshot is read back through PURE SQL TEXT via the
    * [[graft.plans.GraftSql]] table-valued functions
    * (`graft_table_version` for the version pins, `graft_table` for the
    * head) — the dialect-level counterpart of the reference's
    * `AT (TIMESTAMP => …)` (stg_dim_customer.sql:71), where q103 gates
    * the Scala API. Same oracle shape as q103. */
  def sqlTimeTravelQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    graft.plans.GraftSql.install(s)
    val root = q138Root
    TableIO.clearDir(root)
    val path = s"$root/orders_v"
    val split = to_timestamp(lit("1996-01-01"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.overwrite(orders.filter(col("o_orderdate") < split), path)
    GraftTable.append(orders.filter(col("o_orderdate") >= split), path)
    GraftTable.upsertByKey(s, path,
      orders.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2), Seq("o_orderkey"))
    def agg(v: Long, from: String) =
      s"""SELECT CAST($v AS BIGINT) AS v, count(1) AS n_orders,
         |CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
         |FROM $from""".stripMargin
    s.sql(Seq(
      agg(1, s"graft_table_version('$path', 1)"),
      agg(2, s"graft_table_version('$path', 2)"),
      agg(3, s"graft_table('$path')")).mkString("\nUNION ALL\n"))
  }

  private lazy val q114Root: String =
    java.nio.file.Files.createTempDirectory("graft_formats").toString

  /** q114: source/sink format round-trip — the same order rows written to
    * and read back from CSV (header, explicit schema), JSON lines, and
    * ORC; each format's read-back aggregates identically (timestamps,
    * doubles, and strings survive every serialization). The gate fails if
    * ANY format drifts a value. */
  def multiFormatQ(s: SparkSession, d: String): DataFrame = {
    val root = q114Root
    TableIO.clearDir(root)
    val rows = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    val schema = rows.schema
    rows.write.mode("overwrite").option("header", "true").csv(s"$root/csv")
    rows.write.mode("overwrite").json(s"$root/json")
    rows.write.mode("overwrite").orc(s"$root/orc")
    Seq(
      "csv" -> s.read.schema(schema).option("header", "true").csv(s"$root/csv"),
      "json" -> s.read.schema(schema).json(s"$root/json"),
      "orc" -> s.read.schema(schema).orc(s"$root/orc")
    ).map { case (fmt, df) =>
      df.agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_price"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
        max(micros(col("o_orderdate"))).as("last_order_us"))
        .select(lit(fmt).as("fmt"), col("*"))
    }.reduce(_ unionByName _)
  }

  /** q115: k-anonymity suppression over (priority, status, order-year)
    * quasi-identifiers — cohorts below k drop; the gate checks BOTH the
    * surviving cohorts (size ≥ k) and the suppression audit trail
    * (per-cohort sizes of everything), i.e. the operator keeps exactly
    * the HAVING-count-≥-k rows. */
  def kAnonymityQ(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.orders(s, d).select(col("o_orderpriority"), col("o_orderstatus"),
      year(col("o_orderdate")).cast("long").as("yr"), col("o_orderkey"))
    Corpus.kAnonymize(rows, Seq("o_orderpriority", "o_orderstatus", "yr"), k = 150)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"), col("yr"))
      .agg(count(lit(1)).as("n_kept"), max(col("group_n")).as("group_n"))
  }

  /** q112: time-series gap fill — daily revenue per order priority over
    * the January-1995 spine, LOCF on the running price level, zero-fill
    * on the additive count ([[Ops.gapFill]]); days without orders appear
    * with carried/zeroed measures. */
  def gapFillQ(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1995-02-01")))
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("revenue"))
    Ops.gapFill(daily, Seq("o_orderpriority"), "day", "1995-01-01", "1995-01-31",
        ffillCols = Seq("revenue"), zeroFillCols = Seq("n_orders"))
      .select(col("o_orderpriority"), micros(col("day").cast("timestamp")).as("day_us"),
        col("n_orders"), col("revenue").cast("double").as("revenue"))
  }

  /** q113: wide→long UNPIVOT (melt) of lineitem's four measures, then a
    * per-measure rollup — the inverse surface of q72's pivot. Unpivot is
    * a per-row Expand (no shuffle of its own); the rollup is one
    * combinable aggregation. */
  def unpivotQ(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity").cast("double"),
        col("l_extendedprice").cast("double"), col("l_discount").cast("double"),
        col("l_tax").cast("double"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "val")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("val").cast("decimal(18,4)")).cast("double").as("total"),
        min(col("val")).as("min_val"), max(col("val")).as("max_val"))

  /** q110: bucketized RANGE join — orders priced into overlapping price
    * bands (stride 3000, width 6000) through [[Ops.rangeJoin]], which
    * turns the non-equi BETWEEN into a bucket EQUI join + residual filter
    * (a bare BETWEEN join plans BroadcastNestedLoop — the O(n·m) trap;
    * PlanAudit pins the equi shape). Aggregated per band. */
  def rangeJoinQ(s: SparkSession, d: String): DataFrame = {
    val bands = s.range(0, 200).select(col("id").as("band_id"),
      (col("id") * 3000).cast("double").as("lo"),
      (col("id") * 3000 + 5999).cast("double").as("hi"))
    val pts = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    Ops.rangeJoin(pts, bands, "o_totalprice", "lo", "hi", bucketWidth = 3000.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** q111: dbt generic schema tests over the raw tables — the four test
    * types at their dbt semantics (NULL handling included), one report
    * row per check. Deliberately includes FAILING checks (events.value
    * nulls, duplicated document texts, non-click/view event types) so the
    * gate proves violation COUNTING, not just green paths. */
  def qualitySuiteQ(s: SparkSession, d: String): DataFrame = {
    import graft.quality.Checks
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    val events = Tables.events(s, d)
    val documents = Tables.documents(s, d)
    val lineitem = Tables.lineitem(s, d)
    val part = Tables.part(s, d)
    Checks.suite(Seq(
      Checks.notNull(orders, "o_custkey", "orders.o_custkey"),
      Checks.notNull(events, "value", "events.value"),
      Checks.unique(orders, "o_orderkey", "orders.o_orderkey"),
      Checks.unique(documents, "text", "documents.text"),
      Checks.acceptedValues(orders, "o_orderstatus", Seq("O", "F", "P"),
        "orders.o_orderstatus"),
      Checks.acceptedValues(events, "event_type", Seq("click", "view"),
        "events.event_type"),
      Checks.relationships(orders, "o_custkey", customer, "c_custkey",
        "orders.o_custkey->customer.c_custkey"),
      Checks.relationships(lineitem, "l_partkey", part, "p_partkey",
        "lineitem.l_partkey->part.p_partkey")))
  }

  /** q108: BPE merge-table training on the documents corpus (100 merges,
    * rare-word tail pruned). Fully DuckDB-gated since round 9: the merge
    * loop replays as a bounded iterative CTE (OracleSql.bpeCte — pair
    * counts → tie-broken argmax → greedy non-overlapping application per
    * level); `BpeSpec` additionally pins the algorithm against
    * hand-computed merge sequences and deterministic tie-breaks. */
  def bpeTrainQ(s: SparkSession, d: String): DataFrame =
    Bpe.trainBpe(Tables.documents(s, d), "text", numMerges = 100)

  /** q109: corpus encoded with the q108 merges — per-doc BPE token
    * counts and an md5 of the token stream. DuckDB-gated via the q135
    * word-token fixture: document encoding factors into split + join +
    * aggregate over the per-word table, which IS the oracle SQL;
    * `BpeSpec` pins encode semantics including the memoization path. */
  def bpeEncodeQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Bpe.applyBpe(docs, "text", Bpe.trainBpe(docs, "text", numMerges = 100)).toDF()
  }

  /** q116: tokenizer fertility by language — BPE tokens per word,
    * grouped by the n-gram language id (the standard tokenizer-eval
    * metric: a vocabulary trained on one language mix "taxes" the
    * others with higher fertility). DuckDB-gated like q109 (q135
    * fixture join + the q21 langid SQL). */
  def fertilityQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val enc = Bpe.applyBpe(docs, "text", Bpe.trainBpe(docs, "text", numMerges = 100))
      .toDF().filter(col("n_words") > 0)
    val lang = docs.select(col("doc_id"),
      graft.functions.TextFunctions.langId(col("text")).as("lang"))
    enc.join(lang, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"), sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        round(sum(col("n_bpe_tokens")) / sum(col("n_words")), 6).as("fertility"))
  }

  /** q135: the corpus's distinct words encoded with the q108 merges —
    * (word, n_tokens, toks). The per-word half of BPE materialized as a
    * relation: the FIXTURE that makes q109/q116 DuckDB-verifiable
    * (document encoding = split + join + aggregate over this table).
    * Fully DuckDB-gated since round 9: the final symbol state of the
    * OracleSql.bpeCte training replay IS the per-word encoding (training
    * and encode share the single-merge kernel); BpeSpec additionally
    * gates it against an independently-formulated plain-Scala
    * trainer/encoder. */
  def bpeVocabQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Bpe.encodeWords(docs, "text", Bpe.trainBpe(docs, "text", numMerges = 100)).toDF()
  }

  /** q117: BM25 top-10 retrieval for a fixed 3-term query over the
    * documents table — the lexical-search complement to q52's TF-IDF
    * (same inverted-index scale shape, scoring per Robertson & Zaragoza
    * 2009). */
  def bm25Q(s: SparkSession, d: String): DataFrame =
    Corpus.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      Seq("spark", "merge", "window"), k = 10)

  /** q118: PageRank centrality over the distinct product co-purchase
    * graph (parts sharing an order, both directions) — the link-quality
    * prior a web-corpus pipeline computes over its host graph, exercised
    * here on the densest graph the star schema induces. The edge build
    * is [[Graph.basketPairs]]: baskets over 64 items drop WHOLE before
    * pairing (the hot-basket fanout guarantee; a no-op on TPC-H's ≤7-item
    * orders, enforced in code and mirrored in the oracle). */
  def pageRankQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val e = Graph.basketEdges(li, "l_orderkey", "l_partkey", maxBasketItems = 64)
    Graph.pageRank(e, "src", "dst", iterations = 5, distinctEdges = true)
  }

  /** q119: per-node triangle counts over the support-≥2 co-purchase
    * graph (parts sharing ≥2 orders — the market-basket support
    * threshold that keeps the graph sparse as the corpus grows), via
    * degree-ordered orientation. Exact integers end to end. Edge build
    * capped like q118 ([[Graph.basketPairs]], 64). */
  def triangleQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val und = Graph.basketPairs(li, "l_orderkey", "l_partkey", maxBasketItems = 64)
      .filter(col("w") >= 2)
      .select(col("src"), col("dst"))
    Graph.triangleCounts(und, "src", "dst")
  }

  /** q120: cohort retention — users bucketed by first-activity ISO week,
    * distinct-active-user counts at each week offset (the classic
    * triangle-shaped retention table; weekly grain because the events
    * fixture spans one month). Cohort assignment is a window min over
    * the distinct (user, week) activity frame, so the whole query is ONE
    * user-keyed shuffle plus the final combinable rollup. Week starts
    * are exact multiples of 7 days apart, so the offset division is
    * exact in either engine. */
  def retentionQ(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("m"))
      .distinct()
    val c = min(col("m")).over(Window.partitionBy(col("user_id")))
    act.withColumn("c", c)
      .groupBy(col("c"),
        (datediff(to_date(col("m")), to_date(col("c"))) / 7).cast("long")
          .as("weeks_since"))
      .agg(count(lit(1)).as("n_users"))
      .select(unix_micros(col("c")).as("cohort_us"),
        col("weeks_since"), col("n_users"))
  }

  /** q121: label-propagation communities (3 deterministic rounds,
    * min-label tie-break) over the same support-≥2 co-purchase graph as
    * q119 — the product-affinity clustering a recommender derives from
    * the basket graph. Edge build capped like q118
    * ([[Graph.basketPairs]], 64). */
  def lpaQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val und = Graph.basketPairs(li, "l_orderkey", "l_partkey", maxBasketItems = 64)
      .filter(col("w") >= 2)
      .select(col("src"), col("dst"))
    Graph.labelPropagation(und, "src", "dst", rounds = 3)
  }

  /** q122: event-type transition matrix (first-order Markov chain over
    * each user's event sequence) — transition counts and row-normalized
    * probabilities, the standard user-journey / next-action model. */
  def transitionsQ(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type")).agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("event_type"))).cast("double"), 6))
  }

  /** q124: pairwise association rules over per-user event-type baskets
    * ([[graft.operators.Mining.associationRules]]) — exact integer
    * support counts plus support/confidence/lift, the market-basket
    * co-occurrence model applied to user event histories. */
  def assocRulesQ(s: SparkSession, d: String): DataFrame =
    Mining.associationRules(
      Tables.events(s, d).select(col("user_id"), col("event_type")),
      "user_id", "event_type", minSupportCount = 2)

  /** q125: copy-on-write DELETE WHERE on GraftTable
    * ([[graft.core.GraftTable.deleteWhere]]): a keyed slice of orders is
    * deleted under a stats cover (only files whose o_orderkey range
    * intersects the slice are even probed on the clustered layout), and
    * the surviving snapshot must equal the declarative complement. The
    * pre-delete version stays time-travel-readable (GraftTableSpec);
    * vacuum completes the physical purge — the storage half of the q101
    * opt-out erasure story. */
  def deleteWhereQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_del").toString
    val path = s"$root/orders_d"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    GraftTable.deleteWhere(s, path,
      col("o_orderkey").between(1000L, 3000L) && col("o_orderstatus") === "F",
      pruneRanges = Seq(GraftTable.ColRange("o_orderkey", Some(1000L), Some(3000L))))
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  /** q126: copy-on-write UPDATE WHERE on GraftTable
    * ([[graft.core.GraftTable.updateWhere]]): a keyed slice gets a
    * status correction and a 10% price adjustment (the assignment reads
    * the row's own columns); the snapshot must equal the declarative
    * CASE-WHEN complement. Same touched-file discipline as q125. */
  def updateWhereQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_upd").toString
    val path = s"$root/orders_u"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    GraftTable.updateWhere(s, path,
      col("o_orderkey").between(1000L, 3000L) && col("o_orderstatus") === "O",
      Map("o_orderstatus" -> lit("P"),
        // decimal-exact adjustment (the engine-portable convention):
        // double×double + round drifts between engines on .5 edges
        "o_totalprice" -> (col("o_totalprice").cast("decimal(18,4)") *
          lit(BigDecimal("1.1")).cast("decimal(2,1)")).cast("double")),
      pruneRanges = Seq(GraftTable.ColRange("o_orderkey", Some(1000L), Some(3000L))))
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  private lazy val q107Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_diff").toString

  /** q107: version CDC — [[graft.core.GraftTable.diffVersions]] over a
    * 4-commit history (load < 1996, append the rest, keyed correction,
    * shrinking overwrite), every adjacent diff classified
    * insert/update/delete and union-tagged. The oracle re-derives each
    * diff declaratively from the raw table — the consumer side of S6
    * (Snowflake `CHANGES`, Delta CDF). */
  def versionDiffQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    // the 4-commit history is an immutable fixture; the timed operator
    // is the version-diff classification over it
    val path = Fixture.ensure("q107", d) {
      val root = q107Root
      TableIO.clearDir(root)
      val p = s"$root/orders_v"
      val split = to_timestamp(lit("1996-01-01"))
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      GraftTable.overwrite(orders.filter(col("o_orderdate") < split), p)
      GraftTable.append(orders.filter(col("o_orderdate") >= split), p)
      GraftTable.upsertByKey(s, p,
        orders.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2), Seq("o_orderkey"))
      GraftTable.overwrite(
        GraftTable.read(s, p).filter(col("o_orderkey") % 7 =!= 0), p)
      p
    }
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).map { case (a, b) =>
      GraftTable.diffVersions(s, path, a, b, Seq("o_orderkey"))
        .withColumn("from_v", lit(a)).withColumn("to_v", lit(b))
    }.reduce(_ unionByName _)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), micros(col("o_orderdate")).as("order_us"),
        col("change_type"), col("from_v"), col("to_v"))
  }

  private lazy val q137Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_cdf").toString

  /** q137: change-log-chain CDC — [[graft.core.GraftTable.diffVersions]]
    * over MULTI-COMMIT spans of a logged history (load < 1996, append the
    * rest, F-status repricing upsert, keyed delete of every 5th order),
    * where the per-commit [[graft.core.GraftTable.ChangeLog]] chain —
    * not a two-snapshot comparison — derives the changed-file sets: the
    * 1→2 span is append-only (no join at all), 1→4 and 2→4 replay
    * append+upsert+delete logs. LeafManifestSpec proves the chain parses
    * no leaf manifest and reads no unchanged file (proof by deletion);
    * this gate pins the row-level change semantics against a declarative
    * oracle. */
  def cdfChainQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    // the logged 4-commit history is an immutable fixture; the timed
    // operator is the change-log-chain replay over its spans
    val path = Fixture.ensure("q137", d) {
      val root = q137Root
      TableIO.clearDir(root)
      val p = s"$root/orders_cdf"
      val split = to_timestamp(lit("1996-01-01"))
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      GraftTable.overwrite(orders.filter(col("o_orderdate") < split), p)
      GraftTable.append(orders.filter(col("o_orderdate") >= split), p)
      GraftTable.upsertByKey(s, p,
        orders.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2), Seq("o_orderkey"))
      GraftTable.deleteByKey(s, p,
        orders.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey")),
        Seq("o_orderkey"))
      p
    }
    Seq((1L, 2L), (1L, 4L), (2L, 4L)).map { case (a, b) =>
      GraftTable.diffVersions(s, path, a, b, Seq("o_orderkey"))
        .withColumn("from_v", lit(a)).withColumn("to_v", lit(b))
    }.reduce(_ unionByName _)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), micros(col("o_orderdate")).as("order_us"),
        col("change_type"), col("from_v"), col("to_v"))
  }

  /** q105: substring-level exact-duplicate detection (Lee et al. 2021
    * ExactSubstr family) — per document, tokens covered by a 6-token
    * window that occurs >= 2 times anywhere in the corpus, merged into
    * maximal spans. Grams shuffle as xxhash64 longs; the oracle works on
    * the gram strings (collision-free at fixture scale by construction). */
  def dupSpansQ(s: SparkSession, d: String): DataFrame =
    Corpus.duplicateSpans(Tables.documents(s, d), "doc_id", "text", k = 6)

  /** q106: duplicated-span REMOVAL keeping the corpus-first occurrence
    * (min (doc_id, pos)); the cleaned text crosses the gate as an md5 so
    * reassembly order and boundary handling are pinned exactly. */
  def dupRemoveQ(s: SparkSession, d: String): DataFrame =
    Corpus.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text", k = 6)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean_text").cast("binary")).as("clean_hash"))

  /** q104: stats-pruned scan over a range-CLUSTERED versioned table —
    * monthly revenue for 1995-H1 read through [[graft.core.GraftTable
    * .readPruned]], which drops every file whose [min,max] o_orderdate
    * range misses the predicate (file-skipping = partition pruning
    * without a directory layout; GraftTableSpec pins the skip counts).
    * The residual exact filter runs on the surviving files only. */
  def prunedScanQ(s: SparkSession, d: String): DataFrame = {
    // immutable clustered layout; the timed operator is the stats-
    // pruned scan + rollup
    val path = Fixture.ensure("q104", d) {
      val root = q104Root
      TableIO.clearDir(root)
      val p = s"$root/orders_c"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      graft.core.GraftTable.writeClustered(orders, p, col("o_orderdate"), numFiles = 16)
      p
    }
    val scan = graft.core.GraftTable.readPruned(s, path, Seq(graft.core.GraftTable.ColRange(
      "o_orderdate", Some(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
      Some(java.sql.Timestamp.valueOf("1995-07-01 00:00:00")))))
    scan.df.filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1995-07-01")))
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
      .select(micros(col("month")).as("month_us"), col("n_orders"), col("revenue"))
  }

  /** q102: incremental aggregate maintenance — a per-customer order
    * rollup maintained across two date-split batches must equal the
    * from-scratch GROUP BY the oracle runs (merge-of-partials ≡
    * aggregate-of-everything; sums in decimal so batch order is
    * irrelevant). */
  def incrementalAggQ(s: SparkSession, d: String): DataFrame = {
    val root = q102Root
    TableIO.clearDir(root)
    val path = s"$root/rollup"
    val orders = Tables.orders(s, d)
    val split = to_date(lit("1995-01-01"))
    val aggs = Seq("sum" -> "o_totalprice", "min" -> "o_orderdate", "max" -> "o_orderdate")
    TableIO.upsertAggregate(s, path, orders.filter(col("o_orderdate") < split),
      Seq("o_custkey"), aggs)
    TableIO.upsertAggregate(s, path, orders.filter(col("o_orderdate") >= split),
      Seq("o_custkey"), aggs)
    TableIO.read(s, path).select(col("o_custkey"), col("n_rows"),
      col("sum_o_totalprice").cast("double").as("total_price"),
      micros(col("min_o_orderdate")).as("first_us"),
      micros(col("max_o_orderdate")).as("last_us"))
  }

  /** q100: per-group winsorization — event values clamp to the exact
    * [p1, p99] percentile_disc band of their event type. */
  def winsorizeQ(s: SparkSession, d: String): DataFrame =
    Ops.winsorize(Tables.events(s, d), Seq("event_type"), "value")
      .select(col("event_id"), col("event_type"), col("value"),
        col("lo"), col("hi"), col("value_w"))

  /** q101: opt-out erasure — deterministic id and content deletion lists;
    * the content list removes every copy of an opted-out text, the audit
    * reason survives per row. */
  def optOutQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val byId = docs.filter(col("doc_id") % 97 === 3).select(col("doc_id"))
    val byContent = docs.filter(col("doc_id") % 101 === 7)
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    Corpus.applyOptOut(docs, "doc_id", "text", byId, byContent)
      .select(col("doc_id"), col("removed_reason"))
  }

  /** q99: the SQL entry surface — q02's star join expressed as literal
    * `spark.sql` text over registered temp views (with the broadcast hints
    * as SQL hints). One engine, two front doors: a reference user can keep
    * writing SQL and get the same Catalyst plan the DataFrame surface
    * gets; the oracle is q02's verbatim. */
  def sqlSurfaceQ(s: SparkSession, d: String): DataFrame = {
    Seq("lineitem" -> Tables.lineitem(s, d), "orders" -> Tables.orders(s, d),
      "customer" -> Tables.customer(s, d), "nation" -> Tables.nation(s, d),
      "region" -> Tables.region(s, d))
      .foreach { case (n, df) => df.createOrReplaceTempView(s"v_$n") }
    s.sql("""
      SELECT /*+ BROADCAST(v_nation), BROADCAST(v_region) */
             r_name, n_name,
             cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double) AS revenue,
             count(*) AS n_lines
      FROM v_lineitem
      JOIN v_orders   ON l_orderkey = o_orderkey
      JOIN v_customer ON o_custkey = c_custkey
      JOIN v_nation   ON c_nationkey = n_nationkey
      JOIN v_region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name""")
  }

  /** q97: k-NN label prediction — majority vote of the exact top-5 cosine
    * neighbors, (votes desc, smallest label) tie-break. */
  def knnPredictQ(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.knnPredict(emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
      "label", 5)
  }

  /** q98: fixed-weight linear quality classifier (logit + keep sign) over
    * the text feature set — exp-free so both engines agree bit-for-bit. */
  def qualityLogitQ(s: SparkSession, d: String): DataFrame =
    Corpus.qualityLogit(Tables.documents(s, d), "doc_id", "text")

  /** q96: HTML/markup cleaning over documents augmented with a
    * deterministic markup envelope (tags, entities, a double-encoded
    * `&amp;lt;` exercising the decode-order guard). */
  def cleanMarkupQ(s: SparkSession, d: String): DataFrame = {
    val aug = Tables.documents(s, d).select(col("doc_id"),
      concat(coalesce(col("text"), lit("")),
        lit(" <b>doc "), col("doc_id").cast("string"),
        lit("</b> &amp;lt; &quot;q&#39;s&quot;&nbsp;end <br/>")).as("text"))
    Corpus.cleanMarkup(aug, "doc_id", "text")
  }

  /** q95: IVFPQ with the exact re-rank refine step — ADC winnows over
    * compressed codes, the top-32 shortlist refetches original vectors and
    * re-scores exact cosine (AnnRecallSpec measures the recall lift over
    * raw ADC). */
  def embeddingPqRerank(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5,
      nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 32)
  }

  /** Embedding near-duplicate pairs: cosine >= 0.45 over banded-LSH
    * candidates (12 tables × 6 sign bits — no all-pairs join; the oracle
    * regenerates the same MD5 Rademacher buckets). */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDup(Tables.embeddings(s, d), "vec_id", "embedding", 0.45,
        bands = 12, rowsPerBand = 6, dims = 64)
      .withColumn("cosine", round(col("cosine"), 6))

  /** Rolling-hash fingerprint + BPE-ish token counting (text mandate). */
  def fingerprintTokens(s: SparkSession, d: String): DataFrame =
    Ops.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("text"), normalizeText(col("text")).as("__nt"))
      .select(col("doc_id"),
        rollingFingerprint(col("__nt"), 5).as("rolling_fp"),
        bpeishTokenCount(col("text")).as("bpeish_tokens"),
        tokenCount(col("text")).as("ws_tokens"))

  /** Reproducible corpus split: content-stable hash buckets → 80/10/10. */
  def corpusSplit(s: SparkSession, d: String): DataFrame =
    Corpus.splitAssign(Tables.documents(s, d).select("doc_id"), "doc_id", seed = "graft")

  /** Token-budget sequence packing: sharded contiguous bins of ~2048 tokens. */
  def corpusPack(s: SparkSession, d: String): DataFrame =
    Corpus.packByTokenBudget(Tables.documents(s, d), "doc_id", "text",
      budget = 2048, shards = 16)

  /** Benchmark decontamination: docs sharing any 8-gram with the probe set
    * (docs 0-4 stand in for an eval benchmark). */
  def corpusDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Corpus.decontaminate(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 5), "text", n = 8)
  }

  /** Corpus-frequency segment dedup: 3-token windows repeated across > 5
    * distinct docs are boilerplate — drop them everywhere and reassemble. */
  def segmentDedup(s: SparkSession, d: String): DataFrame =
    Corpus.dedupSegments(Tables.documents(s, d), "doc_id", "text",
      windowTokens = 3, maxDocFreq = 5)

  /** Composable quality-rule filter with per-rule audit flags. */
  def qualityFilterQ(s: SparkSession, d: String): DataFrame =
    Corpus.qualityFilter(Tables.documents(s, d), "doc_id", "text")

  /** Deterministic stratified sampling by language. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    Corpus.sampleStratified(
      Tables.documents(s, d).select("doc_id", "lang"), "doc_id", "lang",
      rates = Seq("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3, "es" -> 0.2, "zh" -> 0.1),
      defaultRate = 0.05, seed = "graft")

  /** Spherical k-means cluster assignment over the embedding corpus
    * (quantized micro-unit arithmetic — engine-exact, see
    * [[graft.operators.Cluster]]). */
  def kmeansQ(s: SparkSession, d: String): DataFrame =
    Cluster.kmeansAssign(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 8, iters = 3)

  /** SemDeDup: within-cluster semantic near-duplicates at cosine >= 0.45
    * (q29's global threshold — the cluster structure bounds the pair work). */
  def semanticDedupQ(s: SparkSession, d: String): DataFrame =
    Cluster.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 8, iters = 3, tau = 0.45)

  /** Linear-counting distinct sketch: estimated distinct content
    * fingerprints per source (engine-exact, unlike HLL — see Ops scaladoc). */
  def distinctSketchQ(s: SparkSession, d: String): DataFrame =
    Ops.distinctSketch(Tables.documents(s, d), Seq("source"),
      graft.functions.TextFunctions.fingerprint(col("text")), m = 4096)

  /** q129: incrementally MAINTAINED distinct-count state — the corpus
    * arrives in 3 batches, each folded into a persisted bucket-bitmap
    * table through [[graft.core.TableIO.upsertAggregate]]'s bit_or
    * channel ([[Ops.distinctStateRows]]); the estimate read equals a
    * one-shot sketch over everything (the bit_or monoid), which is what
    * the declarative oracle computes. COUNT DISTINCT as a maintainable
    * aggregate — q102's rollup upkeep extended past the sum/min/max
    * monoid. */
  def distinctStateQ(s: SparkSession, d: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft_dstate").toString + "/state"
    val docs = Tables.documents(s, d)
    (0 until 3).foreach { b =>
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
      TableIO.upsertAggregate(s, path,
        Ops.distinctStateRows(batch, Seq("source"),
          graft.functions.TextFunctions.fingerprint(col("text")), m = 4096),
        Seq("source", "widx"), Seq("bit_or" -> "word"))
    }
    Ops.estimateDistinctFromState(
      TableIO.readParquet(s, path).withColumnRenamed("bit_or_word", "word"),
      Seq("source"), "word", 4096)
  }

  /** Unigram cross-entropy quality score (CCNet perplexity-filter shape). */
  def crossEntropyQ(s: SparkSession, d: String): DataFrame =
    Corpus.crossEntropyScore(Tables.documents(s, d), "doc_id", "text")

  /** Overlapping token chunks (size 32, stride 24) for retrieval prep. */
  def chunkTokensQ(s: SparkSession, d: String): DataFrame =
    Corpus.chunkTokens(Tables.documents(s, d), "doc_id", "text",
      size = 32, stride = 24)

  /** Per-source quota capping: at most 20 docs per source by seeded hash. */
  def stratumQuotaQ(s: SparkSession, d: String): DataFrame =
    Corpus.stratumQuota(Tables.documents(s, d).select("doc_id", "source"),
      "doc_id", "source", maxPerStratum = 20, seed = "graft")

  /** Count-min-sketch heavy hitters: top-20 tokens by sketch estimate,
    * exact counts alongside (one-sided error made visible). */
  def heavyHittersQ(s: SparkSession, d: String): DataFrame =
    Corpus.heavyHittersCms(Tables.documents(s, d), "text",
      depth = 4, width = 256, k = 20, minSupport = 2L)

  /** Content-defined chunking: hash-triggered cuts (~16-token chunks) whose
    * identity survives upstream edits — the CDC dedup unit. */
  def cdcChunksQ(s: SparkSession, d: String): DataFrame =
    Corpus.cdcChunks(Tables.documents(s, d), "doc_id", "text", mod = 16)

  /** DSIR importance weights: hashed-bigram LM log-ratio of the English
    * slice (target) vs the whole corpus (raw). */
  def importanceQ(s: SparkSession, d: String): DataFrame =
    Corpus.importanceWeights(Tables.documents(s, d), "doc_id", "text",
      col("lang") === "en", n = 2, buckets = 1024)

  /** Real codec round-trip: synthesize deterministic PNGs, then header-only
    * ImageIO decode — generate∘decode = identity is the oracle contract. */
  def mediaDecodeQ(s: SparkSession, d: String): DataFrame = {
    // spread first: the PNG encode is CPU-bound per row, and a single-file
    // scan would otherwise run the whole codec pass in one task
    val media = graft.multimodal.Multimodal.synthesizeImages(
      Ops.spread(Tables.documents(s, d).select("doc_id")), "doc_id")
    graft.multimodal.Multimodal.decodeMeta(media).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("format"))
  }

  /** E2E corpus refinery: quality → exact dedup → decontamination → split,
    * one disposition row per document (docs 0-4 are the probe set). */
  def corpusRefineQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Corpus.refine(docs, "doc_id", "text", docs.filter(col("doc_id") < 5), "text")
  }

  /** Curriculum deciles: cross-entropy scores binned 1..10 by the
    * histogram-CDF quantile assignment (no global row sort). */
  def curriculumQ(s: SparkSession, d: String): DataFrame = {
    val scored = Corpus.crossEntropyScore(Tables.documents(s, d), "doc_id", "text")
    Corpus.quantileBuckets(scored.select(col("doc_id"), col("xent")), "xent", q = 10)
      .select(col("doc_id"), col("xent"), col("bucket").as("decile"))
  }

  /** JL random projection 64 → 16 dims (integer-exact Rademacher signs);
    * coordinates flattened to scalar columns for the oracle gate (the q23
    * convention — the gate's compare can't sort array cells). */
  def randomProjectQ(s: SparkSession, d: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(s, d), "vec_id", "embedding",
      outDims = 16, dims = 64)
      .select(col("vec_id") +: (0 until 16).map(j =>
        element_at(col("proj"), j + 1).as(f"p$j%02d")): _*)

  /** Bloom-pruned semi join: lineitem against the small-size part list —
    * exact semi-join result, non-members dropped pre-shuffle. */
  def bloomSemiQ(s: SparkSession, d: String): DataFrame =
    Ops.bloomSemiJoin(
      Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_quantity"),
      Tables.part(s, d).filter(col("p_size") <= 5).select("p_partkey"),
      "l_partkey", "p_partkey")

  /** Gram matrix of the embedding corpus (PCA/whitening prep). */
  def gramMatrixQ(s: SparkSession, d: String): DataFrame =
    Cluster.gramMatrix(Tables.embeddings(s, d), "embedding")

  /** Top-3 TF-IDF salient terms per document. */
  def tfidfTopkQ(s: SparkSession, d: String): DataFrame =
    Corpus.tfidfTopK(Tables.documents(s, d), "doc_id", "text", k = 3)

  /** Within-doc repetition counts (Gopher-style quality signal) — exact
    * integer gram counts; the ratio is a trivial downstream division
    * (emitting it would gate cross-engine float rounding, not semantics). */
  def repetitionCounts(s: SparkSession, d: String): DataFrame =
    Ops.spread(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        size(rawShinglesOfTokens(col("__t"), 3)).cast("long").as("n_grams"),
        size(array_distinct(rawShinglesOfTokens(col("__t"), 3))).cast("long").as("n_distinct"))

  /** Multimodal seam exercised END-TO-END: the stub per-partition feature
    * kernel over the documents corpus feeds the exact ANN operator (16-dim
    * byte-histogram features → cosine top-5 for the first 20 docs). Gates
    * the full distributed plumbing — binary payload column, mapPartitions
    * batch shape, Array[Float] encoder — against an oracle that recomputes
    * the same features declaratively. */
  def mmFeatureAnn(s: SparkSession, d: String): DataFrame = {
    // NOT spread: the stub feature kernel is md5-cheap, and the repartition
    // would shuffle full text payloads for no codec win (A/B: 1.5 s → 2.7 s)
    val media = graft.multimodal.Multimodal.asMediaTable(
      Tables.documents(s, d), "doc_id", "text", "text/plain")
    val feats = graft.multimodal.Multimodal.extractFeatures(media, dims = 16).toDF()
    Similarity.bruteForceTopK(feats.filter(col("doc_id") < 20), feats, "doc_id", "features", 5)
  }

  /** Skew-salted join (identical result to the plain join — the oracle IS
    * the plain join; the salt only reshapes the shuffle). */
  def saltedJoinQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_extendedprice"))
    val p = Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_name"))
    Ops.saltedJoin(li, p, Seq("l_partkey"), salt = 8)
      .groupBy("p_name")
      .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
  }

  /** PII scrub: deterministic synthetic PII (email, IPv4, phone) appended
    * per doc — both engines build the identical augmented text, so the
    * redaction + counts gate the regex kernels, not the fixture. */
  def piiRedactQ(s: SparkSession, d: String): DataFrame = {
    val aug = Tables.documents(s, d).select(col("doc_id"),
      concat(coalesce(col("text"), lit("")),
        lit(" reach u"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call 555-123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    Corpus.redactPii(aug, "doc_id", "text")
  }

  /** Temperature-scaled source mixing weights (α = 0.5 upweights
    * low-resource sources). */
  def mixtureWeightsQ(s: SparkSession, d: String): DataFrame =
    Corpus.mixtureWeights(Tables.documents(s, d), "source", "text", alpha = 0.5)

  /** Trailing-1-hour rolling sum/count per user (RANGE frame over event
    * time — W5). */
  def rollingWindowQ(s: SparkSession, d: String): DataFrame =
    Ops.rollingWindow(Tables.events(s, d), "user_id", "ts", col("value"), 3600)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("rolling_sum"), col("rolling_n"))

  /** Pivot: daily event counts spread across one column per event type
    * (explicit value list — the scale-safe pivot; letting Spark scan for
    * distinct values adds a job). */
  def pivotCountsQ(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .select(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
  }

  /** ROLLUP grouping sets: revenue by (year, month) with subtotal and
    * grand-total rows, grouping flags disambiguating NULL keys. */
  def rollupRevenueQ(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"), col("o_totalprice"))
      .rollup("o_year", "o_month")
      .agg(grouping(col("o_year")).cast("int").as("g_year"),
        grouping(col("o_month")).cast("int").as("g_month"),
        dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .select(col("o_year"), col("o_month"), col("g_year"), col("g_month"),
        col("revenue"), col("n_orders"))

  /** Ordered funnel view → click → purchase per user (steps at-or-after
    * the previous step's earliest completion). */
  def funnelQ(s: SparkSession, d: String): DataFrame =
    Ops.funnel(Tables.events(s, d), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select(col("user_id"), micros(col("step1_ts")).as("step1_us"),
        micros(col("step2_ts")).as("step2_us"),
        micros(col("step3_ts")).as("step3_us"), col("depth"))

  /** Native session_window sessionization, batch mode (30-min gap; closes
    * at last event + gap; an exactly-gap-later event still extends the
    * session — windows merge when they overlap OR touch, the same
    * strictly-greater break rule as q47's sessionize). Streaming parity is
    * asserted in StreamingSpec. */
  def sessionWindowQ(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.sessionAgg(Tables.events(s, d), "ts", "user_id",
        gap = "30 minutes")
      .select(col("user_id"), micros(col("session_start")).as("start_us"),
        micros(col("session_end")).as("end_us"), col("n_events"))

  /** Bigram conditional LM: top-3 next tokens per prefix with conditional
    * probability, over prefixes seen ≥ 100 times. */
  def ngramLmQ(s: SparkSession, d: String): DataFrame =
    Corpus.ngramLm(Tables.documents(s, d), "text", n = 2, k = 3, minPrefixTotal = 100L)

  /** One scratch state dir per JVM for q77 (the q36Root convention). */
  private lazy val q77Root: String =
    java.nio.file.Files.createTempDirectory("graft_dedup_state").toString

  /** Incremental exact dedup across two ingestion batches sharing one
    * persisted fingerprint state table: batch 2's duplicates of batch-1
    * content are dropped by the state anti-join, not by luck of a global
    * groupBy. Since batch 1's ids all precede batch 2's, the union equals
    * single-pass exact dedup — the equivalence the oracle re-derives. */
  def incrementalDedupQ(s: SparkSession, d: String): DataFrame = {
    val root = q77Root
    TableIO.clearDir(root)
    val docs = Tables.documents(s, d)
    val b1 = Corpus.dedupIncremental(s, s"$root/state",
      docs.filter(col("doc_id") < 250), "doc_id", "text").withColumn("batch", lit(1))
    val b2 = Corpus.dedupIncremental(s, s"$root/state",
      docs.filter(col("doc_id") >= 250), "doc_id", "text").withColumn("batch", lit(2))
    b1.unionByName(b2)
  }

  /** Per-group exact percentiles (histogram-CDF, percentile_disc): event
    * value distribution per event type. */
  def groupQuantilesQ(s: SparkSession, d: String): DataFrame =
    Ops.groupQuantiles(Tables.events(s, d), Seq("event_type"), col("value"),
      ps = Seq(0.25, 0.5, 0.9, 0.99))

  /** CUBE grouping sets: revenue by every subset of (status, priority),
    * grouping flags disambiguating NULL keys. */
  def cubeRevenueQ(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
      .cube("o_orderstatus", "o_orderpriority")
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("g_status"), col("g_priority"), col("revenue"), col("n_orders"))

  /** q128: GROUPING SETS — the general form rollup (q73) and cube (q79)
    * specialize; two orthogonal drill paths (year×status, year×priority)
    * plus the grand total in ONE pass. Spark plans a single Expand over
    * the scan feeding one combinable aggregation — one shuffle for all
    * three groupings, vs three scans for three GROUP BYs. */
  def groupingSetsQ(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("o_year"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("o_year"), col("o_orderstatus")),
          Seq(col("o_year"), col("o_orderpriority")),
          Seq.empty[Column]),
        col("o_year"), col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_year")).cast("int").as("g_year"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .select(col("o_year"), col("o_orderstatus"), col("o_orderpriority"),
        col("g_year"), col("g_status"), col("g_priority"),
        col("revenue"), col("n_orders"))

  /** U2/U3 set operators: customers ordering in BOTH 1995 and 1996
    * (INTERSECT) and in 1995 but never 1996 (EXCEPT), tagged and unioned.
    * Spark plans both as aggregated semi/anti joins — one key shuffle each,
    * no distinct-then-join detour. */
  def setOpsQ(s: SparkSession, d: String): DataFrame = {
    def custsIn(year: Int): DataFrame =
      Tables.orders(s, d).filter(col("o_orderdate").between(
          to_timestamp(lit(f"$year%d-01-01")), to_timestamp(lit(f"$year%d-12-31 23:59:59"))))
        .select(col("o_custkey"))
    custsIn(1995).intersect(custsIn(1996)).withColumn("tag", lit("both"))
      .unionByName(custsIn(1995).except(custsIn(1996)).withColumn("tag", lit("only_1995")))
  }

  /** Interval (time-bound) join, batch mode: each purchase paired with the
    * same user's clicks within ±10 minutes — the batch face of the
    * watermarked stream-stream join (StreamingSpec asserts parity). */
  def intervalJoinQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("b_user"), col("ts").as("b_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    graft.streaming.Streams.intervalJoin(buys, clicks, "b_user", "c_user",
        "b_ts", "c_ts", before = "10 minutes", after = "10 minutes")
      .select(col("buy_id"), col("click_id"), col("b_user").as("user_id"),
        micros(col("b_ts")).as("buy_us"), micros(col("c_ts")).as("click_us"))
  }

  /** Semi-structured extraction: parse the JSON `props` column with an
    * explicit schema (`from_json` — codegen'd, no UDF) and aggregate the
    * extracted field per event type. A malformed document yields NULL
    * (PERMISSIVE), surfaced in `n_bad`. */
  def jsonExtractQ(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("k").isNull, lit(1))).as("n_bad"),
        sum(col("k")).as("sum_k"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** As-of reporting over the SCD2 dimension: for each day of a spine, how
    * many versions are active (eff ≤ d < exp) and how many users have one.
    * The 21-row generated spine BROADCASTS and the range-only condition
    * plans as BroadcastNestedLoopJoin — here that is the RIGHT plan, not a
    * hazard: it is a per-dim-row flatmap against a constant-sized probe
    * table (≈ spine-length comparisons per row, zero exchanges on the big
    * side). The nested-loop danger PlanAudit hunts elsewhere is two
    * DATA-sized sides; a bounded literal side is the exception. */
  def activeVersionsQ(s: SparkSession, d: String): DataFrame = {
    val dim = Scd2.fromHistory(userEvents(s, d), userScdConfig)
    val spine = s.range(1)
      .select(explode(sequence(
        to_timestamp(lit("2024-01-05")), to_timestamp(lit("2024-01-25")),
        expr("INTERVAL 1 DAY"))).as("day"))
    dim.join(broadcast(spine),
        col("effective_date") <= col("day") && col("day") < col("expiry_date"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_versions"), count_distinct(col("user_id")).as("n_users"))
      .select(micros(col("day")).as("day_us"), col("n_versions"), col("n_users"))
  }

  /** Z-order clustering key over two bounded dimensions of the event
    * stream — the multi-dimensional data-skipping layout key (sort or
    * range-partition by it; CoreSpec gates the locality claim). */
  def zorderQ(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        (col("user_id") % 256).cast("long").as("x"),
        (col("event_id") % 256).cast("long").as("y"))
      .select(col("event_id"), col("x"), col("y"),
        Ops.zorderKey(col("x"), col("y"), bits = 8).as("zkey"))

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): users whose id
    * collapses to NULL (here: id 1, via nullif) still pair — a plain `=`
    * would silently drop them, the classic trap when a dimension key uses
    * a NULL sentinel. Counts per join key over a self-join of the
    * purchase slice against the signup slice. */
  def nullSafeJoinQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def slice(t: String, out: String) = ev.filter(col("event_type") === t)
      .select(nullif(col("user_id"), lit(1L)).as("k"), col("event_id").as(out))
    slice("purchase", "buy_id").as("l")
      .join(slice("signup", "sign_id").as("r"), col("l.k") <=> col("r.k"))
      .groupBy(col("l.k").as("k"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Sketch→filter composition: per-type p99 thresholds from
    * [[Ops.groupQuantiles]] broadcast back onto the stream — every event at
    * or above its type's p99 is flagged. The threshold table is
    * group-grain (tiny), so the enrichment join is a broadcast hash join;
    * the corpus passes through exactly once. */
  def outlierFlagsQ(s: SparkSession, d: String): DataFrame = {
    val thresholds = Ops.groupQuantiles(Tables.events(s, d), Seq("event_type"),
      col("value"), ps = Seq(0.99)).select(col("event_type"), col("p99"))
    Tables.events(s, d)
      .join(broadcast(thresholds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"), col("p99"),
        (col("value") >= col("p99")).as("is_outlier"))
  }

  /** Entity-resolution fuzzy matching: same-(nation, segment) customer
    * pairs within edit distance 1, counted per nation. Blocking is
    * CONTENT-derived ([[Ops.editOnePairs]]: leave-one-out segment keys +
    * the cross-length prefix/suffix pigeonhole), so block count grows with
    * the corpus instead of being pinned to the ~125-value (nation,
    * segment) cross product whose candidate pairs grow O(n²/125) — and
    * the result is provably identical to the naive all-pairs formulation
    * the oracle runs. */
  def fuzzyMatchQ(s: SparkSession, d: String): DataFrame =
    Ops.editOnePairs(
        Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"), col("c_name")),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"))
      .groupBy(col("c_nationkey_a").as("nation"))
      .agg(count(lit(1)).as("n_close_pairs"))

  /** Real audio codec round-trip: synthesize deterministic RIFF/PCM WAVs,
    * then header-only decode — generate∘decode = identity is the oracle
    * contract (the audio counterpart of q68's PNG path). */
  def audioDecodeQ(s: SparkSession, d: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeWavs(
      Ops.spread(Tables.documents(s, d).select("doc_id")), "doc_id")
    graft.multimodal.Multimodal.decodeAudioMeta(media)
  }

  /** Ordered array aggregation: per user, the sorted distinct event types
    * as one joined string (collect_set is unordered by contract — the
    * sort_array makes the result deterministic and hash-gateable). */
  def arrayAggQ(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
        count(lit(1)).as("n_events"))

  /** The rank-function family over one window (value within event type):
    * dense_rank, percent_rank, cume_dist, ntile(4). Ties on value share
    * dense_rank/percent_rank/cume_dist by definition; the row_number-based
    * ntile gets event_id as a deterministic tiebreak. */
  def rankFunctionsQ(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wt = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"),
      dense_rank().over(w).as("drank"),
      round(percent_rank().over(w), 6).as("prank"),
      round(cume_dist().over(w), 6).as("cdist"),
      ntile(4).over(wt).as("quartile"))
  }

  /** Top-3 orders per customer through the typed partial top-k
    * AGGREGATOR (map-side-trimmed heaps — the exchange carries ≤ k pairs
    * per group per partition) instead of q18's window sort. Same result
    * contract as a `row_number <= 3` formulation, which is the oracle. */
  def topkAggQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = new graft.expressions.TopKAggregator(3).toColumn.name("top")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg)
      .toDF("o_custkey", "top")
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rnk"),
        col("p.id").as("o_orderkey"), col("p.value").as("o_totalprice"))
  }

  // ------------------------------------------ northwind E2E (q36/q39-q41)

  /** q36: `fact_order` after the full two-cycle Northwind run — a FRESH
    * build per call (audit bootstrap, 23 model loads × 2 cycles, upserts,
    * repair post-hook) so Bench times the true pipeline cost; the memoized
    * [[graft.northwind.NorthwindWarehouse.ensureBuilt]] root would make
    * repeat runs free and the median meaningless. The oracle is the
    * declarative batch equivalent over the full change history
    * ([[NorthwindOracle.factOrder]]). */
  /** One scratch root per JVM: repeat runs (Bench median-of-3) rebuild in
    * place instead of accumulating temp trees, while concurrent processes
    * (Verify racing Bench) keep disjoint roots. */
  private lazy val q36Root: String =
    java.nio.file.Files.createTempDirectory("graft_nw_q36").toString

  def nwFactOrder(s: SparkSession, d: String): DataFrame = {
    val root = q36Root
    graft.core.TableIO.clearDir(root)
    graft.northwind.NorthwindWarehouse.buildWarehouse(s, d, root)
    TableIO.read(s, s"$root/dwh/fact_order").select(
      col("order_id"), col("customer_id"), col("employee_id"), col("shipper_id"),
      col("employee_sk"), col("customer_sk"), col("shipper_sk"),
      micros(col("order_date")).as("order_us"),
      micros(col("required_date")).as("required_us"),
      micros(col("shipped_date")).as("shipped_us"),
      col("freight"), col("shipname"), col("ship_address"), col("ship_city"),
      col("ship_region"), col("ship_postal_code"), col("ship_country"),
      col("record_status"), col("row_hash"),
      micros(col("dl_process_date")).as("dl_us"),
      micros(col("created_at")).as("created_us"),
      micros(col("updated_at")).as("updated_us"))
  }

  private def nwTable(s: SparkSession, d: String, name: String): DataFrame =
    TableIO.read(s, graft.northwind.NorthwindWarehouse.ensureBuilt(s, d) + "/dwh/" + name)

  /** q39: final `dim_products` SCD2 state (3-way intermediate join chain). */
  def nwDimProducts(s: SparkSession, d: String): DataFrame =
    nwTable(s, d, "dim_products").select(
      col("product_sk"), col("product_id"), col("product_name"),
      col("quantity_per_unit"), col("unit_price"), col("reorder_level"),
      col("discontinued"), col("company_name"), col("address"), col("city"),
      col("region"), col("postal_code"), col("country"), col("category_name"),
      col("description"), col("row_hash"), col("version_no"), col("is_active"),
      micros(col("updated_at")).as("updated_us"),
      micros(col("effective_date")).as("effective_us"),
      micros(col("expiry_date")).as("expiry_us"))

  /** q40: final `fact_order_details` (composite grain, B7 fix) with its
    * as-of product-version attributes. */
  def nwFactOrderDetails(s: SparkSession, d: String): DataFrame =
    nwTable(s, d, "fact_order_details").select(
      col("order_id"), col("product_id"), col("unit_price"), col("quantity"),
      col("discount"), micros(col("updated_at")).as("updated_us"), col("op"),
      col("row_hash"), col("product_sk"), col("product_name"),
      col("quantity_per_unit"), col("reorder_level"), col("discontinued"),
      col("company_name"), col("address"), col("city"), col("region"),
      col("postal_code"), col("country"), col("category_name"),
      col("description"), col("version_no"),
      micros(col("effective_date")).as("effective_us"))

  /** q92: two-cycle `snapshot_employee` — the reference's dbt snapshot
    * (snapshots/snapshot_employee.sql:4-9 timestamp strategy over the 4-way
    * employee join), built incrementally through
    * [[graft.scd.Scd2.snapshotMerge]] each cycle; the B6 literal-string
    * scd-id quirk is fixed (see
    * [[graft.northwind.NorthwindWarehouse.snapEmployee]]). */
  def nwSnapshotEmployee(s: SparkSession, d: String): DataFrame =
    TableIO.read(s, graft.northwind.NorthwindWarehouse.ensureBuilt(s, d) +
        "/snapshots/snapshot_employee").select(
      col("employee_scd_id"), col("employee_id"), col("first_name"), col("last_name"),
      col("title"), col("title_of_courtesy"), col("birthdate"), col("address"),
      col("city"), col("region"), col("postal_code"), col("country"),
      col("home_page"), col("extension"), col("region_description"),
      col("territory_description"), col("row_hash"),
      micros(col("dbt_valid_from")).as("valid_from_us"),
      micros(col("dbt_valid_to")).as("valid_to_us"))

  private def dimCustomerSelect(df: DataFrame): DataFrame =
    df.select(
      col("customer_sk"), col("customer_id"), col("company_name"),
      col("contact_name"), col("contact_title"), col("address"), col("city"),
      col("region"), col("postal_code"), col("country"), col("phone"), col("fax"),
      col("row_hash"), col("version_no"), col("is_active"),
      micros(col("updated_at")).as("updated_us"),
      micros(col("effective_date")).as("effective_us"),
      micros(col("expiry_date")).as("expiry_us"))

  /** q93: final `dim_customer` SCD2 state — the direct hash gate the q36
    * SK resolution only exercised indirectly
    * (reference models/dwh/dim_customer.sql:130-167). */
  def nwDimCustomer(s: SparkSession, d: String): DataFrame =
    dimCustomerSelect(nwTable(s, d, "dim_customer"))

  /** q123: the same dim_customer final state REBUILT on GraftTable
    * storage (two cycles, each committed as a table version, cycle 2
    * reading cycle 1 back from the table) — shares q93's oracle, so the
    * gate proves the warehouse dim is storage-format independent while
    * gaining per-cycle time travel (NorthwindSpec pins the history). */
  def nwDimCustomerOnGraft(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_nwgt").toString
    val path = graft.northwind.NorthwindWarehouse.buildDimCustomerOnGraftTable(s, d, root)
    dimCustomerSelect(graft.core.GraftTable.read(s, path))
  }

  /** q94: final `dim_shipper` SCD2 state (B1's audit-target fix feeds this
    * table; reference models/dwh/dim_shipper.sql:75-119). */
  def nwDimShipper(s: SparkSession, d: String): DataFrame =
    nwTable(s, d, "dim_shippers").select(
      col("shipper_sk"), col("shipper_id"), col("company_name"), col("phone"),
      col("row_hash"), col("version_no"), col("is_active"),
      micros(col("updated_at")).as("updated_us"),
      micros(col("effective_date")).as("effective_us"),
      micros(col("expiry_date")).as("expiry_us"))

  /** q41: final `dim_employee` SCD2 state (4-way chain, B9 effective-inner,
    * B11 raw-region drop). */
  def nwDimEmployee(s: SparkSession, d: String): DataFrame =
    nwTable(s, d, "dim_employee").select(
      col("employee_sk"), col("employee_id"), col("first_name"), col("last_name"),
      col("title"), col("title_of_courtesy"), col("birthdate"), col("address"),
      col("city"), col("postal_code"), col("country"), col("home_page"),
      col("extension"), col("region_description"), col("territory_description"),
      col("row_hash"), col("version_no"), col("is_active"),
      micros(col("updated_at")).as("updated_us"),
      micros(col("effective_date")).as("effective_us"),
      micros(col("expiry_date")).as("expiry_us"))

  private lazy val q131Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_bloom").toString

  /** q131: bloom-indexed point lookup on a versioned table — orders land
    * HASH-distributed on `o_orderkey` (every file spans the whole key
    * range, so min/max stats prune NOTHING) with a per-file bloom on the
    * key; [[graft.core.GraftTable.readPrunedIn]] then proves most files
    * clean for the probe list and the exact `isin` filter runs on the
    * survivors only (GraftTableSpec pins the skip counts and the
    * no-false-skip guarantee). The probe list is content-derived
    * (`o_orderkey % 1000 == 1`) so the same query scales with the
    * corpus. */
  def bloomLookupQ(s: SparkSession, d: String): DataFrame = {
    // the bloom-indexed layout and probe list are an immutable fixture;
    // the timed operator is the bloom-pruned point lookup
    val (path, probes) = Fixture.ensure("q131", d) {
      val root = q131Root
      TableIO.clearDir(root)
      val p = s"$root/orders_b"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      graft.core.GraftTable.overwrite(orders.repartition(16, col("o_orderkey")), p,
        bloomCols = Seq("o_orderkey"))
      (p, orders.filter(pmod(col("o_orderkey"), lit(1000)) === 1)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq)
    }
    val scan = graft.core.GraftTable.readPrunedIn(s, path, "o_orderkey", probes)
    scan.df.filter(col("o_orderkey").isin(probes: _*))
      .select(col("o_orderkey"), col("o_custkey"),
        micros(col("o_orderdate")).as("order_us"), col("o_totalprice"))
  }

  private lazy val q139Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_ruled_in").toString

  /** q139: q131's bloom point-lookup with NO explicit readPrunedIn — a
    * plain `.isin` filter over the hash-distributed table, pushed into
    * the [[graft.sources.GraftBatch]] scan, whose split planner keeps
    * only the bloom-surviving files
    * ([[graft.sources.GraftBatchRead.keepByV1Filters]]; GraftPruneSpec
    * pins the planned-file skipping and no-false-skip, this gate pins
    * end-to-end correctness through the pushdown). */
  def ruledBloomScanQ(s: SparkSession, d: String): DataFrame = {
    // immutable fixture (bloom layout + probe list); the timed operator
    // is the bloom-narrowed .isin scan
    val (path, probes) = Fixture.ensure("q139", d) {
      val root = q139Root
      TableIO.clearDir(root)
      val p = s"$root/orders_rb"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      graft.core.GraftTable.overwrite(orders.repartition(16, col("o_orderkey")), p,
        bloomCols = Seq("o_orderkey"))
      (p, orders.filter(pmod(col("o_orderkey"), lit(1000)) === 1)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq)
    }
    graft.core.GraftTable.read(s, path)
      .filter(col("o_orderkey").isin(probes: _*))
      .select(col("o_orderkey"), col("o_custkey"),
        micros(col("o_orderdate")).as("order_us"), col("o_totalprice"))
  }

  private lazy val q132Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_cdc").toString

  /** q132: incremental CDC replication — a replica GraftTable follows a
    * source through insert/update/delete batches via
    * [[graft.core.GraftTable.syncReplica]] (version diff → file-granular
    * upsert/keyed delete → bookmark commit), syncing after every batch.
    * The oracle states the FINAL logical content declaratively; the
    * replica must land there through the change stream alone.
    * GraftTableSpec drives the same machinery through random op
    * sequences and replay-convergence cases. */
  def cdcReplicaQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q132Root
    // the 4-commit SOURCE history (load, insert batch, repricing
    // upsert, keyed delete) is an immutable fixture; the timed operator
    // is the replica FOLLOWING it commit-by-commit — `toVersion`-pinned
    // syncs replay exactly the per-batch cadence the original
    // interleaved build exercised (version diff → keyed upsert/delete →
    // bookmark, once per source commit), from a clean replica each run
    val src = Fixture.ensure("q132", d) {
      TableIO.clearDir(root)
      val p = s"$root/src"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), p)
      GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), p)
      val upd = GraftTable.read(s, p)
        .filter(pmod(col("o_orderkey"), lit(10)) === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      GraftTable.upsertByKey(s, p, upd, Seq("o_orderkey"))
      GraftTable.deleteByKey(s, p, GraftTable.read(s, p)
        .filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_orderkey")), Seq("o_orderkey"))
      p
    }
    val dst = s"$root/dst"
    TableIO.clearDir(dst)
    (1L to 4L).foreach { v =>
      GraftTable.syncReplica(s, src, dst, Seq("o_orderkey"), toVersion = Some(v)): Unit
    }
    GraftTable.read(s, dst).select(col("o_orderkey"), col("o_custkey"),
      micros(col("o_orderdate")).as("order_us"), col("o_totalprice").as("total"))
  }

  private lazy val q140Root: String =
    java.nio.file.Files.createTempDirectory("graft_stream_cdc").toString

  /** q140: the STREAMING commit-log consumer end-to-end — the reference's
    * CHANGES-consumption loop (`stg_dim_customer.sql:71-72`) run as a
    * Structured Streaming query. Orders land in a source GraftTable over
    * three commits; `readStream.format("graft")` (the
    * [[graft.sources.GraftStreamSource]] DSv2 micro-batch source, offsets
    * = versions, one file-grain partition per changed file) consumes the
    * change log one version per trigger, a filter transform runs
    * mid-stream, and [[graft.streaming.Streams.graftTableSink]] appends
    * each batch EXACTLY-ONCE into a destination GraftTable. The oracle
    * states the declarative equivalent — any dropped, duplicated, or
    * corrupted micro-batch breaks the row hash. */
  def streamCdcQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q140Root
    TableIO.clearDir(root)
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), src)
    GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), src)
    GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), src)
    val stream = s.readStream.format("graft")
      .option("maxVersionsPerTrigger", 1).load(src)
      .filter(col("o_totalprice") > 1000)
    val q = graft.streaming.Streams.graftTableSink(stream, dst, ckpt).start()
    q.awaitTermination()
    GraftTable.read(s, dst).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"),
      micros(col("o_orderdate")).as("order_us"))
  }

  private lazy val q141Root: String =
    java.nio.file.Files.createTempDirectory("graft_stream_scd2").toString

  /** q141: the WAREHOUSE made continuous — CDC events land in a
    * GraftTable over three commits, the DSv2 streaming source drains
    * them one version per trigger, and [[graft.streaming.Streams.scd2Sink]]
    * maintains the SCD2 user dimension per micro-batch through the same
    * generic merge the batch path uses. Any batch split of an
    * event-time-ordered history converges to the one-shot build (the C2
    * replay-collapse property, here exercised through the streaming
    * stack), so the oracle is exactly q10/q11's declarative SCD2 SQL. */
  def streamScd2Q(s: SparkSession, d: String): DataFrame = {
    val root = q141Root
    // the 3-commit event source is an immutable fixture; the timed
    // operator is the streamed SCD2 maintenance, restarted clean
    val src = Fixture.ensure("q141", d) {
      TableIO.clearDir(root)
      val p = s"$root/src"
      val ev = userEvents(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("row_hash"), col("ts"))
      val (s1, s2) = (to_timestamp(lit("2024-01-10")), to_timestamp(lit("2024-01-20")))
      import graft.core.GraftTable
      GraftTable.overwrite(ev.filter(col("ts") < s1), p)
      GraftTable.append(ev.filter(col("ts") >= s1 && col("ts") < s2), p)
      GraftTable.append(ev.filter(col("ts") >= s2), p)
      p
    }
    val (dim, ckpt) = (s"$root/dim", s"$root/ckpt")
    TableIO.clearDir(dim)
    TableIO.clearDir(ckpt)
    val stream = s.readStream.format("graft")
      .option("maxVersionsPerTrigger", 1).load(src)
    val q = graft.streaming.Streams.scd2Sink(stream, userScdConfig, dim, ckpt).start()
    q.awaitTermination()
    TableIO.readParquet(s, dim).select(scdOutCols: _*)
  }

  private lazy val q142Root: String =
    java.nio.file.Files.createTempDirectory("graft_check").toString

  /** q142: CHECK constraints on the table format (Delta table
    * constraints re-derived, [[graft.core.GraftTable.addCheck]]) — the
    * reference's quality gates (its dbt tests) moved INTO the storage
    * layer: a poisoned CDC batch (negated prices) refuses at the commit
    * boundary and leaves no trace; the clean batch lands. The oracle
    * sees the full clean table — if enforcement either let the poison
    * through or dropped clean rows, the hash breaks. */
  def checkConstraintsQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q142Root
    TableIO.clearDir(root)
    val path = s"$root/orders_gated"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), path)
    GraftTable.addCheck(s, path, "pos_price", "o_totalprice > 0")
    GraftTable.addCheck(s, path, "known_status", "o_orderstatus IN ('F','O','P')")
    val poisoned = orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(97)) === 1, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
    val refused =
      try { GraftTable.append(poisoned, path); false }
      catch { case _: IllegalArgumentException => true }
    require(refused, "the poisoned batch must refuse at the commit boundary")
    GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1), path)
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"))
  }

  private lazy val q143Root: String =
    java.nio.file.Files.createTempDirectory("graft_clone").toString

  /** q143: zero-copy table forking ([[graft.core.GraftTable.cloneTable]]
    * — Delta SHALLOW CLONE re-derived). The fork starts as a metadata-only
    * commit referencing the source's files, then DIVERGES via a keyed COW
    * repricing; both lineages read side by side. The oracle states both
    * worlds declaratively — a fork that leaked its rewrite into the
    * source (or missed rows it didn't touch) breaks the hash. */
  def cloneQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q143Root
    TableIO.clearDir(root)
    val (src, fork) = (s"$root/src", s"$root/fork")
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.overwrite(orders, src)
    GraftTable.cloneTable(s, src, fork)
    val repriced = GraftTable.read(s, fork).filter(col("o_orderstatus") === "F")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    GraftTable.upsertByKey(s, fork, repriced, Seq("o_orderkey"))
    GraftTable.read(s, src).withColumn("lineage", lit("src"))
      .unionByName(GraftTable.read(s, fork).withColumn("lineage", lit("fork")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").as("total"), col("lineage"))
  }

  private lazy val q144Root: String =
    java.nio.file.Files.createTempDirectory("graft_restore").toString

  /** q144: ROLLBACK as a commit ([[graft.core.GraftTable.restore]] —
    * Delta RESTORE re-derived): a bad repricing commit is rolled back
    * metadata-only, while the bad version stays time-travel-readable.
    * Both worlds cross the gate: the restored head must equal the
    * pre-mistake table, the bad snapshot must still read as the
    * mistake. */
  def restoreQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q144Root
    TableIO.clearDir(root)
    val path = s"$root/orders_rb"
    val split = to_timestamp(lit("1996-01-01"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.overwrite(orders.filter(col("o_orderdate") < split), path)  // v1
    GraftTable.append(orders.filter(col("o_orderdate") >= split), path)    // v2
    GraftTable.upsertByKey(s, path,                                        // v3: the mistake
      GraftTable.read(s, path).filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2), Seq("o_orderkey"))
    GraftTable.restore(path, 2L)                                           // v4: rollback
    GraftTable.read(s, path).withColumn("world", lit("restored"))
      .unionByName(GraftTable.readVersion(s, path, 3L).withColumn("world", lit("bad")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").as("total"), micros(col("o_orderdate")).as("order_us"),
        col("world"))
  }

  private lazy val q145Root: String =
    java.nio.file.Files.createTempDirectory("graft_merge").toString

  /** q145: MERGE INTO ([[graft.core.GraftTable.mergeInto]] — Delta's
    * flagship DML re-derived on the COW core): one commit where a CDC
    * batch updates matched F-orders (repricing), deletes matched
    * P-orders, inserts everything unmatched, and leaves other matched
    * rows untouched. The oracle is the CASE/WHERE restatement — any
    * clause misfire (wrong rows updated, deletes leaking, inserts
    * dropped or doubled) breaks the hash. */
  def mergeIntoQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    import graft.core.GraftTable.srcCol
    val root = q145Root
    TableIO.clearDir(root)
    val path = s"$root/orders_merge"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), path)
    GraftTable.mergeInto(s, path, orders, Seq("o_orderkey"),
      updateSet = Map("o_totalprice" -> srcCol("o_totalprice") * 2),
      updateWhen = Some(srcCol("o_orderstatus") === "F"),
      deleteWhen = Some(srcCol("o_orderstatus") === "P"))
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"))
  }

  private lazy val q164Root: String =
    java.nio.file.Files.createTempDirectory("graft_mormerge").toString

  /** q164: q145's MERGE INTO at the MERGE-ON-READ cost shape
    * ([[graft.core.GraftTable.mergeIntoMor]], dispatched by the
    * `graft.deletionVectors` property through the same SQL text) — the
    * clause-fired matched rows mask via vector sidecars, only the
    * repriced images and the inserts append, untouched files stay
    * byte-identical (GraftDvSpec pins that). Shares q145's oracle: the
    * cost shape must be invisible to results. */
  def morMergeQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q164Root
    TableIO.clearDir(root)
    val path = s"$root/orders_merge"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.writeClustered(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
      path, col("o_orderkey"), 8, statsCols = Seq("o_orderkey"))
    graft.plans.GraftSql.dml(s, s"ALTER TABLE graft.`$path` " +
      "SET TBLPROPERTIES('graft.deletionVectors'='true')")
    orders.createOrReplaceTempView("q164_merge_src")
    graft.plans.GraftSql.dml(s, s"""
      MERGE INTO graft.`$path` AS t USING q164_merge_src AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderstatus = 'P' THEN DELETE
      WHEN MATCHED AND s.o_orderstatus = 'F' THEN UPDATE SET o_totalprice = s.o_totalprice * 2
      WHEN NOT MATCHED THEN INSERT *""")
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"))
  }

  private lazy val q146Root: String =
    java.nio.file.Files.createTempDirectory("graft_convert").toString

  /** q146: in-place migration ([[graft.core.GraftTable.convertParquetDir]]
    * — Delta CONVERT TO DELTA re-derived): a pre-existing plain-parquet
    * directory becomes a GraftTable without rewriting a byte, then lives
    * a normal versioned life (an append lands as v2). The gate reads the
    * converted table through the format; the oracle reads the same rows
    * declaratively. */
  def convertQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q146Root
    TableIO.clearDir(root)
    val dir = s"$root/orders_plain"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    // the inherited layout: a date-range-partitioned plain parquet dir
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .repartitionByRange(4, col("o_orderdate")).sortWithinPartitions(col("o_orderdate"))
      .write.parquet(dir)
    GraftTable.convertParquetDir(s, dir, statsCols = Seq("o_orderdate"))
    GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1), dir)
    GraftTable.read(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"),
      micros(col("o_orderdate")).as("order_us"))
  }

  private lazy val q147Root: String =
    java.nio.file.Files.createTempDirectory("graft_cdf_stream").toString

  private lazy val q173Root: String =
    java.nio.file.Files.createTempDirectory("graft_named_cdf").toString

  private lazy val q175Root: String =
    java.nio.file.Files.createTempDirectory("graft_rowlevel").toString

  /** q175: q145's MERGE contract through STOCK Spark SQL on a catalog
    * name — no extension parser anywhere in the harness session; the
    * statement plans Spark's own group-based row-level protocol against
    * [[graft.catalog.GraftGroupOperation]] (DSv2
    * `SupportsRowLevelOperations`): the scan is the manifest-planned
    * vectorized [[graft.sources.GraftBatch]], the write stages per-task
    * parquet and lands ONE commit replacing exactly the scanned files.
    * Same declarative expectation as q145 — the protocol must be
    * invisible to results. */
  def rowLevelMergeQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val cat = "graftrl"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", q175Root)
    }
    TableIO.clearDir(s"$q175Root/ns")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    val path = s"$q175Root/ns/orders_merge"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), path)
    orders.createOrReplaceTempView("q175_src")
    s.sql(s"""MERGE INTO $cat.ns.orders_merge t USING q175_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderstatus = 'F' THEN
        UPDATE SET o_totalprice = s.o_totalprice * 2
      WHEN MATCHED AND s.o_orderstatus = 'P' THEN DELETE
      WHEN NOT MATCHED THEN INSERT *""")
    s.table(s"$cat.ns.orders_merge").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"))
  }

  /** q176: the SAME stock-SQL MERGE on a `graft.deletionVectors` table —
    * the statement plans the DELTA-BASED protocol
    * ([[graft.catalog.GraftDeltaOperation]], DSv2 `SupportsDelta`):
    * matched rows mask via per-file deletion-vector sidecars written
    * from the executors, images/inserts append, ONE O(changed rows)
    * commit — no data file rewritten. Identical declarative expectation
    * as q145/q164/q175; the cost shape invisible to results. */
  def rowLevelMorMergeQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val cat = "graftrl"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", q175Root)
    }
    TableIO.clearDir(s"$q175Root/morns")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.morns")
    val path = s"$q175Root/morns/orders_merge"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), path)
    GraftTable.setProperties(path, Map("graft.deletionVectors" -> "true"))
    orders.createOrReplaceTempView("q176_src")
    s.sql(s"""MERGE INTO $cat.morns.orders_merge t USING q176_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderstatus = 'F' THEN
        UPDATE SET o_totalprice = s.o_totalprice * 2
      WHEN MATCHED AND s.o_orderstatus = 'P' THEN DELETE
      WHEN NOT MATCHED THEN INSERT *""")
    s.table(s"$cat.morns.orders_merge").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"))
  }

  private lazy val q177Root: String =
    java.nio.file.Files.createTempDirectory("graft_spj_q").toString

  /** q177: a STORAGE-PARTITIONED JOIN — orders and customer bucketed on
    * the join key ([[graft.core.GraftTable.writeBucketed]] →
    * `graft.bucketBy` → v2 `bucket(8, key)` partitioning +
    * [[graft.catalog.GraftBucketFunction]]), joined through catalog
    * names. With `spark.sql.sources.v2.bucketing.enabled` the join
    * consumes both sides bucket-by-bucket with ZERO exchange — at
    * 100 TB the dominant cost of a fact⋈fact join (the reference's
    * platform co-clusters transparently; `models/dwh/fact_order.sql:37-42`
    * is the shape). The layout must be invisible to results: same
    * answer as the plain parquet join. */
  def spjBucketedJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val cat = "graftspj"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", q177Root)
    }
    Fixture.ensure("q177", d) {
      TableIO.clearDir(s"$q177Root/ns")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
      GraftTable.writeBucketed(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        s"$q177Root/ns/orders_b", "o_custkey", 8)
      GraftTable.writeBucketed(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        s"$q177Root/ns/cust_b", "c_custkey", 8)
    }
    s.table(s"$cat.ns.orders_b")
      .join(s.table(s"$cat.ns.cust_b"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** q180: the SKEWED storage-partitioned join — the reference's
    * dummy-member key-0 attractor (`models/dwh/fact_order.sql:17-19`)
    * recreated over co-bucketed tables: half of lineitem collapses onto
    * ONE supplier key, so a plain SPJ would serialize that bucket's
    * whole join into one task. The query runs under Spark's
    * partially-clustered distribution (the skew escape PlanAudit's
    * `spj_skew_escape` pins: the hot bucket executes as multiple tasks,
    * still zero exchange) and hash-gates that the replication NEVER
    * changes results — per-nation counts and revenue stay exact. */
  def spjSkewJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val cat = "graftspj"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", q177Root)
    }
    Fixture.ensure("q180", d) {
      TableIO.clearDir(s"$q177Root/skew")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.skew")
      GraftTable.writeBucketed(Tables.lineitem(s, d)
        .select(when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("k"),
          col("l_extendedprice").as("price")),
        s"$q177Root/skew/fact_s", "k", 8)
      GraftTable.writeBucketed(Tables.supplier(s, d)
        .select(col("s_suppkey").as("k"), col("s_nationkey")),
        s"$q177Root/skew/supp_s", "k", 8)
    }
    // the skew escape itself (partiallyClusteredDistribution) is NOT
    // set here — it engages from the default graft session bootstrap
    // ([[graft.GraftSession.RequiredConfs]]); only the fixture-scale
    // broadcast pin stays (a 100 TB fact clears the threshold alone)
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .map { case (k, v) =>
        val old = s.conf.getOption(k); s.conf.set(k, v); k -> old }
    try {
      val agg = s.table(s"$cat.skew.fact_s")
        .join(s.table(s"$cat.skew.supp_s"), "k")
        .groupBy(col("s_nationkey").as("nat"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("price").cast("decimal(18,4)")).cast("double").as("rev"))
        .select(col("nat"), col("n_items"), col("rev"))
      // materialize INSIDE the conf window so the skewed SPJ plan is
      // what actually executes; the result is nation-sized
      import scala.jdk.CollectionConverters._
      s.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
    } finally saved.foreach { case (k, old) =>
      old.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** q178: the reference's as-of fact⋈dim shape
    * (`models/dwh/fact_order.sql:37-42` — equi key + validity BETWEEN)
    * run through co-BUCKETED tables: orders and a two-version customer
    * dim both bucketed on the customer key, so the equi part of the
    * as-of join is a storage-partitioned join (zero exchange; the range
    * stays the post-join residual Catalyst already plans). This is the
    * 100 TB temporal-join answer SURVEY §7.4 deferred. Layout must be
    * invisible to results. */
  def spjAsofJoinQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val cat = "graftspj"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", q177Root)
    }
    Fixture.ensure("q178", d) {
      TableIO.clearDir(s"$q177Root/asof")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.asof")
      GraftTable.writeBucketed(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice")),
        s"$q177Root/asof/orders_b", "o_custkey", 8)
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val versions = cust.select(col("c_custkey"), col("c_mktsegment").as("segment"),
          to_timestamp(lit("1992-01-01 00:00:00")).as("valid_from"),
          to_timestamp(lit("1995-06-30 23:59:59")).as("valid_to"))
        .unionByName(cust.select(col("c_custkey"),
          concat(col("c_mktsegment"), lit("_V2")).as("segment"),
          to_timestamp(lit("1995-07-01 00:00:00")).as("valid_from"),
          to_timestamp(lit("2999-01-01 00:00:00")).as("valid_to")))
      GraftTable.writeBucketed(versions, s"$q177Root/asof/cust_v", "c_custkey", 8)
    }
    s.table(s"$cat.asof.orders_b")
      .join(s.table(s"$cat.asof.cust_v"),
        col("o_custkey") === col("c_custkey") &&
          col("o_orderdate").between(col("valid_from"), col("valid_to")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** Build q173/q174's shared NAMED source table: the q147/q132 commit
    * history (initial load, append, keyed COW update, keyed delete)
    * under `cat.dwh.src` — an immutable fixture, built once per (JVM,
    * dataset); the consumers (q173's streamed fold, q174's batch fold)
    * are the timed operators. Returns the per-JVM catalog name. */
  private def buildNamedCdfSrc(s: SparkSession, d: String): String = {
    import graft.core.GraftTable
    val cat = "graftcdf"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", q173Root)
    }
    Fixture.ensure("q173src", d) {
      TableIO.clearDir(s"$q173Root/dwh")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dwh")
      val src = s"$q173Root/dwh/src"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), src)
      GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), src)
      val upd = GraftTable.read(s, src)
        .filter(pmod(col("o_orderkey"), lit(10)) === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      GraftTable.upsertByKey(s, src, upd, Seq("o_orderkey"))
      GraftTable.deleteByKey(s, src, GraftTable.read(s, src)
        .filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_orderkey")), Seq("o_orderkey"))
      cat
    }
  }

  /** q173: q147's streamed CDF replica driven ENTIRELY BY NAMES — the
    * change feed consumed through the metadata CHILD table
    * `cat.dwh.src.changes` (`readStream.table`,
    * [[graft.catalog.GraftChangesTable]]), folded into a replica with
    * the same delete-then-upsert per micro-batch, and the result read
    * back through its catalog NAME. No filesystem path ever crosses
    * the consumer's code. Oracle: q132's declarative end state. */
  def namedCdfReplicaQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val cat = buildNamedCdfSrc(s, d)
    val dst = s"$q173Root/dwh/dst"
    // the replica fold restarts from a clean slate every run — a stale
    // checkpoint would make AvailableNow a no-op over consumed offsets
    TableIO.clearDir(dst)
    TableIO.clearDir(s"$q173Root/ckpt")
    val feed = s.readStream.option("maxVersionsPerTrigger", 1)
      .table(s"$cat.dwh.src.changes")
    val q = feed.writeStream
      .option("checkpointLocation", s"$q173Root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b0: DataFrame, _: Long) =>
        // q147's fused-fold discipline: cache the batch, then ONE
        // applyChangeSet commit per micro-batch (single probe/semi-scan/
        // rewrite), no emptiness probe (an empty batch folds to a
        // verbatim no-op commit)
        val b = b0.persist()
        try {
          val dels = b.filter(col("_change_type") === "delete")
            .select(col("o_orderkey"))
          val ins = b.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          GraftTable.applyChangeSet(b.sparkSession, dst, dels, ins,
            Seq("o_orderkey")): Unit
        } finally b.unpersist(): Unit
      }.start()
    q.awaitTermination()
    s.table(s"$cat.dwh.dst").select(col("o_orderkey"), col("o_custkey"),
      micros(col("o_orderdate")).as("order_us"), col("o_totalprice").as("total"))
  }

  /** q174: the BATCH named change feed — the full-history span of
    * `cat.dwh.src.changes` read as one batch DataFrame (the same
    * O(changed files) partitions the stream would plan) and folded
    * DECLARATIVELY to the head state: per key, the highest
    * `_commit_version` wins, insert-over-delete within it; a key whose
    * last event is a bare delete is gone. Folding the feed must equal
    * reading the table — the CDF completeness contract. */
  def namedCdfBatchQ(s: SparkSession, d: String): DataFrame = {
    val cat = buildNamedCdfSrc(s, d)
    val feed = s.read.table(s"$cat.dwh.src.changes")
    val w = Window.partitionBy(col("o_orderkey"))
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("_change_type") === "insert")
      .select(col("o_orderkey"), col("o_custkey"),
        micros(col("o_orderdate")).as("order_us"), col("o_totalprice").as("total"))
  }

  /** q147: the ROW-LEVEL change feed streamed — q132's replica rebuilt
    * through `readChangeFeed=true` (Delta CDF streaming re-derived):
    * COW rewrites arrive as explicit delete pre-images + insert
    * post-images tagged `_commit_version`, one version per trigger, and
    * the consumer folds them into a replica GraftTable with
    * delete-then-upsert per batch — idempotent under micro-batch
    * replays, no `syncReplica` machinery involved. The oracle is q132's
    * declarative end state. */
  def cdfStreamReplicaQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q147Root
    // the multi-commit SOURCE history is an immutable fixture; the
    // timed operator is the streamed change-feed fold into the replica,
    // which restarts from a clean slate (dst + checkpoint) every run
    val src = Fixture.ensure("q147", d) {
      TableIO.clearDir(root)
      val p = s"$root/src"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), p)
      GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), p)
      val upd = GraftTable.read(s, p)
        .filter(pmod(col("o_orderkey"), lit(10)) === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      GraftTable.upsertByKey(s, p, upd, Seq("o_orderkey"))
      GraftTable.deleteByKey(s, p, GraftTable.read(s, p)
        .filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_orderkey")), Seq("o_orderkey"))
      p
    }
    val (dst, ckpt) = (s"$root/dst", s"$root/ckpt")
    TableIO.clearDir(dst)
    TableIO.clearDir(ckpt)
    val feed = s.readStream.format("graft")
      .option("readChangeFeed", "true").option("maxVersionsPerTrigger", 1).load(src)
    val q = feed.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b0: DataFrame, _: Long) =>
        // cache the change-feed batch across its consuming actions
        // (within-batch reuse, not a cross-run memo), and fold it in ONE
        // fused commit: delete pre-images and insert post-images ride a
        // single bounds-probe/semi-scan/rewrite/commit
        // ([[graft.core.GraftTable.applyChangeSet]]) instead of a delete
        // commit followed by an upsert commit. No emptiness probe at all:
        // AvailableNow over the CDF source plans only versions that carry
        // changes, and a hypothetical empty batch folds to a verbatim
        // no-op commit — content-identical, so the probe was one driver
        // action per micro-batch buying nothing
        val b = b0.persist()
        try {
          val dels = b.filter(col("_change_type") === "delete")
            .select(col("o_orderkey"))
          val ins = b.filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          GraftTable.applyChangeSet(b.sparkSession, dst, dels, ins,
            Seq("o_orderkey")): Unit
        } finally b.unpersist(): Unit
      }.start()
    q.awaitTermination()
    GraftTable.read(s, dst).select(col("o_orderkey"), col("o_custkey"),
      micros(col("o_orderdate")).as("order_us"), col("o_totalprice").as("total"))
  }

  private lazy val q136Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_evolve").toString

  /** q136: schema-evolving append ([[graft.core.GraftTable.appendEvolve]]
    * — Delta mergeSchema re-derived): the table starts with price data,
    * a later batch arrives with a priority column instead, and ONE
    * commit widens the schema and lands the rows — old rows read the
    * new column as NULL, new rows the old one. The oracle states the
    * merged result declaratively. */
  def schemaEvolveQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q136Root
    TableIO.clearDir(root)
    val t = s"$root/t"
    val orders = Tables.orders(s, d)
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")), t)
    GraftTable.appendEvolve(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")), t)
    GraftTable.read(s, t).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").as("total"), col("o_orderpriority").as("priority"))
  }

  private lazy val q134Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_rule").toString

  /** q134: the q104 pruned scan with NO explicit readPruned — the
    * plain `.filter` over the clustered table is pushed into the
    * [[graft.sources.GraftBatch]] scan, whose split planner keeps only
    * the stats-surviving files (GraftPruneSpec pins the planned-file
    * counts and no-false-skip; this gate pins end-to-end correctness
    * through the pushdown). */
  def ruledScanQ(s: SparkSession, d: String): DataFrame = {
    // immutable clustered layout; the timed operator is the stats-
    // narrowed scan
    val path = Fixture.ensure("q134", d) {
      val root = q134Root
      TableIO.clearDir(root)
      val p = s"$root/orders_r"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      graft.core.GraftTable.writeClustered(orders, p, col("o_orderdate"), numFiles = 16)
      p
    }
    graft.core.GraftTable.read(s, path)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1995-07-01")))
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
      .select(micros(col("month")).as("month_us"), col("n_orders"), col("revenue"))
  }

  private lazy val q148Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_srcscan").toString

  /** q148: q134's pruned aggregation consumed through the BATCH
    * `format("graft")` source — NO GraftPrune.install, no explicit
    * readPruned: the GraftBatch scan skips files by stats at split
    * planning for every consumer by construction
    * ([[graft.sources.GraftBatchRead]]; GraftBatchReadSpec pins the
    * planned-file counts, this gate pins end-to-end correctness
    * through the source). */
  def sourceScanQ(s: SparkSession, d: String): DataFrame = {
    val root = q148Root
    TableIO.clearDir(root)
    val path = s"$root/orders_s"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate"), col("o_totalprice"))
    graft.core.GraftTable.writeClustered(orders, path, col("o_orderdate"), numFiles = 16)
    s.read.format("graft").load(path)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1995-07-01")))
      .groupBy(date_trunc("MONTH", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
      .select(micros(col("month")).as("month_us"), col("n_orders"), col("revenue"))
  }

  private lazy val q149Root: String =
    java.nio.file.Files.createTempDirectory("graft_vt_srcbloom").toString

  /** q149: q139's bloom point lookup consumed through the BATCH
    * `format("graft")` source — a plain `.isin` over the
    * hash-distributed table, narrowed to bloom-surviving files inside
    * the source's own `listFiles` (no optimizer-rule install, no
    * readPrunedIn). */
  def sourceBloomScanQ(s: SparkSession, d: String): DataFrame = {
    val root = q149Root
    TableIO.clearDir(root)
    val path = s"$root/orders_sb"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate"), col("o_totalprice"))
    graft.core.GraftTable.overwrite(orders.repartition(16, col("o_orderkey")), path,
      bloomCols = Seq("o_orderkey"))
    val probes = orders.filter(pmod(col("o_orderkey"), lit(1000)) === 1)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
    s.read.format("graft").load(path)
      .filter(col("o_orderkey").isin(probes: _*))
      .select(col("o_orderkey"), col("o_custkey"),
        micros(col("o_orderdate")).as("order_us"), col("o_totalprice"))
  }

  /** q150: q125's COW DELETE expressed as SQL TEXT
    * ([[graft.plans.GraftSql.dml]] — Spark's own grammar parses it, the
    * router lands it on [[graft.core.GraftTable.deleteWhere]] with the
    * stats-cover ranges derived from the optimized predicate). Same
    * oracle as q125: the dialect must be invisible to results. */
  def sqlDeleteQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_sqldel").toString
    val path = s"$root/orders_d"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    graft.plans.GraftSql.dml(s, s"DELETE FROM graft.`$path` " +
      "WHERE o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'F'")
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  /** q166: Delta's `replaceWhere` as SQL TEXT — `INSERT INTO …
    * REPLACE WHERE pred SELECT …` atomically swaps 1997's orders for a
    * recomputed markdown batch over a date-clustered layout
    * ([[graft.core.GraftTable.overwriteWhere]]). The date bounds
    * stats-prune the touched probe, files wholly inside the year DROP
    * from the manifest metadata-only (never read), boundary files
    * rewrite keepers — the recompute-one-date-range pipeline shape at
    * O(new data + boundary files). */
  def sqlReplaceWhereQ(s: SparkSession, d: String): DataFrame =
    replaceWhereBody(s, d, mor = false)

  /** q167: q166's replaceWhere MERGE-ON-READ (`graft.deletionVectors`
    * flips the SAME SQL text to [[graft.core.GraftTable
    * .overwriteWhereMor]]): covered files still drop metadata-only,
    * boundary files mask their in-window rows via vector sidecars
    * instead of rewriting — zero rewrite IO, identical declarative
    * result, same oracle. */
  def morReplaceWhereQ(s: SparkSession, d: String): DataFrame =
    replaceWhereBody(s, d, mor = true)

  private def replaceWhereBody(s: SparkSession, d: String, mor: Boolean): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_replw").toString
    val path = s"$root/orders_rw"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderdate"), 8,
      statsCols = Seq("o_orderdate"))
    if (mor) GraftTable.setProperties(path, Map("graft.deletionVectors" -> "true")): Unit
    orders.createOrReplaceTempView("q166_src")
    graft.plans.GraftSql.dml(s, s"""
      INSERT INTO graft.`$path`
      REPLACE WHERE o_orderdate BETWEEN '1997-01-01' AND '1997-12-31'
      SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(0.9 AS DECIMAL(2,1)) AS DOUBLE)
               AS o_totalprice,
             o_orderdate
      FROM q166_src
      WHERE o_orderdate BETWEEN '1997-01-01' AND '1997-12-31'""")
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  /** q168: `TRUNCATE TABLE` + reload — the metadata-only empty commit
    * ([[graft.core.GraftTable.truncate]]: no file read, rewritten, or
    * deleted; one manifest) composed with time travel: the reload
    * SELECTs the open orders back OUT of the pre-truncate snapshot via
    * the `graft_table_version` TVF. The 100 TB "reset and rebuild"
    * shape — a COW delete-all would probe everything, MOR would vector
    * everything; truncate costs one manifest write. */
  def sqlTruncateQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_trunc").toString
    val path = s"$root/orders_tr"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    val vPre = GraftTable.currentVersion(path).get
    graft.plans.GraftSql.install(s)
    graft.plans.GraftSql.dml(s, s"TRUNCATE TABLE graft.`$path`")
    graft.plans.GraftSql.dml(s, s"""
      INSERT INTO graft.`$path`
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
      FROM graft_table_version('$path', $vPre)
      WHERE o_orderstatus = 'O'""")
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  /** q169: ATOMIC catalog CTAS + `REPLACE TABLE … AS SELECT` (the DSv2
    * `StagingTableCatalog` protocol): the query stages into a hidden
    * sibling GraftTable and commits by adopting its files — readers
    * never see a partial result, and REPLACE preserves table IDENTITY
    * (version v+1 on the same chain, old snapshot time-travelable via
    * grammar-native `VERSION AS OF`). The result unions the
    * post-replace contents with the pre-replace snapshot, so a staging
    * protocol that resets the chain, loses history, or double-commits
    * breaks the hash. */
  def catalogRtasQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val wh = java.nio.file.Files.createTempDirectory("graft_rtas").toString
    // Spark caches catalog INSTANCES by name — a rerun in the same
    // session (the bench does 5 passes) would still see the first
    // pass's warehouse through a reused name, so each invocation
    // registers its own
    val cat = s"graftcat_${java.util.UUID.randomUUID.toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dwh")
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus")).createOrReplaceTempView("q169_src")
    s.sql(s"CREATE TABLE $cat.dwh.orders_r AS " +
      "SELECT * FROM q169_src WHERE o_orderstatus = 'O'")
    val vPre = GraftTable.currentVersion(s"$wh/dwh/orders_r").get
    s.sql(s"REPLACE TABLE $cat.dwh.orders_r AS " +
      "SELECT * FROM q169_src WHERE o_orderstatus = 'F'")
    s.table(s"$cat.dwh.orders_r").withColumn("snap", lit("cur"))
      .unionByName(s.sql(
        s"SELECT * FROM $cat.dwh.orders_r VERSION AS OF $vPre")
        .withColumn("snap", lit("pre")))
  }

  /** q170: DYNAMIC FILE PRUNING — the fact-dim join whose filter lives
    * on the DIM ([[graft.core.GraftTable.readPrunedByKeys]]): the dim
    * query runs first, its distinct join keys probe the fact manifest's
    * per-file blooms, and the join scans only surviving fact files.
    * Here the fact (lineitem, hash-laid-out on `l_orderkey` so min/max
    * prune NOTHING) joins a one-month slice of orders — static stats
    * cannot skip a single file; the dim-driven bloom probe is the only
    * skip that works, the 100 TB star-join shape. The oracle is the
    * plain join — a probe that falsely skips a matching file breaks
    * the hash. */
  private[graft] lazy val q170Root: String =
    java.nio.file.Files.createTempDirectory("graft_dfp").toString
  private var q170BuiltFor: String = null

  def dynamicPruneQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val path = s"$q170Root/lineitem_f"
    // the fact build is immutable across runs — build once per (JVM,
    // dataset) so the timed body is the operator under test (the
    // dim-driven prune + join), not a repeated table write
    if (q170BuiltFor != d) {
      TableIO.clearDir(q170Root)
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_extendedprice"), col("l_discount"))
      GraftTable.overwrite(li.repartition(16, col("l_orderkey")), path,
        bloomCols = Seq("l_orderkey"))
      q170BuiltFor = d
    }
    val dim = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-02-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val scan = GraftTable.readPrunedByKeys(s, path, "l_orderkey",
      dim.select(col("o_orderkey")))
    scan.df.join(broadcast(dim), scan.df("l_orderkey") === dim("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q171: METADATA-ONLY AGGREGATES — `count(*) / count(col) / min /
    * max` over a graft scan answered FROM THE MANIFEST by the v2
    * complete aggregate pushdown ([[graft.catalog.GraftMetaAggFold]]
    * over the shared [[graft.plans.GraftPrune.foldMetaAgg]]): the
    * relation's entries are dv-free with exact per-file rows and
    * [min,max,nulls], so the scan becomes a local manifest-answered row
    * at optimization — zero data files read (PlanAudit pins the plan;
    * at 100 TB this is one manifest read vs a million-file scan). The
    * oracle computes the same aggregates the real way — a stale or
    * wrong manifest fold breaks the hash. */
  def metaAggQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    // immutable stats layout; the timed operator is the manifest fold
    val path = Fixture.ensure("q171", d) {
      val root = java.nio.file.Files.createTempDirectory("graft_metaagg").toString
      val p = s"$root/orders_m"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      GraftTable.writeClustered(orders, p, col("o_orderkey"), 8,
        statsCols = Seq("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"))
      p
    }
    GraftTable.read(s, path).agg(
      count(lit(1)).as("n_rows"),
      count(col("o_orderpriority")).as("n_prios"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"),
      micros(min(col("o_orderdate"))).as("min_odate_us"),
      micros(max(col("o_orderdate"))).as("max_odate_us"),
      min(col("o_orderpriority")).as("min_prio"))
  }

  /** q172: FILTERED metadata count — `count(*)` under a date-range
    * predicate whose window lands ON file boundaries of the clustered
    * layout ([[graft.plans.GraftPrune.rewriteFilteredCount]]): every
    * file classifies provably inside or outside, so the count folds
    * from the manifest with zero data IO. The window is derived from
    * the manifest's own per-file bounds (exact whatever the range
    * partitioner chose); the result also carries a straddling window's
    * count (executed for real) so both paths gate against the oracle.
    * Both counts plan in a [[graft.plans.GraftPrune.ruled]] child
    * session, so `s` keeps its optimizer. */
  def metaCountFilteredQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    import org.apache.spark.sql.expressions.Window
    // the boundary-aligned layout and its window bounds are an immutable
    // fixture; the timed operator is the manifest-folded filtered count
    val (path, lo, hi) = Fixture.ensure("q172", d) {
      val root = java.nio.file.Files.createTempDirectory("graft_metacnt").toString
      val p = s"$root/orders_c"
      val orders = Tables.orders(s, d).select(col("o_orderkey"))
      val n = orders.count()
      // 8 rank-sliced files — boundaries are a deterministic function of
      // the KEYS (not the range partitioner), so the oracle recomputes
      // the same windows
      val ranked = orders.withColumn("rn",
        row_number().over(Window.orderBy(col("o_orderkey"))))
      val ends = (0 to 8).map(i => n * i / 8)
      (0 until 8).foreach { i =>
        GraftTable.append(ranked.filter(col("rn") > ends(i) && col("rn") <= ends(i + 1))
          .drop("rn").coalesce(1), p, statsCols = Seq("o_orderkey"))
      }
      def keyAt(r: Long): Long =
        ranked.filter(col("rn") === r).select(col("o_orderkey")).head().getLong(0)
      (p, keyAt(n / 8 + 1), keyAt(n / 2)) // slices 2..4, exactly
    }
    val ruled = graft.plans.GraftPrune.ruled(s)
    val clean = GraftTable.read(ruled, path)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
      .groupBy().count().collect().head.getLong(0)
    val straddle = GraftTable.read(ruled, path)
      .filter(col("o_orderkey") >= lo + 1 && col("o_orderkey") <= hi)
      .groupBy().count().collect().head.getLong(0)
    s.range(1).select(lit(lo).as("lo"), lit(hi).as("hi"),
      lit(clean).as("n_clean"), lit(straddle).as("n_straddle"))
  }

  /** q179: q172's FILTERED metadata aggregates in a TRULY STOCK session
    * — `spark.newSession()`, no extensions, no experimental rules, only
    * the catalog registration — so the answer can only come from the
    * DSv2 exact-prune claim + complete aggregate pushdown
    * ([[graft.catalog.GraftNamedScanBuilder.pushFilters]] →
    * [[graft.catalog.GraftMetaAggFold]]): on the boundary-aligned
    * window, `count(*) / min / max` under WHERE fold from the manifest
    * with zero files read (PlanAudit pins the plan); the off-by-one
    * straddling window exercises the advisory fallback in the same
    * session. The single most common BI probe — `SELECT count(*) FROM t
    * WHERE d BETWEEN …` — must not pay a scan a 100 TB manifest can
    * answer. */
  /** Shared q179/q183 fixture: 8 rank-sliced boundary-aligned files on
    * `o_orderkey` — boundaries are a deterministic function of the KEYS
    * (not the range partitioner), so the oracle recomputes the same
    * windows. Returns (warehouse root, path, lo, hi) where [lo, hi]
    * covers slices 2..4 exactly. */
  private def metaSlicedFixture(s: SparkSession, d: String): (String, String, Long, Long) =
    Fixture.ensure("q179", d) {
      import graft.core.GraftTable
      import org.apache.spark.sql.expressions.Window
      val r = java.nio.file.Files.createTempDirectory("graft_metastock").toString
      val p = s"$r/ns/orders_fs"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val n = orders.count()
      val ranked = orders.withColumn("rn",
        row_number().over(Window.orderBy(col("o_orderkey"))))
      val ends = (0 to 8).map(i => n * i / 8)
      (0 until 8).foreach { i =>
        GraftTable.append(ranked.filter(col("rn") > ends(i) && col("rn") <= ends(i + 1))
          .drop("rn").coalesce(1), p, statsCols = Seq("o_orderkey", "o_custkey"))
      }
      def keyAt(rn: Long): Long =
        ranked.filter(col("rn") === rn).select(col("o_orderkey")).head().getLong(0)
      (r, p, keyAt(n / 8 + 1), keyAt(n / 2)) // slices 2..4, exactly
    }

  def metaFilteredStockQ(s: SparkSession, d: String): DataFrame = {
    // immutable fixture (rank-sliced layout + window bounds); the timed
    // operator is the stock-session pushdown fold
    val (root, _, lo, hi) = metaSlicedFixture(s, d)
    val stock = s.newSession()
    stock.conf.set("spark.sql.catalog.gq179", classOf[graft.catalog.GraftCatalog].getName)
    stock.conf.set("spark.sql.catalog.gq179.warehouse", root)
    // the exact-prune claim is DPP-guarded to above-broadcast-size scans
    // (a 100 TB fact clears it by six orders of magnitude); at bench SF
    // the fixture is small, so model the no-broadcast analytics session
    stock.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val clean = stock.sql(
      s"""SELECT count(*) AS n, min(o_custkey) AS mn, max(o_custkey) AS mx
          FROM gq179.ns.orders_fs
          WHERE o_orderkey >= $lo AND o_orderkey <= $hi""").collect().head
    val straddle = stock.sql(
      s"""SELECT count(*) AS n FROM gq179.ns.orders_fs
          WHERE o_orderkey >= ${lo + 1} AND o_orderkey <= $hi""").collect().head
    s.range(1).select(lit(lo).as("lo"), lit(hi).as("hi"),
      lit(clean.getLong(0)).as("n_clean"), lit(clean.getLong(1)).as("min_ck"),
      lit(clean.getLong(2)).as("max_ck"), lit(straddle.getLong(0)).as("n_straddle"))
  }

  /** q183: OR-OF-RANGES under the exact-prune claim (round-13 "what's
    * missing" #3) — `count/min/max WHERE k < lo OR k > hi` over the
    * boundary-aligned layout classifies per file through the tri-state
    * predicate TREE ([[graft.plans.GraftPrune.classifyFilteredTree]]):
    * slice 1 and slices 5..8 are provably inside (one branch each),
    * slices 2..4 provably outside (both branches fail), and the
    * aggregate folds from the manifest with zero files read. The same
    * gate carries the off-by-one disjunction (`k <= lo OR k > hi`) in
    * which slice 2 straddles — the claim must degrade to the advisory
    * scan with exact rows. */
  def metaOrRangesStockQ(s: SparkSession, d: String): DataFrame = {
    val (root, _, lo, hi) = metaSlicedFixture(s, d)
    val stock = s.newSession()
    stock.conf.set("spark.sql.catalog.gq183", classOf[graft.catalog.GraftCatalog].getName)
    stock.conf.set("spark.sql.catalog.gq183.warehouse", root)
    stock.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val folded = stock.sql(
      s"""SELECT count(*) AS n, min(o_custkey) AS mn, max(o_custkey) AS mx
          FROM gq183.ns.orders_fs
          WHERE o_orderkey < $lo OR o_orderkey > $hi""").collect().head
    val straddle = stock.sql(
      s"""SELECT count(*) AS n FROM gq183.ns.orders_fs
          WHERE o_orderkey <= $lo OR o_orderkey > $hi""").collect().head
    s.range(1).select(lit(lo).as("lo"), lit(hi).as("hi"),
      lit(folded.getLong(0)).as("n_or"), lit(folded.getLong(1)).as("min_ck"),
      lit(folded.getLong(2)).as("max_ck"), lit(straddle.getLong(0)).as("n_straddle"))
  }

  /** q184: the DAILY-ROLLUP shape at yearly grain — `SELECT
    * date_trunc('year', d), count(*), min, max … GROUP BY 1` over a
    * year-clustered layout answers from the manifest via the MONOTONIC
    * grouped fold ([[graft.plans.GraftPrune.rewriteGroupedMetaAgg]]
    * through `PullOutGroupingExpressions`' extracted shape): per file,
    * trunc(min) == trunc(max) proves the whole file lands in one
    * period, so each year's aggregates fold from that year's file
    * stats — zero files read (GroupedMetaAggSpec pins the fold on DATE
    * and TIMESTAMP_NTZ columns — `o_orderdate` is the latter — under a
    * fixed-offset zone, the scan under a DST zone, and the finer-grain
    * bail). The most common BI rollup a
    * date-partitioned 100 TB table serves. The rollup plans in a
    * [[graft.plans.GraftPrune.ruled]] child session, so `s` keeps its
    * optimizer. */
  def metaYearRollupQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val path = Fixture.ensure("q184", d) {
      val r = java.nio.file.Files.createTempDirectory("graft_metayr").toString
      val p = s"$r/orders_yr"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      // one file per year PRESENT IN THE DATA (a handful of values —
      // never hardcode the span: this dataset's dates are not TPC-H's)
      val years = orders.select(year(col("o_orderdate")).as("y")).distinct()
        .collect().map(_.getInt(0)).sorted
      years.foreach { y =>
        GraftTable.append(orders.filter(year(col("o_orderdate")) === y).coalesce(1),
          p, statsCols = Seq("o_orderkey", "o_orderdate"))
      }
      p
    }
    GraftTable.read(graft.plans.GraftPrune.ruled(s), path)
      .groupBy(date_trunc("year", col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .select(micros(col("yr")).as("yr_us"), col("n_orders"),
        col("min_key"), col("max_key"))
  }

  /** Shared q181/q182 fixture: orders laid out PARTITION-SHAPED on
    * `o_orderpriority` — one single-valued file set per priority (the
    * enum/date-partitioned 100 TB layout), stats on the partition
    * column and the key. Returns (warehouse root, table path). */
  private def metaGroupedFixture(s: SparkSession, d: String): (String, String) =
    Fixture.ensure("q181", d) {
      import graft.core.GraftTable
      val r = java.nio.file.Files.createTempDirectory("graft_metagrp").toString
      val p = s"$r/ns/orders_pp"
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"))
      val prios = orders.select(col("o_orderpriority")).distinct()
        .collect().map(_.getString(0)).sorted
      prios.foreach { prio =>
        GraftTable.append(orders.filter(col("o_orderpriority") === prio).coalesce(1),
          p, statsCols = Seq("o_orderkey", "o_custkey", "o_orderpriority"))
      }
      (r, p)
    }

  /** q181: GROUPED metadata aggregates in a TRULY STOCK session — the
    * round-13 verdict's "next-most-common BI probe": `SELECT k,
    * count(*), min, max … GROUP BY k` over a partition-shaped layout
    * answers per group from the manifest via complete DSv2 aggregate
    * pushdown ([[graft.catalog.GraftMetaAggFold]] →
    * [[graft.plans.GraftPrune.foldGroupedMetaAgg]]) — zero files read
    * (PlanAudit pins the LocalTableScan; GroupedMetaAggSpec pins the
    * multi-valued-file bail). The oracle computes the same rollup the
    * real way. */
  def metaGroupedStockQ(s: SparkSession, d: String): DataFrame = {
    val (root, _) = metaGroupedFixture(s, d)
    val stock = s.newSession()
    stock.conf.set("spark.sql.catalog.gq181", classOf[graft.catalog.GraftCatalog].getName)
    stock.conf.set("spark.sql.catalog.gq181.warehouse", root)
    stock.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = stock.sql(
      """SELECT o_orderpriority AS prio, count(*) AS n_orders,
            min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
            min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
          FROM gq181.ns.orders_pp GROUP BY o_orderpriority""")
    // materialize through the STOCK session (the folded plan is what
    // executes); re-wrap priority-group-sized rows for the gate
    import scala.jdk.CollectionConverters._
    s.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** q182: the IN-LIST exact-prune claim in a stock session (verdict
    * ask #5) — `count(*)/min/max WHERE k IN (…)` over the
    * partition-shaped layout: member files classify provably inside
    * (single-valued ∈ list), member-free files provably outside, the
    * aggregate folds from the manifest with zero files read. The same
    * result row carries an IN probe over the RANGE-valued key column,
    * which cannot classify and must take the advisory path (real scan,
    * exact rows) — both paths against one oracle. */
  def metaInListStockQ(s: SparkSession, d: String): DataFrame = {
    val (root, path) = metaGroupedFixture(s, d)
    val minKey = graft.core.GraftTable.read(s, path)
      .agg(min(col("o_orderkey"))).head().getLong(0)
    val stock = s.newSession()
    stock.conf.set("spark.sql.catalog.gq182", classOf[graft.catalog.GraftCatalog].getName)
    stock.conf.set("spark.sql.catalog.gq182.warehouse", root)
    stock.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val folded = stock.sql(
      """SELECT count(*) AS n, min(o_orderkey) AS mn, max(o_orderkey) AS mx
          FROM gq182.ns.orders_pp
          WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '9-NONE')""").collect().head
    val advisory = stock.sql(
      s"""SELECT count(*) AS n FROM gq182.ns.orders_pp
          WHERE o_orderkey IN ($minKey, ${minKey + 1})""").collect().head
    s.range(1).select(
      lit(folded.getLong(0)).as("n_in"), lit(folded.getLong(1)).as("min_key"),
      lit(folded.getLong(2)).as("max_key"), lit(advisory.getLong(0)).as("n_adv"))
  }

  /** q151: q126's COW UPDATE as SQL TEXT — assignments read the row's
    * own columns, the decimal-exact price adjustment spelled in SQL. */
  def sqlUpdateQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_sqlupd").toString
    val path = s"$root/orders_u"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    graft.plans.GraftSql.dml(s, s"""UPDATE graft.`$path` SET o_orderstatus = 'P',
      o_totalprice = CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
      WHERE o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'O'""")
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  private lazy val q152Root: String =
    java.nio.file.Files.createTempDirectory("graft_sqlmerge").toString

  /** q152: q145's MERGE INTO as SQL TEXT — conditional DELETE/UPDATE
    * matched clauses plus INSERT *, the full Delta-style statement
    * routed onto the keyed-COW merge. */
  def sqlMergeQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q152Root
    TableIO.clearDir(root)
    val path = s"$root/orders_merge"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), path)
    orders.createOrReplaceTempView("q152_merge_src")
    graft.plans.GraftSql.dml(s, s"""
      MERGE INTO graft.`$path` AS t USING q152_merge_src AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderstatus = 'P' THEN DELETE
      WHEN MATCHED AND s.o_orderstatus = 'F' THEN UPDATE SET o_totalprice = s.o_totalprice * 2
      WHEN NOT MATCHED THEN INSERT *""")
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"))
  }

  private lazy val q153Root: String =
    java.nio.file.Files.createTempDirectory("graft_sqlmaint").toString

  /** q153: the maintenance dialect end to end as SQL TEXT — OPTIMIZE
    * ZORDER BY reclusters the table, CREATE TABLE … SHALLOW CLONE forks
    * it, DELETE mutates the fork, RESTORE rolls the fork back, and the
    * fork must read byte-identical to the source it was cloned from
    * (every statement through [[graft.plans.GraftSql.dml]]; the oracle
    * is the declarative source selection — any statement misfire,
    * clone/source fate-sharing, or restore drift breaks the hash). */
  def sqlMaintenanceQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q153Root
    TableIO.clearDir(root)
    val (src, fork) = (s"$root/orders_m", s"$root/orders_fork")
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    GraftTable.overwrite(orders.repartition(8), src, statsCols = Seq("o_orderkey"))
    graft.plans.GraftSql.dml(s, s"OPTIMIZE graft.`$src` ZORDER BY (o_orderkey)")
    graft.plans.GraftSql.dml(s, s"CREATE TABLE graft.`$fork` SHALLOW CLONE graft.`$src`")
    graft.plans.GraftSql.dml(s, s"DELETE FROM graft.`$fork` WHERE o_orderstatus = 'F'")
    graft.plans.GraftSql.dml(s, s"RESTORE TABLE graft.`$fork` TO VERSION AS OF 1")
    GraftTable.read(s, fork).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"))
  }

  private lazy val q154Root: String =
    java.nio.file.Files.createTempDirectory("graft_zorder2").toString

  /** q154: multi-column z-order as SQL TEXT — `OPTIMIZE … ZORDER BY
    * (l_orderkey, l_partkey)` auto-quantizes both dimensions against the
    * snapshot's live bounds (orderkey off the manifest stats, partkey off
    * the measured fallback — stats were collected on orderkey only) and
    * relayouts on the Morton interleave; the read back is a pruned scan
    * on the SECOND dimension, the one a single-column sort can't skip on.
    * The oracle is the declarative selection — a relayout that loses,
    * duplicates, or reorders-within-file-corrupts rows breaks the hash;
    * PlanAudit pins the skip rates on both dimensions. */
  def sqlZorderQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q154Root
    TableIO.clearDir(root)
    val t = s"$root/lineitem_z"
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_linenumber"))
    GraftTable.overwrite(li.repartition(8), t, statsCols = Seq("l_orderkey"))
    graft.plans.GraftSql.dml(s, s"OPTIMIZE graft.`$t` ZORDER BY (l_orderkey, l_partkey)")
    GraftTable.readPruned(s, t,
      Seq(GraftTable.ColRange("l_partkey", Some(1), Some(200)))).df
      .filter(col("l_partkey").between(1, 200))
  }

  private lazy val q155Root: String =
    java.nio.file.Files.createTempDirectory("graft_analyze").toString

  /** q155: ANALYZE stats backfill as SQL TEXT — the table lands
    * clustered on o_custkey but indexed only on o_orderkey (the layout
    * could skip, nothing records the ranges); `ANALYZE … COMPUTE STATS
    * FOR COLUMNS (o_custkey)` backfills per-file bounds in a
    * metadata-only commit with no data rewrite, and the read back is a
    * pruned scan on the newly indexed dimension. The oracle is the
    * declarative selection — stats that misstate any file's range drop
    * or duplicate rows and break the hash; PlanAudit pins the no-rewrite
    * and skip-rate claims. */
  def sqlAnalyzeQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q155Root
    TableIO.clearDir(root)
    val t = s"$root/orders_a"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"))
    GraftTable.writeClustered(orders, t, col("o_custkey"), numFiles = 8,
      statsCols = Seq("o_orderkey"))
    graft.plans.GraftSql.dml(s, s"ANALYZE graft.`$t` COMPUTE STATS FOR COLUMNS (o_custkey)")
    GraftTable.readPruned(s, t,
      Seq(GraftTable.ColRange("o_custkey", Some(1), Some(150)))).df
      .filter(col("o_custkey").between(1, 150))
  }

  private lazy val q156Root: String =
    java.nio.file.Files.createTempDirectory("graft_optwhere").toString

  /** q156: bounded compaction as SQL TEXT — the table lands as a
    * clustered archive (o_orderkey > 3000) plus three small appends
    * that all fall in the low window, then `OPTIMIZE … WHERE
    * o_orderkey <= 3000` repacks JUST that window (the archive's files
    * carry over untouched — Delta's partition-scoped OPTIMIZE
    * generalized to stats ranges, the only compaction cadence that
    * stays O(window) at 100 TB). The read back is a pruned scan of the
    * repacked window; the oracle is the declarative selection — a
    * rewrite that loses, duplicates, or mixes rows across the window
    * boundary breaks the hash. PlanAudit pins the carried-untouched
    * and O(window)-commit claims. */
  def sqlOptimizeWhereQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = q156Root
    TableIO.clearDir(root)
    val t = s"$root/orders_w"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"))
    GraftTable.writeClustered(orders.filter(col("o_orderkey") > 3000), t,
      col("o_orderkey"), numFiles = 8, statsCols = Seq("o_orderkey"))
    val low = orders.filter(col("o_orderkey") <= 3000)
    (0 until 3).foreach(i => GraftTable.append(
      low.filter(col("o_orderkey") % 3 === i), t, statsCols = Seq("o_orderkey")))
    graft.plans.GraftSql.dml(s, s"OPTIMIZE graft.`$t` WHERE o_orderkey <= 3000")
    GraftTable.readPruned(s, t,
      Seq(GraftTable.ColRange("o_orderkey", None, Some(3000)))).df
      .filter(col("o_orderkey") <= 3000)
  }

  private lazy val q157Root: String =
    java.nio.file.Files.createTempDirectory("graft_ctas").toString

  /** q157: the dialect's CREATE/INSERT surface end to end — the table
    * materializes from a SQL CTAS over half the source, the other half
    * arrives via `INSERT INTO … SELECT`, and a third slice replays
    * through `INSERT INTO … BY NAME` with its SELECT columns reordered
    * (then is deleted again, exercising both binds); the oracle is the
    * plain declarative union — a positional mis-bind, a BY-NAME
    * mis-bind, or an insert that double-writes breaks the hash. */
  def sqlCtasInsertQ(s: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftSql
    val root = q157Root
    TableIO.clearDir(root)
    val t = s"$root/orders_c"
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus")).createOrReplaceTempView("q157_src")
    GraftSql.dml(s, s"CREATE TABLE graft.`$t` AS " +
      "SELECT * FROM q157_src WHERE o_orderkey % 2 = 0")
    GraftSql.dml(s, s"INSERT INTO graft.`$t` " +
      "SELECT * FROM q157_src WHERE o_orderkey % 2 = 1")
    GraftSql.dml(s, s"INSERT INTO graft.`$t` BY NAME " +
      "SELECT o_orderstatus, o_orderkey + 10000000 AS o_orderkey, o_custkey " +
      "FROM q157_src WHERE o_orderkey % 100 = 7")
    GraftSql.dml(s, s"DELETE FROM graft.`$t` WHERE o_orderkey > 10000000")
    graft.core.GraftTable.read(s, t)
  }

  private lazy val q158Root: String =
    java.nio.file.Files.createTempDirectory("graft_srcwrite").toString

  /** q158: the `format("graft")` WRITER end to end — half the source
    * arrives through a creating append, half through a second append,
    * an `Ignore`-mode write against the existing table must no-op, and
    * the read back goes through the batch source (the GraftBatch scan,
    * stats skipping live). The oracle is the plain selection — a
    * writer that drops, duplicates, or lets the Ignore write through
    * breaks the hash. */
  def sourceWriteQ(s: SparkSession, d: String): DataFrame = {
    val root = q158Root
    TableIO.clearDir(root)
    val t = s"$root/orders_fw"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"))
    orders.filter(col("o_orderkey") % 2 === 0).write.format("graft")
      .option("statsCols", "o_orderkey").mode("append").save(t)
    orders.filter(col("o_orderkey") % 2 === 1).write.format("graft")
      .option("statsCols", "o_orderkey").mode("append").save(t)
    orders.limit(7).write.format("graft").mode("ignore").save(t)
    s.read.format("graft").load(t)
  }

  /** q159: MERGE-ON-READ DELETE via deletion vectors
    * ([[graft.core.GraftTable.deleteWhereMor]]): two successive keyed
    * deletes land as vector-swap commits — zero data files rewritten,
    * O(deleted rows) sidecar bytes, the second delete MERGING into the
    * first file's vector — and the read-back must equal the
    * declarative complement of both predicates (the per-row liveness
    * probe is invisible to results). The cost shape vs q125's COW
    * twin is the whole point: a 100 TB GDPR point delete commits in
    * sidecar bytes, not file rewrites (PlanAudit pins the
    * zero-rewrite claim; purge + vacuum complete the physical
    * erasure). */
  def morDeleteQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_mordel").toString
    val path = s"$root/orders_mor"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    GraftTable.deleteWhereMor(s, path,
      col("o_orderkey").between(1000L, 3000L) && col("o_orderstatus") === "F",
      pruneRanges = Seq(GraftTable.ColRange("o_orderkey", Some(1000L), Some(3000L))))
    GraftTable.deleteWhereMor(s, path,
      col("o_orderkey").between(2000L, 4000L) && col("o_orderstatus") === "O",
      pruneRanges = Seq(GraftTable.ColRange("o_orderkey", Some(2000L), Some(4000L))))
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  /** q160: the MOR dialect end to end — TBLPROPERTIES flips the SAME
    * `DELETE FROM` text to deletion vectors, `REORG … APPLY (PURGE)`
    * folds them back into a rewrite, and the post-purge read rides the
    * batch source's vectorized fast path (no liveness filter left).
    * Same complement oracle: property, vectors, and purge must all be
    * invisible to results. */
  def sqlMorPurgeQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_sqlmor").toString
    val path = s"$root/orders_mp"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    graft.plans.GraftSql.dml(s, s"ALTER TABLE graft.`$path` " +
      "SET TBLPROPERTIES('graft.deletionVectors'='true')")
    graft.plans.GraftSql.dml(s, s"DELETE FROM graft.`$path` " +
      "WHERE o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'F'")
    graft.plans.GraftSql.dml(s, s"REORG TABLE graft.`$path` APPLY (PURGE)")
    s.read.format("graft").load(path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  /** q161: MERGE-ON-READ UPDATE ([[graft.core.GraftTable.updateWhereMor]]):
    * q126's status-correction + price-adjustment slice, but the old
    * images mask via deletion vectors and only the changed rows' new
    * images write — O(changed rows) amplification instead of O(touched
    * files). Identical CASE-WHEN complement oracle as q126: the cost
    * shape must be invisible to results. */
  def morUpdateQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val root = java.nio.file.Files.createTempDirectory("graft_morupd").toString
    val path = s"$root/orders_mu"
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.writeClustered(orders, path, col("o_orderkey"), 8,
      statsCols = Seq("o_orderkey"))
    GraftTable.updateWhereMor(s, path,
      col("o_orderkey").between(1000L, 3000L) && col("o_orderstatus") === "O",
      Map("o_orderstatus" -> lit("P"),
        "o_totalprice" -> (col("o_totalprice").cast("decimal(18,4)") *
          lit(BigDecimal("1.1")).cast("decimal(2,1)")).cast("double")),
      pruneRanges = Seq(GraftTable.ColRange("o_orderkey", Some(1000L), Some(3000L))))
    GraftTable.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), micros(col("o_orderdate")).as("odate_us"))
  }

  /** One JVM-stable warehouse root for the catalog queries, registered
    * lazily on the harness session — catalog confs (unlike extensions)
    * load dynamically at first name resolution, so no special session
    * build is needed. */
  private lazy val catalogWarehouse: String =
    java.nio.file.Files.createTempDirectory("graft_catalog_wh").toString

  private def ensureCatalog(s: SparkSession): String = {
    if (s.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", catalogWarehouse)
    }
    catalogWarehouse
  }

  /** q162: the dim_customer SCD2 warehouse chain run entirely through
    * CATALOG-NAMED tables ([[graft.catalog.GraftCatalog]]) — named CTAS,
    * `spark.table` reads, named `INSERT OVERWRITE` — the reference's
    * layered-namespace model shape (`models/source.yml:4-19`,
    * `macros/generate_schema_name.sql:1-3`) with zero paths outside the
    * warehouse mapping. Shares q93's oracle: the catalog must be
    * invisible to results. */
  def catalogDimCustomerQ(s: SparkSession, d: String): DataFrame = {
    val wh = ensureCatalog(s)
    TableIO.clearDir(s"$wh/nwc")
    val name = graft.northwind.NorthwindWarehouse.buildDimCustomerOnCatalog(s, d, "nwc")
    dimCustomerSelect(s.table(name))
  }

  /** q163: q103's three-commit time travel read back through GRAMMAR-
    * NATIVE `VERSION AS OF` over a catalog name — Spark only enables the
    * time-travel clause for catalog tables, so this is the true
    * counterpart of the reference's `AT (TIMESTAMP => …)`
    * (`models/intermediate/stg_dim_customer.sql:71`). The correction
    * commit lands as a NAMED `MERGE INTO`; every snapshot is then a pure
    * SQL text read. Same oracle as q103: each version's state rebuilt
    * declaratively. */
  def catalogVersionAsOfQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val wh = ensureCatalog(s)
    // the 3-commit history is an immutable fixture; the timed operator
    // is the grammar-native VERSION AS OF read over each snapshot
    Fixture.ensure("q163", d) {
      TableIO.clearDir(s"$wh/tt163")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt163")
      val path = s"$wh/tt163/orders_v"
      val split = to_timestamp(lit("1996-01-01"))
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      GraftTable.overwrite(orders.filter(col("o_orderdate") < split), path)
      GraftTable.append(orders.filter(col("o_orderdate") >= split), path)
      orders.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("q163_corrections")
      graft.plans.GraftSql.dml(s, """
        MERGE INTO graft.tt163.orders_v AS t USING q163_corrections AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN NOT MATCHED THEN INSERT *""")
    }
    (1L to 3L).map { v =>
      s.sql(s"""SELECT ${v}L AS v, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        FROM graft.tt163.orders_v VERSION AS OF $v""")
    }.reduce(_ unionByName _)
  }

  private lazy val q165Root: String =
    java.nio.file.Files.createTempDirectory("graft_stream_totable").toString

  /** q165: the streaming half of the catalog surface — q140's 3-commit
    * drain re-run as `writeStream.toTable("graft.st165.orders_hot")`:
    * the V2 [[graft.sources.GraftStreamingWrite]] sink (executor-written
    * parquet, one manifest commit per epoch, exactly-once by the
    * `q:<queryId>` stream HWM), with the sink table auto-created
    * through [[graft.catalog.GraftCatalog]] from the query schema.
    * Same declarative oracle as q140: the distributed sink must be
    * invisible to results. */
  def streamToTableQ(s: SparkSession, d: String): DataFrame = {
    import graft.core.GraftTable
    val wh = ensureCatalog(s)
    TableIO.clearDir(s"$wh/st165")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.st165")
    val root = q165Root
    TableIO.clearDir(root)
    val (src, ckpt) = (s"$root/src", s"$root/ckpt")
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    GraftTable.overwrite(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), src)
    GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), src)
    GraftTable.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), src)
    val q = s.readStream.format("graft")
      .option("maxVersionsPerTrigger", 1).load(src)
      .filter(col("o_totalprice") > 1000)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.st165.orders_hot")
    q.awaitTermination()
    s.table("graft.st165.orders_hot").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").as("total"),
      micros(col("o_orderdate")).as("order_us"))
  }

  /** q133: per-document compressibility — the quality signal behind
    * repetition/boilerplate filters. The DRIVER-GATED signal is the
    * deterministic LZ77-style n-gram proxy
    * ([[Corpus.ngramCompressibility]] — total vs distinct 8-grams over a
    * bounded prefix): integer-exact in any engine, so the DuckDB oracle
    * replays it bit-for-bit (full tri-check, closing the registry's one
    * rows-only gate). The sharper DEFLATE kernel
    * ([[Corpus.compressionRatio]]) remains the production signal, pinned
    * by CorpusSpec (DuckDB has no zlib surface to oracle it). */
  def compressionRatioQ(s: SparkSession, d: String): DataFrame =
    Corpus.ngramCompressibility(Ops.spread(Tables.documents(s, d)), "doc_id", "text")

  /** q130: per-group OLS regression + Pearson correlation in one
    * combinable pass ([[Ops.groupOls]]) — extended price regressed on
    * quantity per (returnflag, linestatus), the `regr_slope`/`corr`
    * SQL-surface family. The oracle replays the same decimal-quantized
    * moment sums, so both engines compute the closed form on identical
    * exact inputs. */
  def groupOlsQ(s: SparkSession, d: String): DataFrame =
    Ops.groupOls(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
      "l_quantity", "l_extendedprice")

  // ---------------------------------------------------------------- wiring

  val all: Map[String, QFn] = Map(
    "q130_group_ols" -> (groupOlsQ _),
    "q137_cdf_chain" -> (cdfChainQ _),
    "q138_sql_time_travel" -> (sqlTimeTravelQ _),
    "q139_ruled_bloom_scan" -> (ruledBloomScanQ _),
    "q140_stream_cdc" -> (streamCdcQ _),
    "q141_stream_scd2" -> (streamScd2Q _),
    "q142_check_constraints" -> (checkConstraintsQ _),
    "q143_shallow_clone" -> (cloneQ _),
    "q144_restore" -> (restoreQ _),
    "q145_merge_into" -> (mergeIntoQ _),
    "q146_convert_in_place" -> (convertQ _),
    "q147_cdf_stream_replica" -> (cdfStreamReplicaQ _),
    "q131_bloom_lookup" -> (bloomLookupQ _),
    "q132_cdc_replica" -> (cdcReplicaQ _),
    "q133_compression_ratio" -> (compressionRatioQ _),
    "q134_ruled_scan" -> (ruledScanQ _),
    "q148_source_scan" -> (sourceScanQ _),
    "q149_source_bloom_scan" -> (sourceBloomScanQ _),
    "q150_sql_delete" -> (sqlDeleteQ _),
    "q151_sql_update" -> (sqlUpdateQ _),
    "q152_sql_merge" -> (sqlMergeQ _),
    "q153_sql_maintenance" -> (sqlMaintenanceQ _),
    "q154_sql_zorder_multi" -> (sqlZorderQ _),
    "q155_sql_analyze" -> (sqlAnalyzeQ _),
    "q156_sql_optimize_where" -> (sqlOptimizeWhereQ _),
    "q157_sql_ctas_insert" -> (sqlCtasInsertQ _),
    "q158_source_write" -> (sourceWriteQ _),
    "q159_mor_delete" -> (morDeleteQ _),
    "q160_sql_mor_purge" -> (sqlMorPurgeQ _),
    "q161_mor_update" -> (morUpdateQ _),
    "q162_catalog_warehouse" -> (catalogDimCustomerQ _),
    "q163_catalog_version_asof" -> (catalogVersionAsOfQ _),
    "q164_mor_merge" -> (morMergeQ _),
    "q165_stream_totable" -> (streamToTableQ _),
    "q166_replace_where" -> (sqlReplaceWhereQ _),
    "q167_mor_replace_where" -> (morReplaceWhereQ _),
    "q168_sql_truncate" -> (sqlTruncateQ _),
    "q169_catalog_rtas" -> (catalogRtasQ _),
    "q170_dynamic_prune" -> (dynamicPruneQ _),
    "q171_meta_agg" -> (metaAggQ _),
    "q172_meta_count_filtered" -> (metaCountFilteredQ _),
    "q173_named_cdf_replica" -> (namedCdfReplicaQ _),
    "q174_named_cdf_batch" -> (namedCdfBatchQ _),
    "q175_rowlevel_merge" -> (rowLevelMergeQ _),
    "q176_rowlevel_mor_merge" -> (rowLevelMorMergeQ _),
    "q177_spj_bucketed_join" -> (spjBucketedJoinQ _),
    "q178_spj_asof_join" -> (spjAsofJoinQ _),
    "q179_meta_filtered_stock" -> (metaFilteredStockQ _),
    "q180_spj_skew_join" -> (spjSkewJoinQ _),
    "q181_meta_grouped_stock" -> (metaGroupedStockQ _),
    "q182_meta_in_stock" -> (metaInListStockQ _),
    "q183_meta_or_stock" -> (metaOrRangesStockQ _),
    "q184_meta_year_rollup" -> (metaYearRollupQ _),
    "q01_agg_pushdown" -> (aggPushdown _),
    "q02_star_join" -> (starJoin _),
    "q03_staging_envelope" -> (stagingEnvelope _),
    "q04_surrogate_key" -> (surrogateKeys _),
    "q05_dedup_rank" -> (dedupRank _),
    "q06_semi_join" -> (semiJoin _),
    "q07_anti_join" -> (antiJoin _),
    "q08_hwm_filter" -> (hwmFilter _),
    "q09_cdc_change_detect" -> (cdcChangeDetect _),
    "q10_scd2_history" -> (scd2History _),
    "q11_scd2_incremental" -> (scd2Incremental _),
    "q12_asof_join" -> (asofJoin _),
    "q13_dummy_fallback" -> (dummyFallback _),
    "q14_dim_date" -> (dimDate _),
    "q15_missing_dates" -> (missingDates _),
    "q16_audit_lifecycle" -> (auditLifecycle _),
    "q17_incremental_upsert" -> (incrementalUpsert _),
    "q18_topn_per_group" -> (topnPerGroup _),
    "q19_windowed_agg" -> (windowedAgg _),
    "q30_repair_lookup" -> (repairLookup _),
    "q31_snapshot" -> (snapshotQ _),
    "q32_multimodal_decode" -> (multimodalDecode _),
    "q33_fingerprint_tokens" -> (fingerprintTokens _),
    "q34_embedding_ivf_ann" -> (embeddingIvfAnn _),
    "q35_salted_join" -> (saltedJoinQ _),
    "q36_nw_fact_order" -> (nwFactOrder _),
    "q37_snapshot_incremental" -> (snapshotIncrementalQ _),
    "q38_mm_feature_ann" -> (mmFeatureAnn _),
    "q42_near_dup_clusters" -> (nearDupClusters _),
    "q43_corpus_split" -> (corpusSplit _),
    "q44_token_packing" -> (corpusPack _),
    "q45_decontaminate" -> (corpusDecontaminate _),
    "q46_repetition" -> (repetitionCounts _),
    "q47_sessionize" -> (sessionizeQ _),
    "q48_corpus_stats" -> (corpusStats _),
    "q49_segment_dedup" -> (segmentDedup _),
    "q50_quality_filter" -> (qualityFilterQ _),
    "q51_stratified_sample" -> (stratifiedSample _),
    "q52_tfidf_topk" -> (tfidfTopkQ _),
    "q53_kmeans_cluster" -> (kmeansQ _),
    "q54_semantic_dedup" -> (semanticDedupQ _),
    "q55_distinct_sketch" -> (distinctSketchQ _),
    "q56_cross_entropy" -> (crossEntropyQ _),
    "q57_token_chunks" -> (chunkTokensQ _),
    "q58_stratum_quota" -> (stratumQuotaQ _),
    "q59_gram_matrix" -> (gramMatrixQ _),
    "q60_pq_ann" -> (embeddingPqAnn _),
    "q61_heavy_hitters" -> (heavyHittersQ _),
    "q62_cdc_chunks" -> (cdcChunksQ _),
    "q63_bloom_semi" -> (bloomSemiQ _),
    "q64_importance" -> (importanceQ _),
    "q65_random_projection" -> (randomProjectQ _),
    "q66_curriculum_deciles" -> (curriculumQ _),
    "q67_corpus_refine" -> (corpusRefineQ _),
    "q68_media_decode" -> (mediaDecodeQ _),
    "q69_pii_redact" -> (piiRedactQ _),
    "q70_mixture_weights" -> (mixtureWeightsQ _),
    "q71_rolling_window" -> (rollingWindowQ _),
    "q72_pivot_counts" -> (pivotCountsQ _),
    "q73_rollup_revenue" -> (rollupRevenueQ _),
    "q74_funnel" -> (funnelQ _),
    "q75_session_window" -> (sessionWindowQ _),
    "q76_ngram_lm" -> (ngramLmQ _),
    "q77_incremental_dedup" -> (incrementalDedupQ _),
    "q78_group_quantiles" -> (groupQuantilesQ _),
    "q79_cube_revenue" -> (cubeRevenueQ _),
    "q80_set_ops" -> (setOpsQ _),
    "q81_interval_join" -> (intervalJoinQ _),
    "q82_json_extract" -> (jsonExtractQ _),
    "q83_active_versions" -> (activeVersionsQ _),
    "q84_zorder_key" -> (zorderQ _),
    "q85_nullsafe_join" -> (nullSafeJoinQ _),
    "q86_outlier_flags" -> (outlierFlagsQ _),
    "q87_fuzzy_match" -> (fuzzyMatchQ _),
    "q88_audio_decode" -> (audioDecodeQ _),
    "q89_array_agg" -> (arrayAggQ _),
    "q90_rank_functions" -> (rankFunctionsQ _),
    "q91_topk_aggregator" -> (topkAggQ _),
    "q39_nw_dim_products" -> (nwDimProducts _),
    "q40_nw_fact_order_details" -> (nwFactOrderDetails _),
    "q41_nw_dim_employee" -> (nwDimEmployee _),
    "q92_nw_snapshot_employee" -> (nwSnapshotEmployee _),
    "q93_nw_dim_customer" -> (nwDimCustomer _),
    "q94_nw_dim_shipper" -> (nwDimShipper _),
    "q95_pq_rerank" -> (embeddingPqRerank _),
    "q96_clean_markup" -> (cleanMarkupQ _),
    "q97_knn_predict" -> (knnPredictQ _),
    "q98_quality_logit" -> (qualityLogitQ _),
    "q99_sql_surface" -> (sqlSurfaceQ _),
    "q100_winsorize" -> (winsorizeQ _),
    "q101_opt_out" -> (optOutQ _),
    "q102_incremental_agg" -> (incrementalAggQ _),
    "q103_time_travel" -> (timeTravelQ _),
    "q104_pruned_scan" -> (prunedScanQ _),
    "q105_dup_spans" -> (dupSpansQ _),
    "q106_dup_remove" -> (dupRemoveQ _),
    "q107_version_diff" -> (versionDiffQ _),
    "q108_bpe_train" -> (bpeTrainQ _),
    "q109_bpe_encode" -> (bpeEncodeQ _),
    "q110_range_join" -> (rangeJoinQ _),
    "q111_quality_suite" -> (qualitySuiteQ _),
    "q112_gap_fill" -> (gapFillQ _),
    "q113_unpivot" -> (unpivotQ _),
    "q114_multiformat" -> (multiFormatQ _),
    "q115_k_anonymity" -> (kAnonymityQ _),
    "q116_bpe_fertility" -> (fertilityQ _),
    "q135_bpe_vocab" -> (bpeVocabQ _),
    "q136_schema_evolve" -> (schemaEvolveQ _),
    "q117_bm25" -> (bm25Q _),
    "q118_pagerank" -> (pageRankQ _),
    "q119_triangle_counts" -> (triangleQ _),
    "q120_cohort_retention" -> (retentionQ _),
    "q121_lpa_communities" -> (lpaQ _),
    "q122_event_transitions" -> (transitionsQ _),
    "q123_dim_on_grafttable" -> (nwDimCustomerOnGraft _),
    "q124_assoc_rules" -> (assocRulesQ _),
    "q125_delete_where" -> (deleteWhereQ _),
    "q126_update_where" -> (updateWhereQ _),
    "q127_ivf_index_ann" -> (embeddingIvfIndexAnn _),
    "q128_grouping_sets" -> (groupingSetsQ _),
    "q129_distinct_state" -> (distinctStateQ _),
    "q20_text_stats" -> (textStats _),
    "q21_langid" -> (langIdQ _),
    "q22_exact_dedup" -> (exactDedup _),
    "q23_minhash_sig" -> (minhashSig _),
    "q24_lsh_pairs" -> (lshPairs _),
    "q25_simhash" -> (simhashQ _),
    "q26_ngram_jaccard" -> (ngramJaccard _),
    "q27_embedding_topk" -> (embeddingTopk _),
    "q28_embedding_lsh_ann" -> (embeddingLshAnn _),
    "q29_embedding_near_dup" -> (embeddingNearDup _))

  val oracles: Map[String, String] = OracleSql.all
}
