package graft

/** DuckDB oracle formulations for every entry in [[Queries.all]].
  *
  * Each statement runs over views named after the testdata parquet tables and
  * must hash-match the Spark result: identical column names, identical value
  * representations (epoch micros for timestamps, decimal-exact double sums,
  * MD5 hex hashes — see Queries' parity conventions).
  */
object OracleSql {

  /** Normalized non-empty token list of `text`. */
  private val Toks = """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""

  /** Word-3-gram distinct shingles from a token list column named `toks`. */
  private val Shingles3 =
    """list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)])"""

  private val EnStop = "('the','a','of','and','to','in','is')"
  private val DummySkSql = "md5(concat_ws('-', '0', '-2208988800000000'))"

  /** Shared SCD2-over-events pipeline (mirrors Scd2.fromHistory semantics). */
  private val ScdCte = """
WITH ev AS (
  SELECT user_id, event_id, ts, event_type,
         md5(coalesce(cast(event_type AS varchar), '')) AS row_hash
  FROM events
), dedup AS (
  SELECT user_id, event_id, ts, event_type, row_hash FROM (
    SELECT *, lag(row_hash) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ph
    FROM ev) WHERE ph IS NULL OR ph <> row_hash
), v AS (
  SELECT user_id, event_id, ts, event_type, row_hash,
         row_number() OVER w AS version_no,
         lead(ts) OVER w AS next_eff
  FROM dedup WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), f AS (
  SELECT user_id, event_type, row_hash, version_no,
         CASE WHEN next_eff IS NULL THEN 'Y' ELSE 'N' END AS is_active,
         CASE WHEN version_no = 1 THEN TIMESTAMP '1900-01-01' ELSE ts END AS eff,
         coalesce(next_eff, TIMESTAMP '3001-01-01') AS expiry
  FROM v
), dim AS (
  SELECT md5(concat_ws('-', cast(user_id AS varchar), cast(epoch_us(eff) AS varchar))) AS sk,
         user_id, event_type, row_hash, version_no::int AS version_no, is_active, eff, expiry
  FROM f
)"""

  private val ScdSelect = ScdCte + """
SELECT sk, user_id, event_type, row_hash, version_no, is_active,
       epoch_us(eff) AS effective_us, epoch_us(expiry) AS expiry_us
FROM dim"""

  /** MinHash signature list CTE: doc_id, toks -> sh -> sig (8 hex minima). */
  private def minhashCte: String = {
    val sigs = (0 until 8).map(h => s"list_min([md5('$h:' || x) for x in sh]) AS mh$h").mkString(",\n         ")
    s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
sh AS (SELECT doc_id, $Shingles3 AS sh FROM t WHERE len(toks) >= 3),
sig AS (
  SELECT doc_id, sh,
         $sigs
  FROM sh)"""
  }

  /** Unrolled spherical k-means over micro-unit-quantized embeddings
    * (mirrors [[graft.operators.Cluster.kmeansAssign]]: k lowest-id seeds,
    * 6-dp-cosine argmax with lowest-cluster tie-break, integer-exact
    * centroid means, empty clusters keep their previous centroid).
    * `iters` assignment rounds, updates between rounds; the final
    * assignment CTE is `a<iters>`. */
  private def kmeansCte(k: Int, iters: Int): String = {
    def cos(v: String, c: String) =
      s"""round(list_sum([$v.e[i] * $c.c[i] for i in generate_series(1, 64)])
               / (sqrt(list_sum([x * x for x in $v.e])) * sqrt(list_sum([x * x for x in $c.c]))), 6)"""
    // MATERIALIZED on every multiply-referenced CTE — c(i-1) feeds both
    // the assignment a_i and the centroid carry c_i, so an inlining
    // planner would re-expand the whole iteration chain per level (the
    // pageRankCte hazard; observed exponential replay there)
    val sb = new StringBuilder(s"""
WITH v AS MATERIALIZED (SELECT vec_id, [round(x::double * 1000000) for x in embedding] AS e FROM embeddings),
c0 AS MATERIALIZED (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::int AS cl, e AS c
       FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= $k)""")
    for (i <- 1 to iters) {
      sb ++= s""",
a$i AS MATERIALIZED (
  SELECT vec_id, e, cl FROM (
    SELECT v.vec_id, v.e, c.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY ${cos("v", "c")} DESC, c.cl) AS rn
    FROM v, c${i - 1} c) WHERE rn = 1)"""
      if (i < iters) sb ++= s""",
c$i AS MATERIALIZED (
  SELECT p.cl, coalesce(nu.c, p.c) AS c
  FROM c${i - 1} p LEFT JOIN (
    SELECT cl, list(s ORDER BY d) AS c FROM (
      SELECT cl, d, sum(e[d]) / count(*) AS s
      FROM a$i CROSS JOIN generate_series(1, 64) AS g(d)
      GROUP BY cl, d) GROUP BY cl) nu USING (cl))"""
    }
    sb.toString
  }

  /** Unrolled PageRank power iterations over the distinct product
    * co-purchase graph (mirrors [[graft.operators.Graph.pageRank]]:
    * uniform decimal(24,12) init, per-edge rank/out_deg contributions
    * quantized to decimal(24,12) before the per-node sum, dangling mass
    * redistributed uniformly, damped update re-quantized per iteration).
    * The final rank CTE is `r<iters>`. */
  /** BPE merge training as a bounded iterative CTE chain — the per-word
    * symbol state lives as rows (word, pos, sym, word-count), and each
    * iteration replays one merge exactly as `Bpe.trainBpe` does: pair
    * counts from adjacent symbols, argmax with the (count DESC, left,
    * right) tie-break and the count≥2 stop (an empty best makes every
    * later level a fixpoint no-op, mirroring the early stop), then the
    * LEFT-TO-RIGHT NON-OVERLAPPING application via gaps-and-islands
    * (consecutive match runs keep their odd-ranked members — "aaa" with
    * merge (a,a) fuses positions 1-2 and leaves 3, exactly the greedy
    * kernel). MATERIALIZED everywhere or the chain re-expands
    * exponentially (the pageRankCte lesson). `b<k>` holds merge k's
    * (l, r, cnt); `s<n>` is the fully-merged symbol state — which IS the
    * per-word encoding (training and encode share the single-merge
    * kernel, so the final training state equals encode(corpus words)). */
  private def bpeCte(iters: Int): String = {
    val sb = new StringBuilder(s"""
WITH wc AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c FROM (
        SELECT unnest($Toks) AS w FROM (SELECT text FROM documents)) GROUP BY w),
chars AS MATERIALIZED (SELECT w, c, list_append(regexp_extract_all(w, '.'), '</w>') AS cs FROM wc),
s0 AS MATERIALIZED (SELECT w, c, u.pos AS pos, u.sym AS sym FROM (
        SELECT w, c, unnest([{'pos': i, 'sym': cs[i]} for i in generate_series(1, len(cs))]) AS u
        FROM chars))""")
    for (k <- 1 to iters) {
      val p = s"s${k - 1}"
      sb ++= s""",
p$k AS MATERIALIZED (SELECT xa.sym AS l, xb.sym AS r, sum(xa.c)::BIGINT AS cnt
        FROM $p xa JOIN $p xb ON xa.w = xb.w AND xb.pos = xa.pos + 1
        GROUP BY 1, 2),
b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k WHERE cnt >= 2 ORDER BY cnt DESC, l, r LIMIT 1),
m$k AS MATERIALIZED (SELECT xa.w, xa.pos FROM $p xa JOIN $p xb ON xa.w = xb.w AND xb.pos = xa.pos + 1, b$k bb
        WHERE xa.sym = bb.l AND xb.sym = bb.r),
r$k AS MATERIALIZED (SELECT w, pos FROM (
          SELECT w, pos, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY pos) AS rn
          FROM (SELECT w, pos, pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS grp
                FROM m$k)) WHERE rn % 2 = 1),
s$k AS MATERIALIZED (SELECT w, c, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
               CASE WHEN is_m THEN (SELECT l || r FROM b$k) ELSE sym END AS sym
        FROM (SELECT xa.w, xa.c, xa.pos, xa.sym, (cur.pos IS NOT NULL) AS is_m
              FROM $p xa
              LEFT JOIN r$k cur ON xa.w = cur.w AND xa.pos = cur.pos
              LEFT JOIN r$k prv ON xa.w = prv.w AND xa.pos = prv.pos + 1
              WHERE prv.pos IS NULL))"""
    }
    sb.toString
  }

  /** The q108 merge-table SELECT over [[bpeCte]]'s per-level bests. */
  private def bpeMergesSql(iters: Int): String =
    bpeCte(iters) + "\nSELECT * FROM (\n" +
      (1 to iters).map(k =>
        s"""SELECT ${k - 1}::INTEGER AS rank, l AS "left", r AS "right", cnt AS pair_count FROM b$k""")
        .mkString("\nUNION ALL ") + "\n)"

  private def pageRankCte(iters: Int): String = {
    // MATERIALIZED everywhere a CTE is referenced more than once: an
    // inlining planner would otherwise re-evaluate r(i-1) for BOTH d_i
    // and c_i — the whole chain re-expands per level and the replay goes
    // exponential in iterations (observed: an sf0.1 replay spilling
    // >80 GB of temp before the hints; linear and in-memory after)
    // edge build mirrors Graph.basketPairs: baskets over 64 distinct
    // items drop WHOLE before pairing (the hot-basket fanout guarantee;
    // a no-op on TPC-H's ≤7-item orders)
    val sb = new StringBuilder("""
WITH bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
ok AS MATERIALIZED (SELECT b FROM bi GROUP BY b HAVING count(*) <= 64),
p AS MATERIALIZED (SELECT x.i AS src, y.i AS dst
           FROM bi x JOIN ok USING (b) JOIN bi y
             ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2),
e AS MATERIALIZED (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
nd AS MATERIALIZED (SELECT node, coalesce(d.c, 0)::BIGINT AS out_deg
       FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) nodes
       LEFT JOIN (SELECT src, count(*)::BIGINT AS c FROM e GROUP BY src) d ON node = d.src),
n AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nd),
r0 AS MATERIALIZED (SELECT node, out_deg, CAST(1.0 / n.n AS DECIMAL(24,12)) AS rank FROM nd, n)""")
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
d$i AS MATERIALIZED (SELECT coalesce(CAST(sum(rank) AS DOUBLE), 0.0) / (SELECT n FROM n) AS dang
        FROM r$p WHERE out_deg = 0),
c$i AS MATERIALIZED (SELECT e.dst AS node,
               sum(CAST(CAST(r.rank AS DOUBLE) / r.out_deg AS DECIMAL(24,12))) AS contrib
        FROM e JOIN r$p r ON e.src = r.node GROUP BY e.dst),
r$i AS MATERIALIZED (SELECT nd.node, nd.out_deg,
               CAST((1.0 - 0.85) / n.n + 0.85 * (coalesce(CAST(c.contrib AS DOUBLE), 0.0) + d$i.dang)
                    AS DECIMAL(24,12)) AS rank
        FROM nd LEFT JOIN c$i c ON nd.node = c.node, n, d$i)"""
    }
    sb.toString
  }

  /** Unrolled synchronous label propagation over the support-≥2
    * co-purchase graph (mirrors [[graft.operators.Graph.labelPropagation]]:
    * labels = node ids, per-round most-frequent neighbor label with
    * smallest-label tie-break, simultaneous update). Final CTE is
    * `l<rounds>`. */
  private def lpaCte(rounds: Int): String = {
    // MATERIALIZED for the same reason as [[pageRankCte]]: sym/nodes are
    // referenced every round and l(i-1) feeds round i — an inlining
    // planner re-expands the whole chain per round
    // edge build mirrors Graph.basketPairs + support ≥ 2 (see q118's cap note)
    val sb = new StringBuilder("""
WITH bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i FROM lineitem),
ok AS MATERIALIZED (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 64),
und AS MATERIALIZED (SELECT x.i AS a, y.i AS b
             FROM bi x JOIN ok USING (bk) JOIN bi y
               ON x.bk = y.bk AND x.i < y.i
             GROUP BY 1, 2 HAVING count(*) >= 2),
sym AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
nodes AS MATERIALIZED (SELECT DISTINCT node FROM sym),
l0 AS MATERIALIZED (SELECT node, node AS community FROM nodes)""")
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
c$i AS MATERIALIZED (SELECT s.node, l.community, count(*)::BIGINT AS n
        FROM sym s JOIN l$p l ON s.nbr = l.node GROUP BY 1, 2),
w$i AS MATERIALIZED (SELECT node, community FROM (
          SELECT node, community,
                 row_number() OVER (PARTITION BY node ORDER BY n DESC, community ASC) AS rn
          FROM c$i) WHERE rn = 1),
l$i AS MATERIALIZED (SELECT nodes.node, coalesce(w.community, nodes.node) AS community
        FROM nodes LEFT JOIN w$i w USING (node))"""
    }
    sb.toString
  }

  /** dbt-snapshot over the user event stream (q31 batch; q37 incremental). */
  private val SnapshotSql = """
WITH ev AS (
  SELECT user_id, event_id, ts, event_type,
         md5(coalesce(cast(event_type AS varchar), '')) AS row_hash
  FROM events
), dedup AS (
  SELECT user_id, event_id, ts, event_type, row_hash FROM (
    SELECT *, lag(row_hash) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ph
    FROM ev) WHERE ph IS NULL OR ph <> row_hash
)
SELECT md5(concat_ws('-', cast(user_id AS varchar), cast(epoch_us(ts) AS varchar))) AS dbt_scd_id,
       user_id, event_type, row_hash,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w) AS valid_to_us
FROM dedup WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** Shared IVFPQ pipeline through the ADC aggregation (q60/q95): coarse
    * assignment, nprobe=4 probes, per-subspace codes, integer micro-unit
    * ADC — mirrors Similarity.ivfPqTopK(nlist=16, nprobe=4, m=8, ksub=16). */
  private val PqAdcCte: String = """
WITH v AS (SELECT vec_id, [round(x::double * 1000000) for x in embedding] AS e FROM embeddings),
seeds AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::int AS j, e
          FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
cd AS (SELECT v.vec_id, s.j,
              list_sum([(v.e[i] - s.e[i]) * (v.e[i] - s.e[i]) for i in generate_series(1, 64)]) AS d
       FROM v CROSS JOIN seeds s),
ranked AS (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS r FROM cd),
assign AS (SELECT vec_id AS neighbor_id, j AS list_id FROM ranked WHERE r = 1),
probes AS (SELECT vec_id AS query_id, j AS list_id FROM ranked WHERE r <= 4 AND vec_id < 20),
cw AS (SELECT s.j AS c, g.sp, [s.e[g.sp * 8 + i] for i in generate_series(1, 8)] AS w
       FROM seeds s CROSS JOIN generate_series(0, 7) AS g(sp)),
sv AS (SELECT v.vec_id, g.sp, [v.e[g.sp * 8 + i] for i in generate_series(1, 8)] AS w
       FROM v CROSS JOIN generate_series(0, 7) AS g(sp)),
sd AS (SELECT sv.vec_id, sv.sp, cw.c,
              list_sum([(sv.w[i] - cw.w[i]) * (sv.w[i] - cw.w[i]) for i in generate_series(1, 8)]) AS d
       FROM sv JOIN cw USING (sp)),
codes AS (SELECT vec_id, sp, c FROM
  (SELECT *, row_number() OVER (PARTITION BY vec_id, sp ORDER BY d, c) AS r FROM sd) WHERE r = 1),
adc AS (SELECT p.query_id, a.neighbor_id, sum(qd.d)::BIGINT AS adc
        FROM probes p JOIN assign a USING (list_id)
        JOIN codes nc ON nc.vec_id = a.neighbor_id
        JOIN sd qd ON qd.vec_id = p.query_id AND qd.sp = nc.sp AND qd.c = nc.c
        WHERE p.query_id <> a.neighbor_id
        GROUP BY 1, 2)"""

  /** The deterministic IVF replay (lowest-id centroids, cosine ranking,
    * nprobe=4, k=5) — gates BOTH the ad-hoc path (q34) and the
    * persisted-index path (q127), which are equal by construction. */
  private val ivfAnnSql = """
WITH v AS (SELECT vec_id, [x::double for x in embedding] AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM v),
cents AS (SELECT vec_id AS cent_id, e AS cvec, nrm AS cnorm FROM n ORDER BY vec_id LIMIT 16),
ranked AS (
  SELECT n.vec_id, n.e, n.nrm, c.cent_id,
         row_number() OVER (PARTITION BY n.vec_id
           ORDER BY list_sum([n.e[i] * c.cvec[i] for i in generate_series(1, 64)])
             / (n.nrm * c.cnorm) DESC, c.cent_id) AS lr
  FROM n CROSS JOIN cents c),
assigned AS (SELECT cent_id AS list_id, vec_id AS neighbor_id, e AS cv, nrm AS cn
             FROM ranked WHERE lr = 1),
probes AS (SELECT cent_id AS list_id, vec_id AS query_id, e AS qv, nrm AS qn
           FROM ranked WHERE lr <= 4 AND vec_id < 20),
p AS (
  SELECT query_id, neighbor_id,
         round(list_sum([qv[i] * cv[i] for i in generate_series(1, 64)]) / (qn * cn), 6) AS cosine
  FROM probes JOIN assigned USING (list_id)
  WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, cosine, rnk::int AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM p)
WHERE rnk <= 5"""

  val all: Map[String, String] = Map(
    // OLS on identical decimal-exact moment sums: the closed form runs on
    // bit-identical doubles in both engines (n²·cov / n²·var forms)
    "q130_group_ols" -> """
WITH p AS (
  SELECT l_returnflag, l_linestatus,
         l_quantity AS x, l_extendedprice AS y
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
s AS (
  SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
         sum(cast(x     AS DECIMAL(24,12)))::DOUBLE AS sx,
         sum(cast(y     AS DECIMAL(24,12)))::DOUBLE AS sy,
         sum(cast(x * y AS DECIMAL(24,12)))::DOUBLE AS sxy,
         sum(cast(x * x AS DECIMAL(24,12)))::DOUBLE AS sxx,
         sum(cast(y * y AS DECIMAL(24,12)))::DOUBLE AS syy
  FROM p GROUP BY 1, 2),
f AS (
  SELECT l_returnflag, l_linestatus, n,
         sxy * n::DOUBLE - sx * sy AS covn,
         sxx * n::DOUBLE - sx * sx AS varxn,
         syy * n::DOUBLE - sy * sy AS varyn,
         sx, sy
  FROM s)
SELECT l_returnflag, l_linestatus, n,
       round(CASE WHEN varxn > 0 THEN covn / varxn END, 6) AS slope,
       round(CASE WHEN varxn > 0
                  THEN (sy - (covn / varxn) * sx) / n::DOUBLE END, 6) AS intercept,
       round(CASE WHEN varxn > 0 AND varyn > 0
                  THEN covn / sqrt(varxn * varyn) END, 6) AS r,
       round(CASE WHEN varxn > 0 AND varyn > 0
                  THEN (covn / sqrt(varxn * varyn)) * (covn / sqrt(varxn * varyn)) END, 6) AS r2
FROM f""",

    // bloom-pruned point lookup ≡ a plain IN-list filter (the bloom only
    // ever skips files proven clean — q131 result is layout-independent)
    "q131_bloom_lookup" -> """
SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us, o_totalprice
FROM orders WHERE o_orderkey % 1000 = 1""",

    // q131's point lookup with no explicit pruned-read call — the
    // optimizer rule must narrow the plain isin scan; same expectation
    "q139_ruled_bloom_scan" -> """
SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us, o_totalprice
FROM orders WHERE o_orderkey % 1000 = 1""",

    // the replica's final state after insert/update/delete CDC batches,
    // stated declaratively — the Spark side must arrive via the change
    // stream (diff → apply → bookmark), not by recomputing this filter
    "q132_cdc_replica" -> """
SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us,
       CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice * 2
            ELSE o_totalprice END AS total
FROM orders
WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 7 <> 0""",

    // q132's replica rebuilt by FOLDING THE STREAMED CHANGE FEED
    // (delete pre-images + insert post-images, one version per trigger)
    // — same declarative end state
    "q147_cdf_stream_replica" -> """
SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us,
       CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice * 2
            ELSE o_totalprice END AS total
FROM orders
WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 7 <> 0""",

    // q147's replica driven ENTIRELY BY CATALOG NAMES: the change feed
    // consumed through the metadata child table `cat.dwh.src.changes`
    // (readStream.table) — same declarative end state
    "q173_named_cdf_replica" -> """
SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us,
       CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice * 2
            ELSE o_totalprice END AS total
FROM orders
WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 7 <> 0""",

    // the BATCH named change feed folded declaratively (last commit
    // wins per key, insert-over-delete) must equal the head state —
    // the CDF completeness contract
    "q174_named_cdf_batch" -> """
SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us,
       CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice * 2
            ELSE o_totalprice END AS total
FROM orders
WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 7 <> 0""",

    // q145's MERGE through STOCK Spark SQL on a catalog name (DSv2
    // group-based row-level protocol, no extension parser) — identical
    // declarative expectation, the protocol invisible to results
    "q175_rowlevel_merge" -> """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 2 = 0 AND o_orderstatus = 'F'
            THEN o_totalprice * 2 ELSE o_totalprice END AS total
FROM orders
WHERE NOT (o_orderkey % 2 = 0 AND o_orderstatus = 'P')""",

    // the same stock-SQL MERGE on a deletion-vectors table rides the
    // DSv2 DELTA protocol (vectors mask, inserts append, one commit) —
    // identical declarative expectation, O(changed rows) cost shape
    "q176_rowlevel_mor_merge" -> """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 2 = 0 AND o_orderstatus = 'F'
            THEN o_totalprice * 2 ELSE o_totalprice END AS total
FROM orders
WHERE NOT (o_orderkey % 2 = 0 AND o_orderstatus = 'P')""",

    // LZ77-style compressibility proxy: total vs DISTINCT 8-grams over
    // a 4096-char prefix — integer-exact in both engines (the DEFLATE
    // kernel stays spec-gated; DuckDB has no zlib surface)
    "q133_compression_ratio" -> """
WITH d AS (SELECT doc_id::BIGINT AS doc_id,
                  coalesce(substr(text, 1, 4096), '') AS t FROM documents),
g AS (SELECT doc_id,
             substr(t, unnest(range(1, greatest(length(t) - 7, 0) + 1))::INT, 8) AS gram
      FROM d),
a AS (SELECT doc_id, count(DISTINCT gram)::BIGINT AS grams_distinct FROM g GROUP BY 1)
SELECT d.doc_id, greatest(length(d.t) - 7, 0)::BIGINT AS grams_total,
       coalesce(a.grams_distinct, 0)::BIGINT AS grams_distinct
FROM d LEFT JOIN a USING (doc_id)""",

    // the storage-partitioned (bucketed, zero-exchange) join must be
    // invisible to results — same answer as the plain parquet join
    "q177_spj_bucketed_join" -> """
SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1""",

    // the skewed SPJ: half of lineitem collapses onto supplier key 1;
    // partially-clustered replication must be invisible to results
    "q180_spj_skew_join" -> """
SELECT s_nationkey AS nat, count(*)::BIGINT AS n_items,
       cast(sum(cast(l_extendedprice AS decimal(18,4))) AS double) AS rev
FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_suppkey END AS k,
             l_extendedprice
      FROM lineitem) f
JOIN supplier ON f.k = s_suppkey
GROUP BY 1""",

    // the as-of (equi + validity BETWEEN) join over co-bucketed tables:
    // the storage-partitioned equi part must be invisible to results
    "q178_spj_asof_join" -> """
WITH v AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '1992-01-01 00:00:00' AS vf,
         TIMESTAMP '1995-06-30 23:59:59' AS vt FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment || '_V2',
         TIMESTAMP '1995-07-01 00:00:00',
         TIMESTAMP '2999-01-01 00:00:00' FROM customer)
SELECT segment, count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS revenue
FROM orders JOIN v ON o_custkey = c_custkey AND o_orderdate BETWEEN vf AND vt
GROUP BY 1""",

    // same contract as q104 — the optimizer rule must be invisible to
    // results (it only removes provably-dead file IO)
    "q134_ruled_scan" -> """
SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
       count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
GROUP BY 1""",

    // q134 consumed through the batch format("graft") source — the
    // GraftBatch scan's file skipping must be invisible to results (it only removes
    // provably-dead file IO at planning time)
    "q148_source_scan" -> """
SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
       count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
GROUP BY 1""",

    // q139's bloom point lookup through the batch source — same contract
    "q149_source_bloom_scan" -> """
SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us, o_totalprice
FROM orders WHERE o_orderkey % 1000 = 1""",

    // q125/q126/q145 expressed as SQL TEXT through the DML router — the
    // dialect must be invisible to results (same oracles verbatim)
    // BPE merge training replayed as a bounded iterative CTE (100
    // levels, the materialized-chain discipline of pageRankCte applied
    // to the merge loop) — the last two rows-only gates become full
    // tri-check gates
    "q108_bpe_train" -> bpeMergesSql(100),

    // the final symbol state IS the per-word encoding (training and
    // encode share the single-merge kernel) — q135 aggregates s100
    "q135_bpe_vocab" -> (bpeCte(100) + """
SELECT w AS word, max(pos)::BIGINT AS n_tokens, string_agg(sym, ' ' ORDER BY pos) AS toks
FROM s100 GROUP BY w"""),

    "q150_sql_delete" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE NOT (o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'F')""",

    // merge-on-read twins: the deletion-vector read path and the
    // purge rewrite must both land on the declarative complement
    "q159_mor_delete" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE NOT (o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'F')
  AND NOT (o_orderkey BETWEEN 2000 AND 4000 AND o_orderstatus = 'O')""",

    "q161_mor_update" -> """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'O'
            THEN 'P' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'O'
            THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
            ELSE o_totalprice END AS o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders""",

    "q160_sql_mor_purge" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE NOT (o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'F')""",

    "q151_sql_update" -> """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'O'
            THEN 'P' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'O'
            THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
            ELSE o_totalprice END AS o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders""",

    "q152_sql_merge" -> """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 2 = 0 AND o_orderstatus = 'F'
            THEN o_totalprice * 2 ELSE o_totalprice END AS total
FROM orders
WHERE NOT (o_orderkey % 2 = 0 AND o_orderstatus = 'P')""",

    // the maintenance dialect end to end: OPTIMIZE + CLONE + DELETE +
    // RESTORE must net out to the source selection exactly
    "q153_sql_maintenance" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS total
FROM orders""",

    // the multi-column z-order relayout + pruned read must net out to
    // the plain declarative selection
    "q154_sql_zorder_multi" -> """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber
FROM lineitem
WHERE l_partkey BETWEEN 1 AND 200""",

    // the ANALYZE stats backfill + pruned read must net out to the
    // plain declarative selection
    "q155_sql_analyze" -> """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE o_custkey BETWEEN 1 AND 150""",

    // the bounded compaction + pruned window read must net out to the
    // plain declarative selection
    "q156_sql_optimize_where" -> """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE o_orderkey <= 3000""",

    // CTAS half + INSERT INTO half + a BY-NAME insert that is deleted
    // again must net out to the full source selection
    "q157_sql_ctas_insert" -> """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders""",

    // two format("graft") writer appends + a no-op Ignore write must
    // net out to the full source selection
    "q158_source_write" -> """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders""",

    "q36_nw_fact_order" -> NorthwindOracle.factOrder,
    "q39_nw_dim_products" -> NorthwindOracle.dimProducts,
    "q40_nw_fact_order_details" -> NorthwindOracle.factOrderDetails,
    "q41_nw_dim_employee" -> NorthwindOracle.dimEmployee,
    "q92_nw_snapshot_employee" -> NorthwindOracle.snapshotEmployee,
    "q93_nw_dim_customer" -> NorthwindOracle.dimCustomer,
    // q123 rebuilds the same dim on GraftTable storage — same final state
    "q123_dim_on_grafttable" -> NorthwindOracle.dimCustomer,
    // q162 runs the same chain through catalog-NAMED tables (named CTAS,
    // spark.table reads, named INSERT OVERWRITE) — the catalog must be
    // invisible to the final SCD2 state
    "q162_catalog_warehouse" -> NorthwindOracle.dimCustomer,
    "q94_nw_dim_shipper" -> NorthwindOracle.dimShipper,

    "q01_agg_pushdown" -> """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
       cast(sum(cast(l_extendedprice AS decimal(18,4))) AS double) AS sum_base_price,
       cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double) AS sum_disc_price,
       cast(sum(cast(l_quantity AS decimal(18,4))) AS double) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus""",

    "q02_star_join" -> """
SELECT r_name, n_name,
       cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name""",

    "q03_staging_envelope" -> """
SELECT c_custkey AS customer_id, c_name AS name, c_mktsegment AS segment,
       c_nationkey AS nation_id, 'I' AS op,
       md5(concat_ws('-', coalesce(cast(c_custkey AS varchar), ''),
                          coalesce(c_name, ''), coalesce(c_mktsegment, ''))) AS row_hash
FROM customer""",

    "q04_surrogate_key" -> """
SELECT c_custkey AS customer_id,
       md5(concat_ws('-', coalesce(cast(c_custkey AS varchar), ''),
                          coalesce(c_name, ''),
                          coalesce(cast(c_nationkey AS varchar), ''))) AS sk,
       md5(concat_ws('-', coalesce(cast(c_custkey AS varchar), ''), '',
                          coalesce(c_mktsegment, ''))) AS sk_null_mid
FROM customer""",

    "q05_dedup_rank" -> """
SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_us, o_totalprice
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
WHERE rn = 1""",

    "q06_semi_join" -> """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",

    "q07_anti_join" -> """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)""",

    "q08_hwm_filter" -> """
SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
FROM events WHERE ts > TIMESTAMP '2024-01-20'""",

    "q09_cdc_change_detect" -> """
SELECT event_id, user_id,
       CASE WHEN ph IS NULL THEN 'I' ELSE 'U' END AS upd_ind
FROM (SELECT event_id, user_id, row_hash,
        lag(row_hash) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ph
      FROM (SELECT *, md5(coalesce(cast(event_type AS varchar), '')) AS row_hash FROM events))
WHERE ph IS NULL OR ph <> row_hash""",

    "q10_scd2_history" -> ScdSelect,

    "q11_scd2_incremental" -> ScdSelect,
    "q141_stream_scd2" -> ScdSelect,

    "q12_asof_join" -> (ScdCte + """
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, dim.sk, dim.version_no
FROM events e JOIN dim
  ON e.user_id = dim.user_id AND e.ts >= dim.eff AND e.ts < dim.expiry
WHERE e.event_type = 'purchase'"""),

    "q13_dummy_fallback" -> s"""
WITH dim AS (
  SELECT c_custkey,
         md5(concat_ws('-', cast(c_custkey AS varchar), '-2208988800000000')) AS sk
  FROM customer WHERE c_custkey % 2 = 0)
SELECT o_orderkey, o_custkey, coalesce(d.sk, $DummySkSql) AS sk
FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
  AND o.o_orderdate >= TIMESTAMP '1900-01-01' AND o.o_orderdate < TIMESTAMP '3001-01-01'""",

    "q14_dim_date" -> """
SELECT d AS date_day, year(d)::int AS year, quarter(d)::int AS quarter,
       month(d)::int AS month, monthname(d) AS month_name,
       day(d)::int AS day_of_month, isodow(d)::int AS day_of_week_iso,
       dayname(d) AS day_name, dayofyear(d)::int AS day_of_year,
       weekofyear(d)::int AS week_of_year_iso,
       date_trunc('month', d)::date AS first_day_of_month,
       last_day(d) AS last_day_of_month,
       isodow(d) >= 6 AS is_weekend,
       (d - INTERVAL 12 MONTH)::date AS prior_year_date,
       (d + INTERVAL 12 MONTH)::date AS next_year_date,
       ((year(d) % 4 = 0 AND year(d) % 100 <> 0) OR year(d) % 400 = 0) AS is_leap_year
FROM (SELECT unnest(generate_series(DATE '2020-01-01', DATE '2035-12-31', INTERVAL 1 DAY))::date AS d)""",

    "q15_missing_dates" -> """
SELECT d AS missing_date
FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY))::date AS d)
WHERE d NOT IN (SELECT DISTINCT date_trunc('day', o_orderdate)::date FROM orders)""",

    "q16_audit_lifecycle" -> """
SELECT 'dim_user' AS dimension_name, 'events' AS driver_table,
       'user_id' AS business_key,
       (SELECT epoch_us(max(ts)) FROM events) AS hwm_us,
       true AS is_processed, true AS is_initialized""",

    "q17_incremental_upsert" -> """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
FROM orders""",

    "q18_topn_per_group" -> """
SELECT o_custkey, o_orderkey, o_totalprice, rnk::int AS rnk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
WHERE rnk <= 3""",

    "q19_windowed_agg" -> """
SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
       count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,4))) AS double) AS sum_value
FROM events GROUP BY 1, 2""",

    "q30_repair_lookup" -> """
SELECT o_orderkey, o_custkey,
       md5(concat_ws('-', cast(o_custkey AS varchar), '-2208988800000000')) AS sk
FROM orders""",

    "q31_snapshot" -> SnapshotSql,

    // same oracle as q31: the two-batch snapshotMerge must converge to the
    // batch snapshot
    "q37_snapshot_incremental" -> SnapshotSql,

    // mirrors Multimodal.extractFeatures' stub kernel: lane j accumulates
    // every 16th byte (ASCII corpus: ascii(substr) == signed byte), salted
    // with the payload-md5 low nibble (hex digit 2j+2); then the q27 exact
    // top-k contract (6-dp cosine, neighbor-id tie-break)
    "q38_mm_feature_ann" -> """
WITH f AS (
  SELECT doc_id,
    [ (coalesce(list_sum([ascii(substr(text, i, 1)) for i in generate_series(1+j, length(text), 16)]), 0)
       + ('0x' || substr(md5(text), 2*j+2, 1))::INT)::double
      for j in generate_series(0, 15)] AS e
  FROM documents),
p AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         round(list_sum([q.e[i] * c.e[i] for i in generate_series(1, 16)])
           / (sqrt(list_sum([x * x for x in q.e])) * sqrt(list_sum([x * x for x in c.e]))), 6) AS cosine
  FROM f q, f c WHERE q.doc_id < 20 AND q.doc_id <> c.doc_id)
SELECT query_id, neighbor_id, cosine, rnk::int AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM p)
WHERE rnk <= 5""",

    "q32_multimodal_decode" -> """
WITH h AS (
  SELECT doc_id, octet_length(encode(text))::bigint AS n_bytes,
         ('0x' || substr(md5(text), 1, 8))::BIGINT AS v
  FROM documents)
SELECT doc_id, 'text/plain' AS media_type, n_bytes,
       (v % 1920)::int AS width, ((v >> 8) % 1080)::int AS height,
       CASE v % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format
FROM h""",

    "q33_fingerprint_tokens" -> """
WITH t AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]+', ' ', 'g'), '\s+', ' ', 'g')) AS nt
  FROM documents),
sh AS (
  SELECT doc_id, text,
         CASE WHEN length(nt) < 5 THEN [nt]
              ELSE list_distinct([substr(nt, i, 5) for i in generate_series(1, length(nt) - 4)]) END AS gs
  FROM t)
SELECT doc_id,
       list_min([('0x' || substr(md5(g), 1, 8))::BIGINT for g in gs]) AS rolling_fp,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::bigint AS bpeish_tokens,
       len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::bigint AS ws_tokens
FROM sh""",

    "q20_text_stats" -> s"""
WITH t AS (SELECT doc_id, text, $Toks AS toks FROM documents),
m AS (
  SELECT doc_id,
    len(toks)::bigint AS token_count,
    length(text)::bigint AS char_count,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE list_sum([length(x)::double for x in toks]) / len(toks) END AS awl,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::double / length(text) END AS pr,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN $EnStop))::double / len(toks) END AS swr
  FROM t)
SELECT doc_id, token_count, char_count,
       round(awl, 6) AS avg_word_len, round(pr, 6) AS punct_ratio,
       round(swr, 6) AS stopword_ratio,
       round((CASE WHEN token_count BETWEEN 20 AND 2000 THEN 0.4
                   WHEN token_count >= 5 THEN 0.2 ELSE 0.0 END
            + CASE WHEN swr >= 0.01 THEN 0.3 ELSE 0.0 END)
            + CASE WHEN awl BETWEEN 2.5 AND 10.0 THEN 0.3 ELSE 0.0 END, 2) AS quality
FROM m""",

    "q21_langid" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
s AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x IN $EnStop))::bigint AS en_hits,
    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein')))::bigint AS de_hits,
    len(list_filter(toks, x -> x IN ('le','la','et','les','des','est','une')))::bigint AS fr_hits,
    len(list_filter(toks, x -> x IN ('el','los','las','y','es','una','que')))::bigint AS es_hits
  FROM t)
SELECT doc_id,
  CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
       WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
       WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
       WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
       ELSE 'es' END AS lang_pred,
  en_hits, de_hits, fr_hits, es_hits
FROM s""",

    "q22_exact_dedup" -> """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]+', ' ', 'g'), '\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1""",

    "q23_minhash_sig" -> (minhashCte + """
SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7 FROM sig"""),

    "q24_lsh_pairs" -> (minhashCte + s"""
, banded AS (
${(0 until 4).map(b =>
      s"  SELECT doc_id, sh, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS band_hash FROM sig")
      .mkString("\n  UNION ALL\n")}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
), j AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.sh, sb.sh))::double
           / len(list_distinct(sa.sh || sb.sh)) AS jaccard
  FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.05"""),

    // q24's verified pair list → symmetric closure → per-vertex min
    // reachable id (connected components via recursive reachability —
    // near-dup components are tiny, so the closure stays small)
    "q42_near_dup_clusters" -> (minhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + s"""
, banded AS (
${(0 until 4).map(b =>
      s"  SELECT doc_id, sh, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS band_hash FROM sig")
      .mkString("\n  UNION ALL\n")}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
), jp AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_intersect(sa.sh, sb.sh))::double
             / len(list_distinct(sa.sh || sb.sh)) AS jaccard
    FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
  WHERE jaccard >= 0.05
), edges AS (
  SELECT id_a AS s, id_b AS d FROM jp UNION SELECT id_b, id_a FROM jp
), reach(id, r) AS (
  SELECT s, d FROM edges
  UNION
  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
)
SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id"""),

    // content-stable split: bucket = hash32('graft:' || id) % 100
    "q43_corpus_split" -> """
SELECT doc_id,
       (('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT % 100) AS bucket,
       CASE WHEN (('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT % 100) < 80 THEN 'train'
            WHEN (('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT % 100) < 90 THEN 'validation'
            ELSE 'test' END AS split
FROM documents""",

    // sharded contiguous token packing: bin = floor((running_sum - tokens)/budget)
    "q44_token_packing" -> s"""
WITH t AS (
  SELECT doc_id, len($Toks)::BIGINT AS tokens,
         (('0x' || substr(md5(doc_id::varchar), 1, 8))::BIGINT % 16) AS shard
  FROM documents)
SELECT doc_id, tokens, shard,
       floor((sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id) - tokens) / 2048)::BIGINT AS bin
FROM t""",

    // docs sharing any 8-gram with probe docs (doc_id < 5); n_hits =
    // distinct probe shingles seen per doc
    "q45_decontaminate" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
sh AS (SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+7], ' ')
           for i in generate_series(1, len(toks)-7)]) AS sh
       FROM t WHERE len(toks) >= 8),
probe AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id < 5),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh)
SELECT doc_id, count(*) AS n_hits
FROM inv JOIN probe USING (shingle) GROUP BY doc_id""",

    // exact 3-gram totals/distincts per doc (repetition = 1 - distinct/total
    // downstream; integers avoid cross-engine float-rounding ties)
    "q46_repetition" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]
         ELSE [] END AS grams FROM t)
SELECT doc_id, len(grams)::BIGINT AS n_grams,
       len(list_distinct(grams))::BIGINT AS n_distinct
FROM g""",

    // exact percentile_disc via a token-length histogram + cumulative sum
    "q48_corpus_stats" -> s"""
WITH n AS (SELECT len($Toks)::BIGINT AS n FROM documents WHERE text IS NOT NULL),
hist AS (SELECT n, count(*)::BIGINT AS c FROM n GROUP BY n),
cum AS (
  SELECT n, c,
         sum(c) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(c) OVER ()::BIGINT AS total,
         sum(n * c) OVER ()::BIGINT AS total_tokens
  FROM hist)
SELECT any_value(total) AS n_docs, any_value(total_tokens) AS total_tokens,
       min(CASE WHEN cum >= ceil(0.5 * total) THEN n END) AS p50,
       min(CASE WHEN cum >= ceil(0.95 * total) THEN n END) AS p95,
       min(CASE WHEN cum >= ceil(0.99 * total) THEN n END) AS p99
FROM cum""",

    // 30-min-gap sessions per user over the event stream
    "q47_sessionize" -> """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800 * 1000000 THEN 1 ELSE 0
           END AS is_start
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sess AS (
  SELECT user_id, ts_us,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
  FROM flagged
)
SELECT user_id, session_no, count(*) AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM sess GROUP BY user_id, session_no""",

    // corpus-frequency segment dedup: non-overlapping 3-token windows seen
    // in > 5 distinct docs are dropped everywhere; docs reassemble in order
    "q49_segment_dedup" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
seg AS (
  SELECT doc_id,
         unnest(generate_series(0, cast(ceil(len(toks)/3.0) AS INT) - 1)) AS pos,
         unnest([array_to_string(toks[(i*3+1):(i*3+3)], ' ')
                 for i in generate_series(0, cast(ceil(len(toks)/3.0) AS INT) - 1)]) AS seg
  FROM t WHERE len(toks) > 0),
freq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg),
kept AS (SELECT s.doc_id, s.pos, s.seg
         FROM seg s JOIN freq f USING (seg) WHERE f.df <= 5),
re AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
              string_agg(seg, ' ' ORDER BY pos) AS clean
       FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN len(toks) = 0 THEN 0
            ELSE cast(ceil(len(toks)/3.0) AS BIGINT) END AS n_segs,
       coalesce(re.n_kept, 0)::BIGINT AS n_kept,
       md5(coalesce(re.clean, '')) AS clean_hash
FROM t LEFT JOIN re USING (doc_id)""",

    // Gopher/C4-style rule flags; r_rep compares in integer space
    "q50_quality_filter" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE list_sum([len(x) for x in toks])::double / len(toks) END AS awl,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE len(list_filter(toks, x -> x IN $EnStop))::double / len(toks) END AS swr,
        CASE WHEN len(toks) >= 2
             THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]
             ELSE [] END AS g2
      FROM t),
f AS (SELECT doc_id, n_tokens,
        CASE WHEN n_tokens BETWEEN 25 AND 80 THEN 1 ELSE 0 END AS r_len,
        CASE WHEN awl >= 4.0 AND awl <= 10.0 THEN 1 ELSE 0 END AS r_awl,
        CASE WHEN swr >= 0.01 THEN 1 ELSE 0 END AS r_stop,
        CASE WHEN len(list_distinct(g2))::BIGINT * 1000 >= len(g2)::BIGINT * 700
             THEN 1 ELSE 0 END AS r_rep
      FROM m)
SELECT doc_id, n_tokens, r_len, r_awl, r_stop, r_rep,
       CASE WHEN r_len = 1 AND r_awl = 1 AND r_stop = 1 AND r_rep = 1
            THEN 1 ELSE 0 END AS keep
FROM f""",

    // deterministic stratified sampling: hash bucket under per-lang rate
    "q51_stratified_sample" -> """
WITH h AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT % 10000) AS bucket
  FROM documents)
SELECT doc_id, lang, bucket FROM h
WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3000
                         WHEN 'fr' THEN 3000 WHEN 'es' THEN 2000
                         WHEN 'zh' THEN 1000 ELSE 500 END""",

    // TF-IDF top-3 terms per doc; score rounded to 6 dp before ranking,
    // term-string tie-break (the ANN ranking contract)
    "q52_tfidf_topk" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
s AS (SELECT doc_id, term, tf, df,
        round(tf * (ln((n.n + 1.0) / (df + 1)) + 1.0), 6) AS score
      FROM tf JOIN df USING (term), n)
SELECT doc_id, term, tf, df, score, rnk::int AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM s)
WHERE rnk <= 3""",

    "q53_kmeans_cluster" -> (kmeansCte(8, 3) + """
SELECT vec_id, cl AS cluster FROM a3"""),

    // within-cluster semantic near-dups over RAW double embeddings; rep =
    // lowest qualifying id, cosine to the rep (ANN 6-dp contract)
    "q54_semantic_dedup" -> (kmeansCte(8, 3) + """,
v2 AS (SELECT vec_id, [x::double for x in embedding] AS e FROM embeddings),
av AS (SELECT v2.vec_id, v2.e, a3.cl FROM v2 JOIN a3 USING (vec_id)),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cl AS cluster,
         round(list_sum([a.e[i] * b.e[i] for i in generate_series(1, 64)])
           / (sqrt(list_sum([x * x for x in a.e])) * sqrt(list_sum([x * x for x in b.e]))), 6) AS cosine
  FROM av a JOIN av b ON a.cl = b.cl AND a.vec_id < b.vec_id)
SELECT id_b AS vec_id, min(id_a) AS rep_id,
       arg_min(cluster, id_a) AS cluster, arg_min(cosine, id_a) AS cosine
FROM pairs WHERE cosine >= 0.45 GROUP BY id_b"""),

    // linear-counting distinct sketch per source: bucket-hit count is an
    // exact aggregation, the estimator a pure projection — engine-exact
    // maintained distinct-count state: the bit_or monoid makes 3-batch
    // maintenance ≡ one-shot, so the oracle computes straight from the
    // corpus with q55's exact hash/bucket/estimate formulation
    "q129_distinct_state" -> """
WITH f AS (
  SELECT source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]+', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
  FROM documents),
b AS (SELECT source, (('0x' || substr(md5(fp), 1, 8))::BIGINT % 4096) AS bucket FROM f)
SELECT source,
       count(DISTINCT bucket)::BIGINT AS buckets_hit,
       CASE WHEN count(DISTINCT bucket) = 4096 THEN NULL
            ELSE round(4096.0 * ln(4096.0 / (4096.0 - count(DISTINCT bucket))), 4)
       END AS est_distinct
FROM b GROUP BY source""",

    "q55_distinct_sketch" -> """
WITH f AS (
  SELECT source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]+', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
  FROM documents),
b AS (SELECT source, (('0x' || substr(md5(fp), 1, 8))::BIGINT % 4096) AS bucket FROM f)
SELECT source, count(*)::BIGINT AS n_rows,
       count(DISTINCT bucket)::BIGINT AS buckets_hit,
       CASE WHEN count(DISTINCT bucket) = 4096 THEN NULL
            ELSE round(4096.0 * ln(4096.0 / (4096.0 - count(DISTINCT bucket))), 4)
       END AS est_distinct
FROM b GROUP BY source""",

    // count-min sketch rebuilt cell-for-cell: same md5-hash32("r:token")
    // bucketing, estimate = min over depth cells, one-sided error visible
    // as n_est >= n_exact
    "q61_heavy_hitters" -> s"""
WITH t AS (SELECT $Toks AS toks FROM documents),
items AS (SELECT unnest(toks) AS item FROM t),
cells AS (
  SELECT g.r, ('0x' || substr(md5(g.r::varchar || ':' || item), 1, 8))::BIGINT % 256 AS bucket,
         count(*)::BIGINT AS c
  FROM items, generate_series(0, 3) AS g(r)
  GROUP BY 1, 2),
cand AS (SELECT item, count(*)::BIGINT AS n_exact FROM items GROUP BY item HAVING count(*) >= 2),
est AS (
  SELECT cand.item, cand.n_exact, min(cells.c)::BIGINT AS n_est
  FROM cand, generate_series(0, 3) AS g(r)
  JOIN cells ON cells.r = g.r
   AND cells.bucket = ('0x' || substr(md5(g.r::varchar || ':' || cand.item), 1, 8))::BIGINT % 256
  GROUP BY 1, 2)
SELECT item, n_exact, n_est, rnk::int AS rnk FROM
  (SELECT *, row_number() OVER (ORDER BY n_est DESC, item) AS rnk FROM est)
WHERE rnk <= 20""",

    // the Spark side synthesizes real PNGs by this dimension rule and
    // decodes them back with the JDK codec (header-only); the oracle states
    // the rule — the gate proves generate∘decode = identity
    "q68_media_decode" -> """
SELECT doc_id, (4 + doc_id % 13)::int AS width,
       (4 + (doc_id * 7) % 11)::int AS height, 'png' AS format
FROM documents""",

    // the refinery composes the q50 / q22 / q45 / q43 stage mirrors with
    // first-failing-stage priority; exact dedup elects min(doc_id) among
    // quality-passers only (the cohort rule)
    "q67_corpus_refine" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
m AS (SELECT doc_id,
        len(toks)::BIGINT AS n_tokens,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE list_sum([len(x) for x in toks])::double / len(toks) END AS awl,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE len(list_filter(toks, x -> x IN $EnStop))::double / len(toks) END AS swr,
        CASE WHEN len(toks) >= 2
             THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]
             ELSE [] END AS g2
      FROM t),
q AS (SELECT doc_id,
        CASE WHEN n_tokens BETWEEN 25 AND 80
              AND awl >= 4.0 AND awl <= 10.0 AND swr >= 0.01
              AND len(list_distinct(g2))::BIGINT * 1000 >= len(g2)::BIGINT * 700
             THEN 1 ELSE 0 END AS keep
      FROM m),
fp AS (SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp
       FROM documents),
win AS (SELECT fp.fp, min(fp.doc_id) AS win
        FROM fp JOIN q USING (doc_id) WHERE q.keep = 1 GROUP BY fp.fp),
dup AS (SELECT fp.doc_id FROM fp JOIN q USING (doc_id) JOIN win ON fp.fp = win.fp
        WHERE q.keep = 1 AND fp.doc_id <> win.win),
sh AS (SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+7], ' ')
           for i in generate_series(1, len(toks)-7)]) AS sh
       FROM t WHERE len(toks) >= 8),
probe AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id < 5),
cont AS (SELECT DISTINCT doc_id
         FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh) inv
         JOIN probe USING (shingle)),
sp AS (SELECT doc_id,
         CASE WHEN (('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT % 100) < 80 THEN 'train'
              WHEN (('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT % 100) < 90 THEN 'validation'
              ELSE 'test' END AS split
       FROM documents),
st AS (SELECT d.doc_id,
         CASE WHEN q.keep = 0 THEN 'quality'
              WHEN d.doc_id IN (SELECT doc_id FROM dup) THEN 'exact_dup'
              WHEN d.doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
              ELSE 'kept' END AS status
       FROM documents d JOIN q USING (doc_id))
SELECT st.doc_id, st.status,
       CASE WHEN st.status = 'kept' THEN sp.split END AS split
FROM st JOIN sp USING (doc_id)""",

    // DSIR log-ratio under hashed-bigram LMs: same md5 bucketing, add-1
    // smoothing, each ln quantized to decimal(24,12) before the exact
    // decimal subtraction and per-doc sum (order-free, engine-exact)
    "q64_importance" -> s"""
WITH t AS (SELECT doc_id, lang, $Toks AS toks FROM documents),
g AS (SELECT doc_id, lang = 'en' AS tgt,
        CASE WHEN len(toks) >= 2
             THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]
             ELSE [] END AS grams
      FROM t),
b AS (SELECT doc_id, tgt, ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS bucket
      FROM (SELECT doc_id, tgt, unnest(grams) AS gram FROM g)),
tot AS (SELECT count(*)::BIGINT AS nr, (count(*) FILTER (WHERE tgt))::BIGINT AS nt FROM b),
raw AS (SELECT bucket, count(*)::BIGINT AS cr FROM b GROUP BY bucket),
tg AS (SELECT bucket, count(*)::BIGINT AS ct FROM b WHERE tgt GROUP BY bucket),
tab AS (SELECT raw.bucket,
          ln((coalesce(tg.ct, 0) + 1)::double / (tot.nt + 1024))::decimal(24,12)
        - ln((raw.cr + 1)::double / (tot.nr + 1024))::decimal(24,12) AS lr
        FROM raw LEFT JOIN tg USING (bucket) CROSS JOIN tot)
SELECT b.doc_id, count(*)::BIGINT AS n_grams, round(sum(lr)::double, 6) AS logw
FROM b JOIN tab USING (bucket)
GROUP BY b.doc_id""",

    // JL projection: same global-index MD5 Rademacher signs as q29's
    // planes, over micro-unit-quantized components — every coordinate an
    // exact integer
    "q65_random_projection" -> {
      val projs = (0 until 16).map { j =>
        s"""list_sum([e[i] * (CASE WHEN (('0x' || substr(md5('$j:' || (i - 1)), 1, 8))::BIGINT & 1) = 1
             THEN 1.0 ELSE -1.0 END) for i in generate_series(1, 64)])::BIGINT AS p${"%02d".format(j)}"""
      }.mkString(",\n       ")
      s"""
WITH v AS (SELECT vec_id, [round(x::double * 1000000) for x in embedding] AS e FROM embeddings)
SELECT vec_id, $projs FROM v"""
    },

    // the bloom prefilter is invisible to semantics (no false negatives,
    // false positives removed by the residual exact join) — the oracle is
    // simply the plain semi join
    "q63_bloom_semi" -> """
SELECT l_orderkey, l_partkey, l_quantity
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)""",

    // content-defined chunking, mirrored via the window formulation of the
    // same cut rule (chunk_no = count of trigger tokens BEFORE this
    // position) — Spark computes it as a shuffle-free per-row fold, but the
    // chunk partition is identical by construction
    "q62_cdc_chunks" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
pos AS (SELECT doc_id, unnest(toks) AS tok, unnest(generate_series(1, len(toks))) AS pos
        FROM t WHERE len(toks) > 0),
ch AS (SELECT doc_id, pos, tok,
         coalesce(sum(CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT % 16 = 0
                           THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_no
       FROM pos)
SELECT doc_id, chunk_no::BIGINT AS chunk_no, count(*)::BIGINT AS n_chunk_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
FROM ch GROUP BY doc_id, chunk_no""",

    // unigram cross-entropy vs the corpus LM; per-token ln quantized to
    // decimal(24,12) before the per-doc sum (order-free exact)
    "q56_cross_entropy" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
freq AS (SELECT term, count(*)::BIGINT AS c FROM terms GROUP BY term),
tot AS (SELECT sum(c)::BIGINT AS total FROM freq),
s AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        sum(cast(ln(c::double / total::double) AS DECIMAL(24,12))) AS s
      FROM terms JOIN freq USING (term), tot GROUP BY doc_id)
SELECT doc_id, n_tokens, round(-(s::double) / n_tokens, 6) AS xent FROM s""",

    // q56's xent, then the histogram-CDF decile: cum ties-inclusive via a
    // RANGE frame, bucket in integer space ((10·cum + n − 1) // n)
    "q66_curriculum_deciles" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
freq AS (SELECT term, count(*)::BIGINT AS c FROM terms GROUP BY term),
tot AS (SELECT sum(c)::BIGINT AS total FROM freq),
s AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        sum(cast(ln(c::double / total::double) AS DECIMAL(24,12))) AS s
      FROM terms JOIN freq USING (term), tot GROUP BY doc_id),
x AS (SELECT doc_id, round(-(s::double) / n_tokens, 6) AS xent FROM s),
r AS (SELECT doc_id, xent,
        count(*) OVER (ORDER BY xent RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        count(*) OVER () AS n
      FROM x)
SELECT doc_id, xent, ((10 * cum + n - 1) // n)::int AS decile FROM r""",

    // overlapping chunks [i*24, i*24+32); last chunk may be shorter
    "q57_token_chunks" -> s"""
WITH t AS (SELECT doc_id, toks FROM
             (SELECT doc_id, $Toks AS toks FROM documents) WHERE len(toks) > 0),
ch AS (SELECT doc_id,
         unnest(generate_series(0, cast(ceil(greatest(len(toks) - 32, 0)/24.0) AS INT))) AS chunk_ix,
         unnest([array_to_string(toks[(i*24+1):(i*24+32)], ' ')
                 for i in generate_series(0, cast(ceil(greatest(len(toks) - 32, 0)/24.0) AS INT))]) AS chunk
       FROM t)
SELECT doc_id, chunk_ix::int AS chunk_ix,
       len(list_filter(string_split_regex(chunk, '\\s+'), x -> x <> ''))::BIGINT AS n_chunk_tokens,
       md5(chunk) AS chunk_hash
FROM ch""",

    // per-source quota: 20 survivors per source by seeded hash order
    "q58_stratum_quota" -> """
WITH h AS (SELECT doc_id, source,
    ('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT AS hv
  FROM documents)
SELECT doc_id, source, rn::int AS rn FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
  FROM h)
WHERE rn <= 20""",

    // upper-triangle Gram matrix over micro-unit-quantized embeddings —
    // integer-exact, order-free sums (0-based dims)
    "q59_gram_matrix" -> """
WITH v AS (SELECT [round(x::double * 1000000) for x in embedding] AS e FROM embeddings),
p AS (SELECT i.i AS i, j.j AS j, e
      FROM v, generate_series(1, 64) i(i), generate_series(1, 64) j(j)
      WHERE j.j >= i.i)
SELECT (i - 1)::int AS i, (j - 1)::int AS j, sum(e[i] * e[j]) AS g
FROM p GROUP BY 1, 2""",

    "q25_simhash" -> s"""
WITH t AS (SELECT doc_id, list_distinct($Toks) AS toks FROM documents),
hh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv
       FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
bits AS (SELECT doc_id, b,
           sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) GROUP BY doc_id, b),
sig AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS simhash
        FROM bits GROUP BY doc_id)
SELECT d.doc_id, coalesce(sig.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id""",

    "q26_ngram_jaccard" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
sh AS (SELECT doc_id, $Shingles3 AS sh FROM t WHERE len(toks) >= 3),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id),
j AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.sh, sb.sh))::double
           / len(list_distinct(sa.sh || sb.sh)) AS jaccard
  FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.1""",

    "q27_embedding_topk" -> """
WITH v AS (SELECT vec_id, [x::double for x in embedding] AS e FROM embeddings),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([q.e[i] * c.e[i] for i in generate_series(1, 64)])
           / (sqrt(list_sum([x * x for x in q.e])) * sqrt(list_sum([x * x for x in c.e]))), 6) AS cosine
  FROM v q, v c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, cosine, rnk::int AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM p)
WHERE rnk <= 5""",

    "q28_embedding_lsh_ann" -> {
      val bucket = (0 until 4).map { j =>
        s"""CASE WHEN list_sum([e[i] * (CASE WHEN (('0x' || substr(md5('$j:' || (i - 1)), 1, 8))::BIGINT & 1) = 1
             THEN 1.0 ELSE -1.0 END) for i in generate_series(1, 64)]) > 0
           THEN ${1L << j}::BIGINT ELSE 0::BIGINT END"""
      }.mkString(" + ")
      s"""
WITH v AS (SELECT vec_id, [x::double for x in embedding] AS e FROM embeddings),
b AS (SELECT vec_id, e, ($bucket) AS bucket FROM v),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([q.e[i] * c.e[i] for i in generate_series(1, 64)])
           / (sqrt(list_sum([x * x for x in q.e])) * sqrt(list_sum([x * x for x in c.e]))), 6) AS cosine
  FROM b q JOIN b c ON q.bucket = c.bucket
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, cosine, rnk::int AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM p)
WHERE rnk <= 5"""
    },

    "q35_salted_join" -> """
SELECT p_name,
       cast(sum(cast(l_extendedprice AS decimal(18,4))) AS double) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_name""",

    "q34_embedding_ivf_ann" -> ivfAnnSql,
    // q127 runs the SAME search through the persisted IVF index
    // (build → clustered postings → file-skipping query); shared
    // construction makes index-then-query ≡ ad-hoc, so one oracle gates both
    "q127_ivf_index_ann" -> ivfAnnSql,

    // deterministic PII augmentation (the identical expression Spark
    // builds), then ordered redaction email → ip → phone with counts over
    // the original text; patterns interpolate from Corpus so both engines
    // run literally the same regex source
    "q69_pii_redact" -> s"""
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') || ' reach u' || doc_id::varchar ||
         '@example.com or 10.0.' || (doc_id % 256)::varchar ||
         '.7 call 555-123-' || lpad((doc_id % 10000)::varchar, 4, '0') AS t
  FROM documents),
-- counts run on the progressively-redacted text (pass i after passes
-- 1..i-1), mirroring Corpus.redactPii: Σ counts = placeholders emitted
r1 AS (SELECT doc_id, t,
         regexp_replace(t, '${graft.operators.Corpus.EmailRe}', '<EMAIL>', 'g') AS t1
       FROM aug),
r2 AS (SELECT doc_id, t, t1,
         regexp_replace(t1, '${graft.operators.Corpus.Ipv4Re}', '<IP>', 'g') AS t2
       FROM r1)
SELECT doc_id,
       regexp_replace(t2, '${graft.operators.Corpus.PhoneRe}', '<PHONE>', 'g') AS redacted,
       len(regexp_extract_all(t, '${graft.operators.Corpus.EmailRe}'))::int AS n_emails,
       len(regexp_extract_all(t1, '${graft.operators.Corpus.Ipv4Re}'))::int AS n_ips,
       len(regexp_extract_all(t2, '${graft.operators.Corpus.PhoneRe}'))::int AS n_phones
FROM r2""",

    // incremental rollup ≡ from-scratch GROUP BY (merge-of-partials over
    // any batching; decimal sums make the equivalence order-free)
    "q102_incremental_agg" -> """
SELECT o_custkey, count(*)::BIGINT AS n_rows,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total_price,
       epoch_us(min(o_orderdate)::timestamp) AS first_us,
       epoch_us(max(o_orderdate)::timestamp) AS last_us
FROM orders GROUP BY o_custkey""",

    // schema-evolving append: the merged table is the declarative union
    // of both generations, each reading the other's column as NULL
    "q136_schema_evolve" -> """
SELECT o_orderkey, o_custkey, o_totalprice AS total,
       CAST(NULL AS VARCHAR) AS priority
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE), o_orderpriority
FROM orders WHERE o_orderkey % 2 = 1""",

    // time travel: each committed snapshot's expected contents rebuilt
    // declaratively — v1 = pre-1996 history, v2 = everything, v3 = the
    // keyed correction (F orders doubled) merged in
    "q103_time_travel" -> """
SELECT 1::BIGINT AS v, count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total_price
FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
UNION ALL
SELECT 2::BIGINT, count(*)::BIGINT,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double)
FROM orders
UNION ALL
SELECT 3::BIGINT, count(*)::BIGINT,
       cast(sum(cast(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                          ELSE o_totalprice END AS decimal(18,4))) AS double)
FROM orders""",

    // q163 replays q103's three commits behind a catalog name (the
    // correction landing as a named MERGE) and reads every snapshot back
    // through grammar-native VERSION AS OF — identical declarative
    // per-version expectation
    "q163_catalog_version_asof" -> """
SELECT 1::BIGINT AS v, count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total_price
FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
UNION ALL
SELECT 2::BIGINT, count(*)::BIGINT,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double)
FROM orders
UNION ALL
SELECT 3::BIGINT, count(*)::BIGINT,
       cast(sum(cast(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                          ELSE o_totalprice END AS decimal(18,4))) AS double)
FROM orders""",

    // in-place conversion + a post-convert append: declaratively the
    // whole orders table
    "q146_convert_in_place" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS total,
       epoch_us(o_orderdate) AS order_us
FROM orders""",

    // one MERGE commit: matched F repriced, matched P deleted, odd keys
    // inserted, other matched rows untouched — pure CASE/WHERE restatement
    "q145_merge_into" -> """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 2 = 0 AND o_orderstatus = 'F'
            THEN o_totalprice * 2 ELSE o_totalprice END AS total
FROM orders
WHERE NOT (o_orderkey % 2 = 0 AND o_orderstatus = 'P')""",

    // q164 runs the SAME merge merge-on-read (deletion vectors masking
    // the clause-fired rows, images/inserts appended) — identical
    // declarative expectation, the cost shape invisible to results
    "q164_mor_merge" -> """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 2 = 0 AND o_orderstatus = 'F'
            THEN o_totalprice * 2 ELSE o_totalprice END AS total
FROM orders
WHERE NOT (o_orderkey % 2 = 0 AND o_orderstatus = 'P')""",

    // q140's drain re-run through writeStream.toTable + the catalog:
    // the V2 distributed sink and named resolution invisible to results
    "q165_stream_totable" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS total,
       epoch_us(o_orderdate) AS order_us
FROM orders WHERE o_totalprice > 1000""",

    // replaceWhere: the final state is declaratively the complement of
    // the window plus the recomputed window — the metadata-only file
    // drops and the single-commit atomicity invisible to results
    "q166_replace_where" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE o_orderdate NOT BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
UNION ALL
SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(0.9 AS DECIMAL(2,1)) AS DOUBLE)
         AS o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'""",

    // q167 runs the SAME replace merge-on-read (boundary files mask via
    // deletion vectors, covered files drop) — identical declarative
    // expectation, the cost shape invisible to results
    "q167_mor_replace_where" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE o_orderdate NOT BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
UNION ALL
SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(0.9 AS DECIMAL(2,1)) AS DOUBLE)
         AS o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'""",

    // truncate + snapshot reload: declaratively just the open orders —
    // the metadata-only empty commit and the TVF read invisible to
    // results
    "q168_sql_truncate" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders WHERE o_orderstatus = 'O'""",

    // atomic catalog RTAS: current head is the replaced contents, the
    // pre-replace snapshot still reads — the staging protocol invisible
    // to results
    "q169_catalog_rtas" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, 'cur' AS snap
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, 'pre' AS snap
FROM orders WHERE o_orderstatus = 'O'""",

    // dynamic file pruning: the dim-driven bloom probe is a pure file
    // skip — declaratively just the star join over the month slice
    "q170_dynamic_prune" -> """
SELECT o_custkey,
       cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
GROUP BY o_custkey""",

    // metadata-only aggregates: the manifest fold must equal the real
    // aggregation — computed the real way here
    "q171_meta_agg" -> """
SELECT count(*) AS n_rows, count(o_orderpriority) AS n_prios,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       epoch_us(min(o_orderdate)) AS min_odate_us,
       epoch_us(max(o_orderdate)) AS max_odate_us,
       min(o_orderpriority) AS min_prio
FROM orders""",

    // filtered metadata count: windows derive from key ranks, so both
    // the folded (file-aligned) and straddling counts recompute exactly
    "q172_meta_count_filtered" -> """
WITH rk AS (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
n AS (SELECT count(*) AS c FROM orders),
k1 AS (SELECT o_orderkey AS v FROM rk, n WHERE rn = c // 8 + 1),
k2 AS (SELECT o_orderkey AS v FROM rk, n WHERE rn = c // 2)
SELECT k1.v AS lo, k2.v AS hi,
       (SELECT count(*) FROM orders WHERE o_orderkey BETWEEN k1.v AND k2.v) AS n_clean,
       (SELECT count(*) FROM orders WHERE o_orderkey BETWEEN k1.v + 1 AND k2.v) AS n_straddle
FROM k1, k2""",

    // q172's windows re-answered through the stock-session v2 pushdown:
    // same deterministic rank-slice boundaries, plus the folded
    // min/max under the clean window
    "q179_meta_filtered_stock" -> """
WITH rk AS (SELECT o_orderkey, o_custkey, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
n AS (SELECT count(*) AS c FROM orders),
k1 AS (SELECT o_orderkey AS v FROM rk, n WHERE rn = c // 8 + 1),
k2 AS (SELECT o_orderkey AS v FROM rk, n WHERE rn = c // 2)
SELECT k1.v AS lo, k2.v AS hi,
       (SELECT count(*) FROM orders WHERE o_orderkey BETWEEN k1.v AND k2.v) AS n_clean,
       (SELECT min(o_custkey) FROM orders WHERE o_orderkey BETWEEN k1.v AND k2.v) AS min_ck,
       (SELECT max(o_custkey) FROM orders WHERE o_orderkey BETWEEN k1.v AND k2.v) AS max_ck,
       (SELECT count(*) FROM orders WHERE o_orderkey BETWEEN k1.v + 1 AND k2.v) AS n_straddle
FROM k1, k2""",

    // grouped metadata aggregates: the partition-shaped layout is
    // invisible to results — the oracle computes the rollup the real way
    "q181_meta_grouped_stock" -> """
SELECT o_orderpriority AS prio, count(*) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
FROM orders GROUP BY 1""",

    // IN-list exact prune (folded) + the advisory IN probe over the
    // range-valued key (scanned) — one declarative statement covers both
    "q182_meta_in_stock" -> """
SELECT (SELECT count(*) FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '9-NONE')) AS n_in,
       (SELECT min(o_orderkey) FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '9-NONE')) AS min_key,
       (SELECT max(o_orderkey) FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '9-NONE')) AS max_key,
       (SELECT count(*) FROM orders WHERE o_orderkey IN (
          (SELECT min(o_orderkey) FROM orders),
          (SELECT min(o_orderkey) + 1 FROM orders))) AS n_adv""",

    // OR-of-ranges under the claim (folded) + the off-by-one straddling
    // disjunction (advisory scan) — same rank-slice boundary derivation
    // as q179, same declarative statement for both paths
    "q183_meta_or_stock" -> """
WITH rk AS (SELECT o_orderkey, o_custkey, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
n AS (SELECT count(*) AS c FROM orders),
k1 AS (SELECT o_orderkey AS v FROM rk, n WHERE rn = c // 8 + 1),
k2 AS (SELECT o_orderkey AS v FROM rk, n WHERE rn = c // 2)
SELECT k1.v AS lo, k2.v AS hi,
       (SELECT count(*) FROM orders WHERE o_orderkey < k1.v OR o_orderkey > k2.v) AS n_or,
       (SELECT min(o_custkey) FROM orders WHERE o_orderkey < k1.v OR o_orderkey > k2.v) AS min_ck,
       (SELECT max(o_custkey) FROM orders WHERE o_orderkey < k1.v OR o_orderkey > k2.v) AS max_ck,
       (SELECT count(*) FROM orders WHERE o_orderkey <= k1.v OR o_orderkey > k2.v) AS n_straddle
FROM k1, k2""",

    // the yearly rollup is layout-invisible: the oracle computes it the
    // real way over the raw orders
    "q184_meta_year_rollup" -> """
SELECT epoch_us(date_trunc('year', o_orderdate)) AS yr_us, count(*) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY 1""",

    // rollback-as-commit: the restored head is the pre-mistake table,
    // the bad version still time-travels — both worlds declarative
    "q144_restore" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS total,
       epoch_us(o_orderdate) AS order_us, 'restored' AS world
FROM orders
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
            ELSE o_totalprice END AS total,
       epoch_us(o_orderdate) AS order_us, 'bad' AS world
FROM orders""",

    // the fork diverges, the source doesn't: both lineages stated
    // declaratively over the same raw orders
    "q143_shallow_clone" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS total,
       'src' AS lineage
FROM orders
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
            ELSE o_totalprice END AS total,
       'fork' AS lineage
FROM orders""",

    // write-time CHECK enforcement: the poisoned batch never lands, the
    // clean one fully does — declaratively the table is just all orders
    "q142_check_constraints" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS total
FROM orders""",

    // the streaming commit-log consumer: three source commits drained
    // one-per-trigger through the DSv2 graft source, filtered mid-stream,
    // exactly-once-appended to the destination — declaratively just a
    // filtered scan; any lost/duplicated micro-batch breaks the hash
    "q140_stream_cdc" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS total,
       epoch_us(o_orderdate) AS order_us
FROM orders WHERE o_totalprice > 1000""",

    // q103's history read back through the SQL TVF surface — same
    // declarative expectation per snapshot
    "q138_sql_time_travel" -> """
SELECT 1::BIGINT AS v, count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total_price
FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
UNION ALL
SELECT 2::BIGINT, count(*)::BIGINT,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double)
FROM orders
UNION ALL
SELECT 3::BIGINT, count(*)::BIGINT,
       cast(sum(cast(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                          ELSE o_totalprice END AS decimal(18,4))) AS double)
FROM orders""",

    // multi-format round-trip: every format must read back to the SAME
    // aggregate — the oracle is the aggregate over the raw table, one row
    // per format name
    "q114_multiformat" -> """
SELECT t.fmt, a.n_orders, a.total_price, a.min_key, a.max_key, a.last_order_us
FROM (VALUES ('csv'), ('json'), ('orc')) t(fmt)
CROSS JOIN (
  SELECT count(*)::BIGINT AS n_orders,
         cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total_price,
         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         max(epoch_us(o_orderdate)) AS last_order_us
  FROM orders) a""",

    // k-anonymity: surviving cohorts are exactly GROUP BY ... HAVING
    // count >= k, and n_kept == group_n (suppression removes whole
    // cohorts, never individual rows)
    "q115_k_anonymity" -> """
SELECT o_orderpriority, o_orderstatus, year(o_orderdate)::BIGINT AS yr,
       count(*)::BIGINT AS n_kept, count(*)::BIGINT AS group_n
FROM orders
GROUP BY 1, 2, 3 HAVING count(*) >= 150""",

    // BM25 top-10 (Okapi): per-(doc, term) scores quantized to
    // decimal(24,12) before the per-doc sum, 6-dp round before ranking,
    // doc-id tie-break — mirrors Corpus.bm25TopK operation for operation
    // q109/q116: BPE encode is SQL-expressible GIVEN the per-word token
    // table (q135 — itself gated by BpeSpec's independently-formulated
    // plain-Scala trainer): a document's encoding is split + join +
    // aggregate over that fixture. `__GRAFT_VERIFY_OUT__` is replaced by
    // Verify at dump time with the run's absolute output directory, so
    // the oracle reads the SAME fixture the driver just verified rows
    // for. The training fixpoint itself (q108/q135) stays rows-only —
    // the only remaining non-SQL surface.
    "q109_bpe_encode" -> """
WITH t AS (SELECT doc_id, list_filter(string_split_regex(coalesce(text,''), '\s+'), x -> x <> '') AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos FROM t),
v AS (SELECT * FROM read_parquet('__GRAFT_VERIFY_OUT__/q135_bpe_vocab/*.parquet')),
agg AS (
  SELECT w.doc_id, count(*)::BIGINT AS n_words, sum(v.n_tokens)::BIGINT AS n_bpe_tokens,
         md5(string_agg(v.toks, ' ' ORDER BY w.pos)) AS bpe_hash
  FROM w JOIN v USING (word) GROUP BY w.doc_id)
SELECT t.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
       coalesce(a.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens,
       coalesce(a.bpe_hash, md5('')) AS bpe_hash
FROM t LEFT JOIN agg a USING (doc_id)""",

    "q116_bpe_fertility" -> s"""
WITH t AS (SELECT doc_id, list_filter(string_split_regex(coalesce(text,''), '\\s+'), x -> x <> '') AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS word FROM t),
v AS (SELECT * FROM read_parquet('__GRAFT_VERIFY_OUT__/q135_bpe_vocab/*.parquet')),
agg AS (
  SELECT w.doc_id, count(*)::BIGINT AS n_words, sum(v.n_tokens)::BIGINT AS n_bpe_tokens
  FROM w JOIN v USING (word) GROUP BY w.doc_id),
s AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x IN $EnStop))::bigint AS en_hits,
    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein')))::bigint AS de_hits,
    len(list_filter(toks, x -> x IN ('le','la','et','les','des','est','une')))::bigint AS fr_hits,
    len(list_filter(toks, x -> x IN ('el','los','las','y','es','una','que')))::bigint AS es_hits
  FROM t),
lang AS (
  SELECT doc_id,
    CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
         WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
         WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
         WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
         ELSE 'es' END AS lang
  FROM s)
SELECT lang.lang, count(*)::BIGINT AS n_docs, sum(agg.n_words)::BIGINT AS n_words,
       sum(agg.n_bpe_tokens)::BIGINT AS n_bpe_tokens,
       round(sum(agg.n_bpe_tokens)::DOUBLE / sum(agg.n_words), 6) AS fertility
FROM agg JOIN lang USING (doc_id)
WHERE agg.n_words > 0
GROUP BY lang.lang""",

    "q117_bm25" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
lens AS (SELECT doc_id, len(toks)::BIGINT AS len FROM t),
stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(len) AS DOUBLE) / count(*) AS avgdl FROM lens),
terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms
       WHERE term IN ('spark', 'merge', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
s AS (SELECT tf.doc_id, lens.len,
        CAST(ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
             / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * len / stats.avgdl))
             AS DECIMAL(24,12)) AS ts
      FROM tf JOIN df USING (term) JOIN lens USING (doc_id), stats),
perdoc AS (SELECT doc_id, len, count(*)::BIGINT AS n_terms,
                  round(CAST(sum(ts) AS DOUBLE), 6) AS score
           FROM s GROUP BY doc_id, len)
SELECT doc_id, len, n_terms, score, rnk::int AS rnk FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM perdoc)
WHERE rnk <= 10""",

    // PageRank, 5 damped power iterations over the distinct co-purchase
    // graph; per-edge contributions decimal(24,12)-quantized before the
    // per-node sum (order-free exact) — mirrors Graph.pageRank
    "q118_pagerank" -> (pageRankCte(5) + """
SELECT node, out_deg, round(CAST(rank AS DOUBLE), 6) AS rank FROM r5"""),

    // per-node triangle counts over the support-≥2 co-purchase graph via
    // degree-ordered orientation (each triangle found exactly once) —
    // mirrors Graph.triangleCounts; exact integers end to end
    "q119_triangle_counts" -> """
WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i FROM lineitem),
ok AS (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 64),
und AS (SELECT x.i AS a, y.i AS b
             FROM bi x JOIN ok USING (bk) JOIN bi y
               ON x.bk = y.bk AND x.i < y.i
             GROUP BY 1, 2 HAVING count(*) >= 2),
deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
ornt AS (SELECT CASE WHEN da.deg <= db.deg THEN und.a ELSE und.b END AS src,
                CASE WHEN da.deg <= db.deg THEN und.b ELSE und.a END AS dst,
                CASE WHEN da.deg <= db.deg THEN db.deg ELSE da.deg END AS ddeg
         FROM und JOIN deg da ON und.a = da.node JOIN deg db ON und.b = db.node),
tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM ornt e1 JOIN ornt e2
          ON e1.src = e2.src
         AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        JOIN ornt e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
SELECT node, count(*)::BIGINT AS n_triangles FROM (
  SELECT u AS node FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri)
GROUP BY node""",

    // label-propagation communities, 3 deterministic rounds with
    // min-label tie-break — mirrors Graph.labelPropagation round for round
    "q121_lpa_communities" -> (lpaCte(3) + """
SELECT node, community FROM l3"""),

    // DELETE WHERE complement: the surviving snapshot equals the rows
    // where the predicate is NOT TRUE (NULL-keeping SQL DELETE semantics;
    // orders has no NULLs in these columns, so NOT() is exact here)
    "q125_delete_where" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders
WHERE NOT (o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'F')""",

    // UPDATE WHERE complement: CASE-WHEN per assigned column; the price
    // adjustment runs in exact decimal then one cast to double, so both
    // engines produce bit-identical values
    "q126_update_where" -> """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'O'
            THEN 'P' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey BETWEEN 1000 AND 3000 AND o_orderstatus = 'O'
            THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
            ELSE o_totalprice END AS o_totalprice,
       epoch_us(o_orderdate) AS odate_us
FROM orders""",

    // pairwise association rules over per-user event-type baskets —
    // mirrors Mining.associationRules step for step: distinct membership,
    // oversized-basket drop, min-support pair counts, both rule
    // directions, metrics as round(double, 6) in the same formula order
    "q124_assoc_rules" -> """
WITH bi0 AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS basket, event_type AS item
             FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
kept AS (SELECT basket FROM bi0 GROUP BY basket HAVING count(*) <= 1000),
bi AS (SELECT bi0.basket, bi0.item FROM bi0 JOIN kept USING (basket)),
n AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi),
ic AS (SELECT item, count(*)::BIGINT AS n_item FROM bi GROUP BY 1),
p AS (SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
      FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 2),
d AS (SELECT item_a AS antecedent, item_b AS consequent, n_ab FROM p
      UNION ALL
      SELECT item_b AS antecedent, item_a AS consequent, n_ab FROM p)
SELECT d.antecedent, d.consequent, d.n_ab,
       ia.n_item AS n_ant, ib.n_item AS n_con,
       round(CAST(d.n_ab AS DOUBLE) / CAST(n.n_baskets AS DOUBLE), 6) AS support,
       round(CAST(d.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6) AS confidence,
       round((CAST(d.n_ab AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)) /
             (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6) AS lift
FROM d JOIN ic ia ON d.antecedent = ia.item
       JOIN ic ib ON d.consequent = ib.item
       CROSS JOIN n""",

    // first-order Markov transition matrix over per-user event sequences;
    // ties in the sequence order break on event_id (the q47 convention)
    "q122_event_transitions" -> """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
p AS (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_type
      FROM e),
c AS (SELECT event_type, next_type, count(*)::BIGINT AS n
      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT event_type, next_type, n,
       round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS p
FROM c""",

    // cohort retention: first-activity-ISO-week cohorts × week offset,
    // distinct active users — cohort via window min over the distinct
    // (user, week) frame, exactly as the Spark side plans it
    "q120_cohort_retention" -> """
WITH act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS m FROM events),
wc AS (SELECT user_id, m, min(m) OVER (PARTITION BY user_id) AS c FROM act)
SELECT epoch_us(c::timestamp) AS cohort_us,
       (datediff('day', c::date, m::date) / 7)::BIGINT AS weeks_since,
       count(*)::BIGINT AS n_users
FROM wc GROUP BY 1, 2""",

    // gap fill: per-priority daily spine left-joined to the daily rollup;
    // LOCF via last_value IGNORE NULLS, counts zero-filled
    "q112_gap_fill" -> """
WITH daily AS (
  SELECT o_orderpriority, date_trunc('day', o_orderdate)::DATE AS day,
         count(*)::BIGINT AS n_orders,
         sum(cast(o_totalprice AS decimal(18,4))) AS revenue
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'
  GROUP BY 1, 2),
spine AS (
  SELECT p.o_orderpriority, d.day::DATE AS day
  FROM (SELECT DISTINCT o_orderpriority FROM daily) p
  CROSS JOIN (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-01-31',
                                            INTERVAL 1 DAY))::DATE AS day) d),
j AS (SELECT s.o_orderpriority, s.day, daily.n_orders, daily.revenue
      FROM spine s LEFT JOIN daily USING (o_orderpriority, day))
SELECT o_orderpriority, epoch_us(day::timestamp) AS day_us,
       coalesce(n_orders, 0)::BIGINT AS n_orders,
       cast(last_value(revenue IGNORE NULLS) OVER (
         PARTITION BY o_orderpriority ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS revenue
FROM j""",

    // unpivot = UNION ALL of the four measures; rollup per measure
    "q113_unpivot" -> """
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity::DOUBLE AS val FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice::DOUBLE FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount::DOUBLE FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax::DOUBLE FROM lineitem)
SELECT measure, count(*)::BIGINT AS n_rows,
       cast(sum(cast(val AS decimal(18,4))) AS double) AS total,
       min(val) AS min_val, max(val) AS max_val
FROM long GROUP BY measure""",

    // bucketized range join ≡ the plain BETWEEN join it re-plans
    "q110_range_join" -> """
SELECT b.band_id, count(*)::BIGINT AS n_orders,
       cast(sum(cast(o.o_totalprice AS decimal(18,4))) AS double) AS revenue
FROM orders o
JOIN (SELECT i AS band_id, (i * 3000)::DOUBLE AS lo, (i * 3000 + 5999)::DOUBLE AS hi
      FROM range(0, 200) t(i)) b
  ON o.o_totalprice BETWEEN b.lo AND b.hi
GROUP BY b.band_id""",

    // dbt generic tests at dbt semantics: unique counts DISTINCT dup
    // values (NULLs excluded), accepted_values passes NULLs,
    // relationships ignores NULL child keys
    "q111_quality_suite" -> """
SELECT * FROM (
SELECT 'not_null' AS check_name, 'orders.o_custkey' AS target,
       (SELECT count(*) FROM orders WHERE o_custkey IS NULL)::BIGINT AS n_violations
UNION ALL
SELECT 'not_null', 'events.value',
       (SELECT count(*) FROM events WHERE value IS NULL)::BIGINT
UNION ALL
SELECT 'unique', 'orders.o_orderkey',
       (SELECT count(*) FROM (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL
                              GROUP BY o_orderkey HAVING count(*) > 1))::BIGINT
UNION ALL
SELECT 'unique', 'documents.text',
       (SELECT count(*) FROM (SELECT text FROM documents WHERE text IS NOT NULL
                              GROUP BY text HAVING count(*) > 1))::BIGINT
UNION ALL
SELECT 'accepted_values', 'orders.o_orderstatus',
       (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('O', 'F', 'P'))::BIGINT
UNION ALL
SELECT 'accepted_values', 'events.event_type',
       (SELECT count(*) FROM events WHERE event_type IS NOT NULL
          AND event_type NOT IN ('click', 'view'))::BIGINT
UNION ALL
SELECT 'relationships', 'orders.o_custkey->customer.c_custkey',
       (SELECT count(*) FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey
        WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)::BIGINT
UNION ALL
SELECT 'relationships', 'lineitem.l_partkey->part.p_partkey',
       (SELECT count(*) FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
          ON l.l_partkey = p.p_partkey
        WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL)::BIGINT
) ORDER BY check_name, target""",

    // version CDC: each adjacent snapshot diff re-derived declaratively.
    // v1→v2 inserts = the appended >=1996 rows; v2→v3 updates = doubled
    // F orders (price 0 would be a no-op diff — excluded on both engines
    // by construction); v3→v4 deletes = the %7 rows at their v3 values
    "q107_version_diff" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS order_us, 'insert' AS change_type,
       1::BIGINT AS from_v, 2::BIGINT AS to_v
FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
       epoch_us(o_orderdate), 'update', 2::BIGINT, 3::BIGINT
FROM orders WHERE o_orderstatus = 'F' AND o_totalprice <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2 ELSE o_totalprice END,
       epoch_us(o_orderdate), 'delete', 3::BIGINT, 4::BIGINT
FROM orders WHERE o_orderkey % 7 = 0""",

    // change-log-chain CDC over multi-commit spans: v1 load < 1996,
    // v2 append the rest, v3 F-repricing upsert (price*2), v4 delete of
    // every 5th key. Span 1→2 is append-only inserts at v2 state; spans
    // 1→4 / 2→4 classify against the FINAL state (to-side values for
    // insert/update, from-side for delete)
    "q137_cdf_chain" -> """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS order_us, 'insert' AS change_type,
       1::BIGINT AS from_v, 2::BIGINT AS to_v
FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2 ELSE o_totalprice END,
       epoch_us(o_orderdate), 'insert', 1::BIGINT, 4::BIGINT
FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderkey % 5 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate), 'delete', 1::BIGINT, 4::BIGINT
FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01' AND o_orderkey % 5 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
       epoch_us(o_orderdate), 'update', 1::BIGINT, 4::BIGINT
FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01' AND o_orderkey % 5 <> 0
  AND o_orderstatus = 'F' AND o_totalprice <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate), 'delete', 2::BIGINT, 4::BIGINT
FROM orders WHERE o_orderkey % 5 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
       epoch_us(o_orderdate), 'update', 2::BIGINT, 4::BIGINT
FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderstatus = 'F' AND o_totalprice <> 0""",

    // substring-level exact-dup spans: 6-token windows with corpus count
    // >= 2 mark positions; gaps-and-islands merges them (break when
    // pos > prevMaxPos + k). Oracle works on gram STRINGS — the Spark
    // side's xxhash64 fingerprints are collision-free at this scale
    "q105_dup_spans" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
b AS (SELECT doc_id, len(toks) AS n, toks FROM t),
g AS (SELECT doc_id, unnest([{'pos': i, 'g': array_to_string(toks[(i+1):(i+6)], ' ')}
                             for i in generate_series(0, n - 6)]) AS s
      FROM b WHERE n >= 6),
g2 AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM g),
dup AS (SELECT g FROM g2 GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM dup)),
w AS (SELECT doc_id, pos,
        max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM hits),
isl AS (SELECT doc_id, pos,
          sum(CASE WHEN pm IS NULL OR pos > pm + 6 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM w),
sp AS (SELECT doc_id, island, (max(pos) - min(pos) + 6)::BIGINT AS covered
       FROM isl GROUP BY 1, 2),
per AS (SELECT doc_id, sum(covered)::BIGINT AS dup_tokens, count(*)::BIGINT AS n_spans
        FROM sp GROUP BY 1)
SELECT b.doc_id, b.n::BIGINT AS n_tokens,
       coalesce(per.dup_tokens, 0)::BIGINT AS dup_tokens,
       coalesce(per.n_spans, 0)::BIGINT AS n_spans
FROM b LEFT JOIN per USING (doc_id)""",

    // dup-span removal, keep-first: the min (doc_id, pos) occurrence of
    // each duplicated gram survives; every token covered by a LOSING
    // occurrence goes; survivors reassemble in order (md5-pinned)
    "q106_dup_remove" -> s"""
WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
b AS (SELECT doc_id, len(toks) AS n, toks FROM t),
g AS (SELECT doc_id, unnest([{'pos': i, 'g': array_to_string(toks[(i+1):(i+6)], ' ')}
                             for i in generate_series(0, n - 6)]) AS s
      FROM b WHERE n >= 6),
g2 AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM g),
byg AS (SELECT g, count(*) AS c, min({'d': doc_id, 'p': pos}) AS keep
        FROM g2 GROUP BY g),
losers AS (SELECT doc_id, pos FROM g2 JOIN byg USING (g)
           WHERE c >= 2 AND NOT (doc_id = keep.d AND pos = keep.p)),
removed AS (SELECT DISTINCT doc_id, ix FROM
              (SELECT doc_id, unnest([pos + i for i in range(0, 6)]) AS ix FROM losers)),
tokpos AS (SELECT doc_id, unnest([{'ix': i - 1, 'tok': toks[i]}
                                  for i in generate_series(1, n)]) AS s
           FROM b WHERE n > 0),
kept AS (SELECT tp.doc_id, tp.s.ix AS ix, tp.s.tok AS tok
         FROM tokpos tp LEFT JOIN removed r
           ON tp.doc_id = r.doc_id AND tp.s.ix = r.ix
         WHERE r.doc_id IS NULL),
re AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(tok, ' ' ORDER BY ix) AS clean
       FROM kept GROUP BY doc_id)
SELECT b.doc_id, b.n::BIGINT AS n_tokens,
       (b.n - coalesce(re.n_kept, 0))::BIGINT AS n_removed,
       md5(coalesce(re.clean, '')) AS clean_hash
FROM b LEFT JOIN re USING (doc_id)""",

    // pruned scan ≡ plain filtered aggregate: file skipping must be
    // invisible to results (skip effectiveness is pinned in GraftTableSpec)
    "q104_pruned_scan" -> """
SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
       count(*)::BIGINT AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
GROUP BY 1""",

    // winsorize: q78's histogram-CDF percentile_disc at p1/p99, values
    // clamped; NULL values and threshold-less groups pass through
    "q100_winsorize" -> """
WITH hist AS (SELECT event_type, value AS v, count(*)::BIGINT AS c
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
cum AS (SELECT event_type, v, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(c) OVER (PARTITION BY event_type)::BIGINT AS n
        FROM hist),
thr AS (SELECT event_type,
         min(CASE WHEN cum >= ceil(0.01 * n) THEN v END) AS lo,
         min(CASE WHEN cum >= ceil(0.99 * n) THEN v END) AS hi
        FROM cum GROUP BY event_type)
SELECT event_id, event_type, value, lo, hi,
       CASE WHEN value IS NULL OR lo IS NULL THEN value
            ELSE least(greatest(value, lo), hi) END AS value_w
FROM events LEFT JOIN thr USING (event_type)""",

    // opt-out erasure: id list = doc_id % 97 = 3; content list = the
    // normalized-md5 fingerprints of doc_id % 101 = 7 (removes all
    // copies); id reason wins when both apply
    "q101_opt_out" -> """
WITH fp AS (SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]+', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
     FROM documents),
ids AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 3),
fps AS (SELECT DISTINCT f.fp FROM fp f WHERE f.doc_id % 101 = 7)
SELECT d.doc_id,
       CASE WHEN i.doc_id IS NOT NULL THEN 'id'
            WHEN c.fp IS NOT NULL THEN 'content' END AS removed_reason
FROM documents d
JOIN fp ON fp.doc_id = d.doc_id
LEFT JOIN ids i ON i.doc_id = d.doc_id
LEFT JOIN fps c ON c.fp = fp.fp""",

    // the SQL front door computes exactly q02 — same oracle text
    "q99_sql_surface" -> """
SELECT r_name, n_name,
       cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name""",

    // k-NN classification: q27's exact top-5 neighbor list votes labels,
    // (votes desc, smallest label) tie-break
    "q97_knn_predict" -> """
WITH v AS (SELECT vec_id, [x::double for x in embedding] AS e FROM embeddings),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([q.e[i] * c.e[i] for i in generate_series(1, 64)])
           / (sqrt(list_sum([x * x for x in q.e])) * sqrt(list_sum([x * x for x in c.e]))), 6) AS cosine
  FROM v q, v c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
nn AS (SELECT query_id, neighbor_id FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM p)
  WHERE rnk <= 5),
votes AS (SELECT nn.query_id, e.label, count(*)::BIGINT AS votes
          FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id GROUP BY 1, 2)
SELECT query_id, label AS pred_label, votes FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS r FROM votes)
WHERE r = 1""",

    // linear quality classifier: exp-free logit, z's affine chain written
    // in the identical order on both sides so the sign agrees exactly
    "q98_quality_logit" -> s"""
WITH t AS (SELECT doc_id, text, $Toks AS toks FROM documents),
m AS (
  SELECT doc_id,
    len(toks)::double AS tc,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE list_sum([length(x)::double for x in toks]) / len(toks) END AS awl,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::double / length(text) END AS pr,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN $EnStop))::double / len(toks) END AS swr
  FROM t)
SELECT doc_id,
       round(-1.5 + 0.002 * least(tc, 2000.0) + 0.8 * swr - 2.0 * pr + 0.1 * awl, 6) AS logit,
       (-1.5 + 0.002 * least(tc, 2000.0) + 0.8 * swr - 2.0 * pr + 0.1 * awl) > 0 AS keep
FROM m""",

    // markup scrub: tags → space, entities decoded one layer (&amp; LAST —
    // the double-decode guard), whitespace collapsed; counts pre-decode
    "q96_clean_markup" -> s"""
WITH aug AS (
  SELECT doc_id, coalesce(text, '') || ' <b>doc ' || doc_id::varchar ||
         '</b> &amp;lt; &quot;q&#39;s&quot;&nbsp;end <br/>' AS t
  FROM documents),
t1 AS (SELECT doc_id, t,
         regexp_replace(t, '${graft.operators.Corpus.TagRe}', ' ', 'g') AS s1
       FROM aug),
dec AS (SELECT doc_id, t, s1,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    s1, '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
    '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS s2
  FROM t1)
SELECT doc_id, trim(regexp_replace(s2, '\\s+', ' ', 'g')) AS cleaned,
       len(regexp_extract_all(t, '${graft.operators.Corpus.TagRe}'))::int AS n_tags,
       len(regexp_extract_all(s1, '${graft.operators.Corpus.EntityRe}'))::int AS n_entities
FROM dec""",

    // temperature-scaled mixing: p = token share, w = p^α / Σp^α (α = 0.5)
    "q70_mixture_weights" -> s"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(len($Toks))::BIGINT AS n_tokens
  FROM documents GROUP BY source),
w AS (SELECT source, n_docs, n_tokens,
        pow(n_tokens::double / (sum(n_tokens) OVER ())::double, 0.5) AS pa
      FROM per)
SELECT source, n_docs, n_tokens, round(pa / sum(pa) OVER (), 6) AS weight FROM w""",

    // trailing-1-hour RANGE frame in epoch-micros space; decimal-exact sum
    "q71_rolling_window" -> """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       (sum(cast(value AS DECIMAL(18,4))) OVER w)::double AS rolling_sum,
       count(*) OVER w AS rolling_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    // pivot = conditional aggregation with the same explicit value list
    "q72_pivot_counts" -> """
SELECT cast(date_trunc('day', ts) AS DATE) AS day,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'error') AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'view') AS "view"
FROM events GROUP BY 1""",

    "q128_grouping_sets" -> """
WITH t AS (SELECT year(o_orderdate)::int AS o_year, o_orderstatus,
                  o_orderpriority, o_totalprice FROM orders)
SELECT o_year, o_orderstatus, o_orderpriority,
       grouping(o_year)::int AS g_year,
       grouping(o_orderstatus)::int AS g_status,
       grouping(o_orderpriority)::int AS g_priority,
       (sum(cast(o_totalprice AS DECIMAL(18,4))))::double AS revenue,
       count(*) AS n_orders
FROM t GROUP BY GROUPING SETS ((o_year, o_orderstatus), (o_year, o_orderpriority), ())""",

    "q73_rollup_revenue" -> """
WITH t AS (SELECT year(o_orderdate)::int AS o_year, month(o_orderdate)::int AS o_month,
                  o_totalprice FROM orders)
SELECT o_year, o_month,
       grouping(o_year)::int AS g_year, grouping(o_month)::int AS g_month,
       (sum(cast(o_totalprice AS DECIMAL(18,4))))::double AS revenue,
       count(*) AS n_orders
FROM t GROUP BY ROLLUP(o_year, o_month)""",

    // funnel in epoch-micros space end-to-end (comparisons at the same
    // precision Spark sees after the ns→us normalization)
    "q74_funnel" -> """
WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT s1.user_id, s1.t1, min(epoch_us(e.ts)) AS t2
       FROM s1 LEFT JOIN events e
         ON e.user_id = s1.user_id AND e.event_type = 'click' AND epoch_us(e.ts) >= s1.t1
       GROUP BY s1.user_id, s1.t1),
s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(epoch_us(e.ts)) AS t3
       FROM s2 LEFT JOIN events e
         ON e.user_id = s2.user_id AND e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.t2
       GROUP BY s2.user_id, s2.t1, s2.t2)
SELECT user_id, t1 AS step1_us, t2 AS step2_us, t3 AS step3_us,
       (1 + (t2 IS NOT NULL)::int + (t3 IS NOT NULL)::int) AS depth
FROM s3""",

    // session_window bounds are [start, last + gap), and windows merge when
    // they overlap OR touch — an event exactly `gap` after the previous one
    // extends the session, so a break needs a STRICTLY greater gap. Same
    // rule as q47's sessionize (asserted against Spark in StreamingSpec).
    "q75_session_window" -> """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS is_start
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT user_id, ts_us,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
  FROM flagged)
SELECT user_id, min(ts_us) AS start_us, max(ts_us) + 1800 * 1000000 AS end_us,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_no""",

    // bigram conditional LM: count (prefix, next) pairs over ALL
    // occurrences, then per-prefix total + top-3 (count desc, token asc)
    "q76_ngram_lm" -> s"""
WITH t AS (SELECT $Toks AS toks FROM documents),
g AS (SELECT unnest(toks[1:len(toks) - 1]) AS prefix,
             unnest(toks[2:len(toks)]) AS next_tok
      FROM t WHERE len(toks) >= 2),
c AS (SELECT prefix, next_tok, count(*)::BIGINT AS cnt FROM g GROUP BY 1, 2),
r AS (SELECT prefix, next_tok, cnt,
        (sum(cnt) OVER (PARTITION BY prefix))::BIGINT AS prefix_total,
        row_number() OVER (PARTITION BY prefix ORDER BY cnt DESC, next_tok) AS rnk
      FROM c)
SELECT prefix, next_tok, cnt, prefix_total,
       round(cnt::double / prefix_total, 6) AS prob, rnk::int AS rnk
FROM r WHERE rnk <= 3 AND prefix_total >= 100""",

    // two-batch incremental dedup: batch 1 keeps min-id per fp among
    // ids < 250; batch 2 keeps min-id per fp among the rest EXCEPT
    // fingerprints batch 1 already registered in the state table
    "q77_incremental_dedup" -> """
WITH d AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9\s]+', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
  FROM documents),
b1 AS (SELECT fp, min(doc_id) AS keep_id, 1 AS batch FROM d WHERE doc_id < 250 GROUP BY fp),
b2 AS (SELECT fp, min(doc_id) AS keep_id, 2 AS batch FROM d WHERE doc_id >= 250
       AND fp NOT IN (SELECT fp FROM b1) GROUP BY fp)
SELECT fp, keep_id, batch FROM b1 UNION ALL SELECT fp, keep_id, batch FROM b2""",

    // interval join at epoch-micros precision (the ns→us floor both
    // engines share — same rationale as q74)
    "q81_interval_join" -> """
WITH b AS (SELECT event_id AS buy_id, user_id, epoch_us(ts) AS buy_us
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
      FROM events WHERE event_type = 'click')
SELECT buy_id, click_id, user_id, buy_us, click_us
FROM b JOIN c USING (user_id)
WHERE click_us >= buy_us - 600 * 1000000 AND click_us <= buy_us + 600 * 1000000""",

    // as-of spine counting: the dim mirror is q10's SCD2 CTE; the spine
    // joins on the half-open validity interval at micros precision
    "q83_active_versions" -> (ScdCte + """
SELECT epoch_us(d.day) AS day_us, count(*) AS n_versions,
       count(DISTINCT user_id) AS n_users
FROM dim, (SELECT unnest(generate_series(TIMESTAMP '2024-01-05',
                                         TIMESTAMP '2024-01-25', INTERVAL 1 DAY)) AS day) d
WHERE epoch_us(eff) <= epoch_us(d.day) AND epoch_us(d.day) < epoch_us(expiry)
GROUP BY d.day"""),

    // Morton interleave mirrored as explicit shift/mask terms
    "q84_zorder_key" -> """
WITH t AS (SELECT event_id, (user_id % 256)::BIGINT AS x, (event_id % 256)::BIGINT AS y FROM events)
SELECT event_id, x, y, ((((x >> 0) & 1) << 0) | (((y >> 0) & 1) << 1) | (((x >> 1) & 1) << 2) | (((y >> 1) & 1) << 3) | (((x >> 2) & 1) << 4) | (((y >> 2) & 1) << 5) | (((x >> 3) & 1) << 6) | (((y >> 3) & 1) << 7) | (((x >> 4) & 1) << 8) | (((y >> 4) & 1) << 9) | (((x >> 5) & 1) << 10) | (((y >> 5) & 1) << 11) | (((x >> 6) & 1) << 12) | (((y >> 6) & 1) << 13) | (((x >> 7) & 1) << 14) | (((y >> 7) & 1) << 15))::BIGINT AS zkey FROM t""",

    "q86_outlier_flags" -> """
WITH hist AS (SELECT event_type, value AS v, count(*)::BIGINT AS c
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
cum AS (SELECT event_type, v, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(c) OVER (PARTITION BY event_type)::BIGINT AS n
        FROM hist),
thr AS (SELECT event_type, min(CASE WHEN cum >= ceil(0.99 * n) THEN v END) AS p99
        FROM cum GROUP BY event_type)
SELECT event_id, event_type, value, p99, (value >= p99) AS is_outlier
FROM events JOIN thr USING (event_type)""",

    "q87_fuzzy_match" -> """
WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment, c_name FROM customer)
SELECT a.c_nationkey AS nation, count(*) AS n_close_pairs
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
 AND levenshtein(a.c_name, b.c_name) <= 1
GROUP BY a.c_nationkey""",

    // generate∘decode identity: the oracle recomputes the synthesis rule
    "q88_audio_decode" -> """
SELECT doc_id, (8000 * (1 + doc_id % 3))::INT AS sample_rate, 1 AS channels,
       (200 + (doc_id * 37) % 600)::BIGINT AS n_frames
FROM documents""",

    // the aggregator's contract IS the window formulation
    "q91_topk_aggregator" -> """
SELECT o_custkey, rnk::INT AS rnk, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) WHERE rnk <= 3""",

    "q89_array_agg" -> """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
       count(*) AS n_events
FROM events GROUP BY user_id""",

    "q90_rank_functions" -> """
SELECT event_id, event_type, value,
       (dense_rank() OVER w)::INT AS drank,
       round(percent_rank() OVER w, 6) AS prank,
       round(cume_dist() OVER w, 6) AS cdist,
       (ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id))::INT AS quartile
FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value)""",

    "q85_nullsafe_join" -> """
WITH l AS (SELECT nullif(user_id, 1) AS k, event_id AS buy_id
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT nullif(user_id, 1) AS k, event_id AS sign_id
      FROM events WHERE event_type = 'signup')
SELECT l.k, count(*) AS n_pairs
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
GROUP BY l.k""",

    "q82_json_extract" -> """
SELECT event_type, count(*) AS n_events,
       count(*) FILTER (WHERE json_extract(props, '$.k') IS NULL) AS n_bad,
       sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
       min(json_extract(props, '$.k')::INT) AS min_k,
       max(json_extract(props, '$.k')::INT) AS max_k
FROM events GROUP BY event_type""",

    "q80_set_ops" -> """
WITH c95 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31 23:59:59'),
c96 AS (SELECT o_custkey FROM orders
        WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31 23:59:59')
SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96)
UNION ALL
SELECT o_custkey, 'only_1995' AS tag FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)""",

    // per-group percentile_disc via the q48 histogram-CDF, partitioned
    "q78_group_quantiles" -> """
WITH hist AS (SELECT event_type, value AS v, count(*)::BIGINT AS c
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT event_type, v, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(c) OVER (PARTITION BY event_type)::BIGINT AS n
  FROM hist)
SELECT event_type, sum(c)::BIGINT AS n_rows,
       min(CASE WHEN cum >= ceil(0.25 * n) THEN v END) AS p25,
       min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS p50,
       min(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS p90,
       min(CASE WHEN cum >= ceil(0.99 * n) THEN v END) AS p99
FROM cum GROUP BY event_type""",

    "q79_cube_revenue" -> """
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus)::int AS g_status,
       grouping(o_orderpriority)::int AS g_priority,
       (sum(cast(o_totalprice AS DECIMAL(18,4))))::double AS revenue,
       count(*) AS n_orders
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",

    // IVFPQ: coarse assignment, per-subspace PQ codes, and ADC scoring all
    // in integer micro-unit L2 — every distance is an exact integer, so the
    // mirror is the textbook Σ(v−w)² with no rounding anywhere; Spark's
    // |v|²−2·v·w+|w|² factorization is bit-identical on integers
    "q60_pq_ann" -> (PqAdcCte + """
SELECT query_id, neighbor_id, adc, rnk::int AS rnk FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk FROM adc)
WHERE rnk <= 5"""),

    // IVFPQ + exact re-rank: the ADC shortlist (top 32) refetches ORIGINAL
    // double vectors and re-scores exact cosine — q27's rounding contract
    "q95_pq_rerank" -> (PqAdcCte + """,
short AS (SELECT query_id, neighbor_id FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS r0 FROM adc)
  WHERE r0 <= 32),
vd AS (SELECT vec_id, [x::double for x in embedding] AS e FROM embeddings),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_sum([q.e[i] * c.e[i] for i in generate_series(1, 64)])
           / (sqrt(list_sum([x * x for x in q.e])) * sqrt(list_sum([x * x for x in c.e]))), 6) AS cosine
  FROM short s JOIN vd q ON q.vec_id = s.query_id JOIN vd c ON c.vec_id = s.neighbor_id)
SELECT query_id, neighbor_id, cosine, rnk::int AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored)
WHERE rnk <= 5"""),

    "q29_embedding_near_dup" -> {
      // banded SRP-LSH candidates: 12 tables x 6 sign bits, global plane
      // index j = band*6 + r, bit value 1<<r — mirrors
      // Similarity.lshBandBuckets / Dedup.embeddingNearDup exactly
      val bandSelects = (0 until 12).map { b =>
        val bucket = (0 until 6).map { r =>
          val j = b * 6 + r
          s"""CASE WHEN list_sum([e[i] * (CASE WHEN (('0x' || substr(md5('$j:' || (i - 1)), 1, 8))::BIGINT & 1) = 1
               THEN 1.0 ELSE -1.0 END) for i in generate_series(1, 64)]) > 0
             THEN ${1L << r}::BIGINT ELSE 0::BIGINT END"""
        }.mkString(" + ")
        s"SELECT vec_id, $b AS band, ($bucket) AS bucket FROM v"
      }.mkString(" UNION ALL ")
      s"""
WITH v AS (SELECT vec_id, [x::double for x in embedding] AS e FROM embeddings),
h AS ($bandSelects),
-- mirror Dedup.embeddingNearDup's maxBucketSize=1000 hot-bucket cap
hcold AS (SELECT h.* FROM h JOIN (SELECT band, bucket FROM h GROUP BY band, bucket
          HAVING count(*) <= 1000) USING (band, bucket)),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM hcold a JOIN hcold b USING (band, bucket) WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b,
       round(list_sum([a.e[i] * b.e[i] for i in generate_series(1, 64)])
         / (sqrt(list_sum([x * x for x in a.e])) * sqrt(list_sum([x * x for x in b.e]))), 6) AS cosine
FROM cand JOIN v a ON a.vec_id = id_a JOIN v b ON b.vec_id = id_b
WHERE list_sum([a.e[i] * b.e[i] for i in generate_series(1, 64)])
    / (sqrt(list_sum([x * x for x in a.e])) * sqrt(list_sum([x * x for x in b.e]))) >= 0.45"""
    })
}
