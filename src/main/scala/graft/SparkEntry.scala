package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * [[all]] declares each driver query once, each one operator from
  * SURVEY.md §2: its plan, its DuckDB oracle (column names aligned on
  * both sides) and the oracle tables that SQL reads. `queries` and
  * `oracleSql` derive from it; the array-valued forms the rows flatten
  * are also pinned by Scala oracles in the test suite.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TokenEngine.extractFlatDriver(spark, "/root/testdata/sf0.001")

  // Oracle tables: Verify writes each export to {GRAFT_OUT}/.oracle_tables/
  // for DuckDB (the driver only registers sfDir/*.parquet as views, but
  // oracle SQL may read any absolute path). Each is the input its query
  // reads, so DuckDB re-derives only the operator. Most token-domain
  // oracles read the token table; every other table sits in the record
  // of the one query that reads it.
  private val tokens = Export("tokens", in => TokenEngine.docsFor(in.spark, in.sfDir))

  /** Shared DuckDB CTE prefix for the token-domain oracles: the
    * exported token table ({GRAFT_OUT}/.oracle_tables/tokens, written by
    * Verify; placeholder substituted there) re-segmented with the
    * exact splitBlocks/splitFields semantics of TokenKernels —
    * sentinel 2 opens a block, delimiter 1 closes a field, trailing
    * undelimited runs drop, content before the first sentinel skips.
    * An independent second implementation of the extraction kernels,
    * in SQL, over the same table. */
  private val tokenCte: String =
    """WITH t AS (SELECT doc_id, source, tokens
      |           FROM read_parquet('{GRAFT_OUT}/.oracle_tables/tokens/*.parquet')),
      |b0 AS (SELECT doc_id, source, tokens,
      |         list_filter(range(1, len(tokens)+1), i -> tokens[i] = 2) AS st
      |       FROM t),
      |blocks AS (SELECT doc_id, source,
      |    unnest(range(len(st))) AS block_idx,
      |    unnest(list_transform(range(1, len(st)+1),
      |      k -> tokens[st[k]+1 : CASE WHEN k < len(st) THEN st[k+1]-1 ELSE len(tokens) END])) AS bt
      |  FROM b0 WHERE len(st) > 0),
      |fb AS (SELECT doc_id, source, block_idx, bt,
      |    list_filter(range(1, len(bt)+1), i -> bt[i] = 1) AS dp
      |  FROM blocks),
      |fs AS (SELECT doc_id, source, block_idx,
      |    list_transform(range(1, len(dp)+1),
      |      j -> bt[CASE WHEN j = 1 THEN 1 ELSE dp[j-1]+1 END : dp[j]-1]) AS fields
      |  FROM fb)""".stripMargin

  /** The extract_flat oracle's body (no final ORDER BY): an
    * independent SQL re-implementation of the extraction kernels over
    * the exported token table. Shared by `extract_flat` (flat, block
    * order) and `extract_grouped` (per-page digest). */
  private val extractFlatSql: String = tokenCte +
    """,
      |m AS (SELECT doc_id, source, block_idx,
      |    list_transform(list_filter(fields, f -> len(f) > 0 AND f[1] = 3), f -> f[2:]) AS p3,
      |    list_transform(list_filter(fields, f -> len(f) > 0 AND f[1] = 4), f -> f[2:]) AS p4
      |  FROM fs),
      |dec AS (SELECT doc_id, source, block_idx, p3, p4,
      |    list_transform(p3, p -> coalesce(array_to_string(list_transform(p, tk -> to_base(tk, 36)), ' '), '')) AS t3,
      |    list_transform(p4, p -> coalesce(array_to_string(list_transform(p, tk -> to_base(tk, 36)), ' '), '')) AS t4
      |  FROM m)
      |SELECT doc_id, source, CAST(block_idx AS INT) AS block_idx,
      |  CASE WHEN len(p3) > 0 THEN array_to_string(list_transform(t3, s -> lower(s)), '|') END AS Names_text,
      |  CASE WHEN len(p3) > 0 THEN array_to_string(list_transform(p3,
      |    p -> coalesce(array_to_string(list_transform(p, tk -> CAST(tk AS VARCHAR)), ' '), '')), '|') END AS Names_tokens,
      |  CASE WHEN len(p3) > 0 THEN CAST(len(p3) AS INT) END AS Names_count,
      |  'card' AS Names_const,
      |  CASE WHEN len(p4) > 0 THEN array_to_string(list_transform(t4,
      |    s -> coalesce(array_to_string(list_transform(string_split(trim(s), ' '),
      |        w -> upper(w[1:1]) || lower(w[2:])), ' '), '')), '|') END AS Images_text,
      |  CASE WHEN len(p4) > 0 THEN CAST(len(p4) AS INT) END AS Images_count
      |FROM dec""".stripMargin

  /** One record per implemented operator from SURVEY.md §2. */
  val all: Seq[Query] = Seq(
    // relational recasts (SURVEY §2.4-2.8)
    Query("q1_agg", Relational.q1Agg,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q_join_agg", Relational.qJoinAgg,
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("q_broadcast_join", Relational.qBroadcastJoin,
      """SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Query("q_semi_join", Relational.qSemiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),
    Query("q_anti_join", Relational.qAntiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),
    Query("q_window_topk", Relational.qWindowTopk,
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS o_totalprice, rnk
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin),
    Query("q_window_running", Relational.qWindowRunning,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 AS BIGINT) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    Query("q_set_ops", Relational.qSetOps,
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |     b AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
        |     u AS (SELECT DISTINCT o_custkey, 'union' AS op FROM (SELECT * FROM a UNION SELECT * FROM b)),
        |     i AS (SELECT o_custkey, 'intersect' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)),
        |     e AS (SELECT o_custkey, 'except' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
        |SELECT op, COUNT(*) AS n FROM (
        |  SELECT * FROM u UNION ALL SELECT * FROM i UNION ALL SELECT * FROM e)
        |GROUP BY op ORDER BY op""".stripMargin),
    Query("q_string_funcs", Relational.qStringFuncs,
      """SELECT p_partkey,
        |  lower(trim(p_name)) AS name_lower,
        |  upper(p_brand) AS brand_upper,
        |  CAST(length(p_name) AS INT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q_rollup", Relational.qRollup,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    Query("q_tumbling", Relational.qTumbling,
      """SELECT CAST(FLOOR(EPOCH(ts)/3600)*3600000 AS BIGINT) AS w_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q_sliding", Relational.qSliding,
      """SELECT CAST(FLOOR(EPOCH(ts)/1800)*1800000 - k.k AS BIGINT) AS w_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value
        |FROM events CROSS JOIN (VALUES (0), (1800000)) k(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q_session", Relational.qSessionWindow,
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |           OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM marked)
        |SELECT user_id, EPOCH_MS(MIN(ts)) AS sess_start,
        |  EPOCH_MS(MAX(ts)) + 1800000 AS sess_end, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value
        |FROM sessions GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start""".stripMargin),
    Query("q_distinct", Relational.qDistinct,
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // the engine-independent property of an HLL estimate is the
    // tolerance band, not the estimate: the oracle asserts the exact
    // counts and approx_ok = TRUE (Spark computes the band itself)
    Query("q_approx_distinct", Relational.qApproxDistinct,
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // token-domain engine (north_star pipeline, batch form)
    Query("extract_flat", TokenEngine.extractFlatDriver,
      extractFlatSql + "\nORDER BY doc_id, block_idx", Seq(tokens)),
    // grouped-per-page digest over the SAME independently-recomputed
    // block records (PaginateResults data shape): DuckDB re-derives
    // every block string and aggregates in block_idx order
    Query("extract_grouped", TokenEngine.extractGrouped,
      """SELECT doc_id, source, CAST(COUNT(*) AS INT) AS n_blocks,
        |  md5(string_agg(concat_ws(chr(31),
        |    coalesce(Names_text, ''), coalesce(Names_tokens, ''),
        |    coalesce(CAST(Names_count AS VARCHAR), ''), coalesce(Names_const, ''),
        |    coalesce(Images_text, ''), coalesce(CAST(Images_count AS VARCHAR), '')),
        |    '|' ORDER BY block_idx)) AS blocks_md5
        |FROM (
        |""".stripMargin + extractFlatSql +
        "\n) ef GROUP BY doc_id, source ORDER BY doc_id", Seq(tokens)),
    Query("source_stats", TokenEngine.sourceStats,
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  MAX(n_tok) AS max_tokens
        |FROM read_parquet('{GRAFT_OUT}/.oracle_tables/tokens/*.parquet')
        |WHERE len(tokens) = n_tok
        |GROUP BY source ORDER BY source""".stripMargin, Seq(tokens)),
    // robots decisions re-derived independently: the oracle uses the
    // boolean form (NOT disallow-prefix OR allow-prefix), equivalent
    // to RobotsGate's longest-prefix rule on this rule shape because
    // the allow prefix strictly extends the disallow prefix
    Query("robots_gate", TokenEngine.robotsGate,
      """WITH t AS (SELECT doc_id, source, n_tok
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/tokens/*.parquet')),
        |d AS (SELECT *, CAST(source[-1] AS INT) % 10 AS dig FROM t),
        |kept AS (SELECT * FROM d WHERE
        |  CASE WHEN dig = 0 THEN TRUE
        |       WHEN dig = 1 THEN FALSE
        |       ELSE (NOT starts_with(doc_id, source || '/doc-0000'))
        |            OR starts_with(doc_id, source || '/doc-00001') END)
        |SELECT source, COUNT(*) AS n_allowed,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tok
        |FROM kept GROUP BY source ORDER BY source""".stripMargin, Seq(tokens)),
    Query("tag_histogram", TokenEngine.tagHistogram,
      """SELECT source, CAST(t AS INT) AS tag, COUNT(*) AS n
        |FROM (SELECT source, unnest(tokens) AS t
        |      FROM read_parquet('{GRAFT_OUT}/.oracle_tables/tokens/*.parquet'))
        |WHERE t >= 3 AND t < 13
        |GROUP BY source, t ORDER BY source, tag""".stripMargin, Seq(tokens)),
    Query("token_pattern", TokenEngine.tokenPattern, tokenCte +
      """,
        |m AS (SELECT doc_id, source, block_idx,
        |    list_filter(fields, f -> len(f) > 0 AND f[1] = 3) AS mf
        |  FROM fs),
        |hits AS (SELECT doc_id, source, block_idx,
        |    CAST(len(mf) AS INT) AS Names_count,
        |    flatten(list_transform(mf, f ->
        |      list_transform(
        |        list_filter(range(2, len(f)), i -> f[i] = 100 AND f[i+1] = 101),
        |        i -> i - 2))) AS pos
        |  FROM m)
        |SELECT doc_id, source, CAST(block_idx AS INT) AS block_idx,
        |  CAST(len(pos) AS INT) AS n_hits,
        |  array_to_string(pos, ',') AS hit_positions, Names_count
        |FROM hits WHERE len(pos) > 0
        |ORDER BY doc_id, block_idx""".stripMargin, Seq(tokens)),
    Query("details_join", TokenEngine.detailsJoin, tokenCte +
      """,
        |m AS (SELECT doc_id, source, block_idx,
        |    list_transform(list_filter(fields, f -> len(f) > 0 AND f[1] = 3), f -> f[2:]) AS p3,
        |    list_transform(list_filter(fields, f -> len(f) > 0 AND f[1] = 5), f ->
        |      coalesce(array_to_string(list_transform(f[2:], tk -> to_base(tk, 36)), ' '), '')) AS keys
        |  FROM fs),
        |childcnt AS (SELECT doc_id AS k, len(list_filter(tokens, x -> x = 2)) AS nb
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/child_tokens/*.parquet')),
        |kx AS (SELECT doc_id, block_idx, unnest(keys) AS k FROM m WHERE len(keys) > 0),
        |kd AS (SELECT kx.doc_id, kx.block_idx, SUM(coalesce(childcnt.nb, 0)) AS nd
        |  FROM kx LEFT JOIN childcnt ON kx.k = childcnt.k
        |  GROUP BY kx.doc_id, kx.block_idx)
        |SELECT m.doc_id, CAST(m.block_idx AS INT) AS block_idx,
        |  CASE WHEN len(p3) > 0 THEN array_to_string(list_transform(p3,
        |    p -> coalesce(array_to_string(list_transform(p, tk -> to_base(tk, 36)), ' '), '')), '|') END AS Names_text,
        |  CASE WHEN len(p3) > 0 THEN CAST(len(p3) AS INT) END AS Names_count,
        |  CAST(coalesce(kd.nd, 0) AS INT) AS n_details
        |FROM m LEFT JOIN kd ON m.doc_id = kd.doc_id AND m.block_idx = kd.block_idx
        |ORDER BY m.doc_id, block_idx""".stripMargin,
      Seq(tokens,
        Export("child_tokens", in => TokenEngine.childUniverse(in.spark, in.sfDir)))),
    // the crawl traversal re-implemented as a recursive walk over the
    // exported page universe (a SUPERSET of what the crawl may reach):
    // stop conditions, cycle guard, maxPages cap, page order and the
    // per-origin aggregation are all DuckDB's own; only the next-key
    // scalar (PaginateSpec-pinned) and the synthetic web are shared
    Query("paginate_crawl", TokenEngine.paginateCrawl,
      """WITH RECURSIVE pages AS (
        |  SELECT * FROM read_parquet('{GRAFT_OUT}/.oracle_tables/crawl_pages/*.parquet')),
        |walk AS (
        |  SELECT o.origin, o.origin AS key, 0 AS page_idx,
        |    [o.origin] AS path
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/crawl_origins/*.parquet') o
        |  JOIN pages p ON p.key = o.origin
        |  UNION ALL
        |  SELECT w.origin, p.next_key, w.page_idx + 1,
        |    list_append(w.path, p.next_key)
        |  FROM walk w
        |  JOIN pages p ON p.key = w.key
        |  JOIN pages pn ON pn.key = p.next_key
        |  WHERE p.next_key IS NOT NULL AND len(p.next_key) > 0
        |    AND NOT list_contains(w.path, p.next_key)
        |    AND w.page_idx + 1 < 8)
        |SELECT w.origin, CAST(COUNT(*) AS INT) AS n_pages,
        |  CAST(SUM(p.n_tok) AS BIGINT) AS total_tok,
        |  md5(string_agg(w.key, '|' ORDER BY w.page_idx)) AS chain_md5
        |FROM walk w JOIN pages p ON p.key = w.key
        |GROUP BY w.origin ORDER BY w.origin""".stripMargin,
      // crawl oracle inputs: origin keys (the SAME definition the crawl
      // queries use) + a SUPERSET of the reachable page universe with
      // per-page next_key — DuckDB re-walks the chains recursively
      // (stop/cycle/maxPages logic independent)
      Seq(Export("crawl_pages", in => TokenEngine.crawlUniverse(in.spark, in.sfDir)),
        Export("crawl_origins", in => TokenEngine.crawlOrigins(in.spark, in.sfDir)))),

    // streaming folds' batch images (§2.9 pacing, S3/J2 assembly) and
    // explicit skew handling
    //
    // the politeness-pacing fold replayed via its Lindley closed form:
    // sched_i = i·delay + running_max(et_j − j·delay) — an independent
    // derivation of the recurrence the Spark side folds directly
    Query("pacing_schedule", TokenEngine.pacingSchedule,
      """WITH p AS (SELECT doc_id, source, event_ms, delay_ms,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY event_ms, doc_id) - 1 AS rn
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/pacing_rows/*.parquet'))
        |SELECT doc_id, source, event_ms,
        |  CAST(rn * delay_ms + MAX(event_ms - rn * delay_ms) OVER (
        |    PARTITION BY source ORDER BY rn ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sched_ms
        |FROM p ORDER BY doc_id""".stripMargin,
      // pacing input rows (the SAME definition pacingSchedule folds
      // over) — DuckDB replays only the fold, via its closed form
      Seq(Export("pacing_rows", in => TokenEngine.pacingRows(in.spark, in.sfDir)))),
    // fragment assembly re-derived independently: first arrival per
    // (doc_id, page_idx) by window rank, page-order flatten, same
    // order-sensitive digest the Spark state machine emits
    Query("session_stitch", TokenEngine.sessionStitch,
      """WITH f AS (SELECT * FROM read_parquet('{GRAFT_OUT}/.oracle_tables/stitch_frags/*.parquet')),
        |fa AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, page_idx
        |         ORDER BY event_ms, frag_idx) AS rn FROM f),
        |asm AS (SELECT doc_id, MIN(source) AS source, COUNT(*) AS n_frags,
        |    flatten(list(tokens ORDER BY page_idx)) AS toks
        |  FROM fa WHERE rn = 1 GROUP BY doc_id)
        |SELECT doc_id, source, CAST(n_frags AS INT) AS n_frags,
        |  CAST(len(toks) AS INT) AS n_tok,
        |  md5(array_to_string(list_transform(toks, t -> CAST(t AS VARCHAR)), ',')) AS tokens_md5
        |FROM asm ORDER BY doc_id""".stripMargin,
      // stitch input fragments (late rows already excluded) — DuckDB
      // re-derives first-arrival dedup + page-order assembly itself
      Seq(Export("stitch_frags", in => TokenEngine.stitchFragments(in.spark, in.sfDir)))),
    // the session-jar fold re-derived independently: TTL segments via
    // LAG + running sum; the per-event hydrated jar via a correlated
    // prefix aggregation — last value per cookie name (arg_max over
    // seq), joined in first-insertion order (MIN(seq) per name within
    // the segment) — exactly the LinkedHashMap merge semantics
    Query("session_jar", TokenEngine.sessionJarFold,
      """WITH e AS (SELECT doc_id, user_token, event_ms, cookie_name, cookie_kv
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/jar_events/*.parquet')),
        |seqd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_token
        |    ORDER BY event_ms, doc_id) AS seq FROM e),
        |gaps AS (SELECT *, CASE WHEN event_ms - LAG(event_ms)
        |      OVER (PARTITION BY user_token ORDER BY seq) > 7200000
        |    THEN 1 ELSE 0 END AS brk FROM seqd),
        |segd AS (SELECT *, SUM(brk) OVER (PARTITION BY user_token
        |    ORDER BY seq ROWS UNBOUNDED PRECEDING) AS seg FROM gaps)
        |SELECT s.doc_id, s.user_token, s.event_ms,
        |  md5(coalesce((
        |    SELECT string_agg(jar.kv, ';' ORDER BY jar.first_seq)
        |    FROM (
        |      SELECT arg_max(p.cookie_kv, p.seq) AS kv, MIN(p.seq) AS first_seq
        |      FROM segd p
        |      WHERE p.user_token = s.user_token AND p.seg = s.seg AND p.seq < s.seq
        |        AND p.cookie_name IS NOT NULL
        |      GROUP BY p.cookie_name) jar), '')) AS jar_md5
        |FROM segd s ORDER BY s.doc_id""".stripMargin,
      // session-jar cookie events — DuckDB re-derives the jar fold
      // (TTL segmentation + per-event prefix aggregation) itself
      Seq(Export("jar_events", in => TokenEngine.jarEvents(in.spark, in.sfDir)))),
    // oracle = plain one-phase GROUP BY; Spark side = two-phase salted
    // aggregation (equality proves salting changes plans, not results)
    Query("q_skew_salted", TokenEngine.skewSalted,
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tok,
        |  md5(string_agg(doc_id, '|' ORDER BY doc_id)) AS docs_md5
        |FROM read_parquet('{GRAFT_OUT}/.oracle_tables/tokens/*.parquet')
        |GROUP BY source ORDER BY source""".stripMargin, Seq(tokens)),
    // the salted equi-join vs the oracle's PLAIN join (same
    // equality-proves-plan-change pattern as q_skew_salted): the
    // per-source digest folds every joined row, so a dropped or
    // doubled (key, salt) match cannot hash-match
    Query("q_salted_join", TokenEngine.saltedJoinAgg,
      """WITH t AS (SELECT doc_id, source, n_tok
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/tokens/*.parquet')),
        |b AS (SELECT source, MAX(n_tok) AS src_max FROM t GROUP BY source),
        |j AS (SELECT t.doc_id, t.source, t.n_tok, b.src_max
        |  FROM t JOIN b USING (source))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_tok = src_max THEN 1 ELSE 0 END) AS BIGINT) AS n_at_max,
        |  md5(string_agg(doc_id || ':' || CAST(src_max AS VARCHAR), '|'
        |    ORDER BY doc_id || ':' || CAST(src_max AS VARCHAR))) AS join_md5
        |FROM j GROUP BY source ORDER BY source""".stripMargin, Seq(tokens)),
    // every row's status re-derived independently by DuckDB from the
    // exported poisoned rows (reference errs/errors.go taxonomy as
    // data); per-status counts + ordered digest of each class. The
    // vocab bound interpolates from TokenCodec so the two sides
    // cannot drift if the constant ever changes.
    Query("dead_letter", TokenEngine.deadLetterStats,
      s"""WITH c AS (SELECT doc_id, n_tok,
        |    CASE WHEN tokens IS NULL OR len(tokens) = 0 THEN 'empty_payload'
        |         WHEN len(tokens) <> n_tok THEN 'bad_token_count'
        |         WHEN len(list_filter(tokens, t -> t < 0 OR t >= ${graft.model.TokenCodec.VOCAB})) > 0
        |           THEN 'token_out_of_range'
        |         ELSE 'ok' END AS status
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/dl_rows/*.parquet'))
        |SELECT status, COUNT(*) AS n_rows,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tok,
        |  md5(string_agg(doc_id, '|' ORDER BY doc_id)) AS docs_md5
        |FROM c GROUP BY status ORDER BY status""".stripMargin,
      // poisoned token rows — DuckDB re-derives every row's dead-letter
      // status independently (only the corruption itself is shared)
      Seq(Export("dl_rows", in => TokenEngine.dlRows(in.spark, in.sfDir)))),

    // training-data pipeline (dedup / similarity / text analysis / multimodal)
    Query("exact_dedup", Pipeline.exactDedup,
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 2""".stripMargin),
    // mirrors Dedup.jaccardPairs incl. the df<=100 hot-shingle cap
    // (intersections counted over cold shingles; n1/n2 = full sizes)
    Query("jaccard_pairs", Pipeline.jaccardPairs,
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |       FROM t WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cold AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN cold USING (s)),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2
        |FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) >= 0.2
        |ORDER BY d1, d2""".stripMargin),
    // minhash_lsh verifies candidates with EXACT Jaccard at the same
    // threshold, so on a corpus where LSH recall is 1 (planted dups,
    // deterministic — holds for this data) its output equals the
    // exact uncapped pair set
    Query("minhash_lsh", Pipeline.minhashLsh,
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s
        |       FROM t WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2
        |FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) >= 0.2
        |ORDER BY d1, d2""".stripMargin),
    // signatures exported (the custom simhash kernel has no DuckDB
    // analog); banding, candidate pairing and hamming verification
    // recomputed independently
    Query("simhash_pairs", Pipeline.simhashPairs,
      """WITH s AS (SELECT doc_id, sig
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/simhash_sigs/*.parquet')),
        |b AS (SELECT doc_id, sig,
        |    unnest([0, 1, 2, 3]) AS band,
        |    unnest([(sig >> 0) & 65535, (sig >> 16) & 65535,
        |            (sig >> 32) & 65535, (sig >> 48) & 65535]) AS bkey
        |  FROM s),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2,
        |    a.sig AS s1, c.sig AS s2
        |  FROM b a JOIN b c ON a.band = c.band AND a.bkey = c.bkey
        |    AND a.doc_id < c.doc_id)
        |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(s1, s2)) <= 3
        |ORDER BY d1, d2""".stripMargin,
      Seq(Export("simhash_sigs", in => Dedup.simhashSigs(in.documents)))),
    Query("embed_neardup", Pipeline.embedNearDup,
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        |ORDER BY 1, 2""".stripMargin),
    // bucket table exported; candidate pairing + exact-cosine verify
    // recomputed by DuckDB (float32 cosine vs our double kernel is
    // ~1e-7 apart; the nearest pair to the 0.45 threshold sits 1.6e-3
    // away, so the verdicts cannot diverge on this data)
    Query("embed_neardup_lsh", Pipeline.embedNearDupLsh,
      """WITH b AS (SELECT * FROM read_parquet('{GRAFT_OUT}/.oracle_tables/neardup_buckets/*.parquet')),
        |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        |  FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
        |    AND l.vec_id < r.vec_id)
        |SELECT id_a, id_b
        |FROM cand
        |JOIN embeddings a ON id_a = a.vec_id
        |JOIN embeddings c ON id_b = c.vec_id
        |WHERE list_cosine_similarity(a.embedding, c.embedding) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
      // near-dup LSH bucket table (the embedNearDupLsh tables)
      Seq(Export("neardup_buckets", in => Similarity.lshCandidates(in.embeddings, Dedup.NearDupTables)))),
    Query("ann_topk", Pipeline.annTopK,
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS (SELECT q.q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(q.qv, c.embedding) AS cos
        |  FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.q_id),
        |r AS (SELECT q_id, n_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, n_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    // candidate generation = the exported deterministic bucket table;
    // ranking/top-k recomputed by DuckDB from raw embeddings
    Query("ann_lsh", Pipeline.annLsh,
      """WITH b AS (SELECT * FROM read_parquet('{GRAFT_OUT}/.oracle_tables/ann_buckets/*.parquet')),
        |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |scored AS (SELECT q_id, n_id,
        |    list_cosine_similarity(eq.embedding, ec.embedding) AS cos
        |  FROM cand
        |  JOIN embeddings eq ON q_id = eq.vec_id
        |  JOIN embeddings ec ON n_id = ec.vec_id),
        |r AS (SELECT q_id, n_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, n_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      // deterministic hyperplane buckets of the embeddings corpus: lets
      // DuckDB rank the SAME candidate set independently (the bucketing
      // itself is seeded-constant, verified by the recall test)
      Seq(Export("ann_buckets", in => Similarity.lshCandidates(in.embeddings, Similarity.AnnTables)))),
    Query("ann_ivf", Pipeline.annIvf,
      """WITH cand AS (SELECT DISTINCT p.q_id, c.vec_id AS n_id
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/ivf_probes/*.parquet') p
        |  JOIN read_parquet('{GRAFT_OUT}/.oracle_tables/ivf_cells/*.parquet') c
        |    ON p.cell = c.cell
        |  WHERE p.q_id <> c.vec_id),
        |scored AS (SELECT q_id, n_id,
        |    list_cosine_similarity(eq.embedding, ec.embedding) AS cos
        |  FROM cand
        |  JOIN embeddings eq ON q_id = eq.vec_id
        |  JOIN embeddings ec ON n_id = ec.vec_id),
        |r AS (SELECT q_id, n_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, n_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      // IVF cell assignments + query probe lists (same deterministic-
      // bucketing-export scheme as ann_buckets)
      Seq(Export("ivf_probes", in => Similarity.ivfProbeRows(Pipeline.annQueries(in.embeddings), in.ivfCentroids)),
        Export("ivf_cells", in => Similarity.ivfCells(in.embeddings, in.ivfCentroids)))),
    Query("token_counts", Pipeline.tokenCounts,
      """SELECT doc_id, len(string_split(text,' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_re_tokens,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("quality_score", Pipeline.quality,
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS n_words,
        |  CAST(length(text) AS DOUBLE)/len(string_split(text,' ')) AS mean_tok_len,
        |  CAST(len(list_filter(string_split(text,' '),
        |    w -> w IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stop_ratio,
        |  CAST(len(regexp_extract_all(text,'[^A-Za-z0-9\s]')) AS DOUBLE)
        |    / greatest(length(text), 1) AS punct_ratio,
        |  CASE WHEN len(string_split(text,' ')) < 5 THEN 'too_short'
        |       WHEN len(list_filter(string_split(text,' '),
        |         w -> w IN ('the','a','and','of','to','in','is','it'))) = 0 THEN 'no_stopwords'
        |       ELSE 'keep' END AS quality_bucket
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("lang_id", Pipeline.langId,
      """WITH sc AS (SELECT doc_id, lang AS labeled_lang,
        |  len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','das','nicht','ein','ich','ist'))) AS score_de,
        |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','and','of','to','in','is','it'))) AS score_en,
        |  len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','y','en','un','es'))) AS score_es,
        |  len(list_filter(string_split(text,' '), x -> x IN ('le','la','de','et','les','des','une','est'))) AS score_fr,
        |  len(list_filter(string_split(text,' '), x -> x IN ('的','是','不','了','在','人','有','我'))) AS score_zh
        | FROM documents)
        |SELECT doc_id, labeled_lang, score_de, score_en, score_es, score_fr, score_zh,
        |  CASE WHEN g = 0 THEN 'und'
        |       WHEN score_de = g THEN 'de' WHEN score_en = g THEN 'en'
        |       WHEN score_es = g THEN 'es' WHEN score_fr = g THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh) AS g FROM sc)
        |ORDER BY doc_id""".stripMargin),
    Query("fingerprint", Pipeline.fingerprintMd5,
      """SELECT doc_id, md5(lower(trim(text))) AS md5_fp, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    // gram-hash stream exported (xxhash64 has no DuckDB analog — same
    // scheme as simhash_sigs); the winnowing itself (window-min,
    // distinct, sort, digest) recomputed independently here
    Query("fingerprint_winnow", Pipeline.fingerprintWinnow,
      """WITH g AS (SELECT doc_id, hashes
        |  FROM read_parquet('{GRAFT_OUT}/.oracle_tables/winnow_grams/*.parquet')),
        |w AS (SELECT doc_id,
        |    list_sort(CASE WHEN len(hashes) < 4 THEN list_distinct(hashes)
        |      ELSE list_distinct(list_transform(range(1, len(hashes) - 2),
        |        i -> list_min(hashes[i:i+3]))) END) AS fp
        |  FROM g)
        |SELECT d.doc_id, md5(lower(trim(d.text))) AS md5_fp,
        |  len(fp) AS n_winnow,
        |  md5(array_to_string(list_transform(fp, h -> CAST(h AS VARCHAR)), ',')) AS winnow_md5
        |FROM w JOIN documents d ON w.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
      // per-doc ordered k-gram hash stream: DuckDB redoes winnowing
      // (window-min, distinct, sort, digest) independently
      Seq(Export("winnow_grams", in => TextAnalysis.winnowGrams(in.documents)))),
    // counts + byte totals recomputed from the exported binary
    // payloads (verifies the binary schema round-trip); dim is the
    // spec constant of the stubbed 64-wide feature vector
    Query("multimodal_stats", Pipeline.multimodalStats,
      """SELECT kind, COUNT(*) AS n,
        |  CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
        |  CAST(64 AS INT) AS dim
        |FROM read_parquet('{GRAFT_OUT}/.oracle_tables/media/*.parquet')
        |GROUP BY kind ORDER BY kind""".stripMargin,
      Seq(Export("media", in => Multimodal.synthesize(in.spark, Pipeline.mediaCount(in.sfDir)).toDF())))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables and the exported oracle tables. */
  val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracleSql).toMap
}
