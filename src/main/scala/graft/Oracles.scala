package graft

/** DuckDB oracle SQL, one entry per key in SparkEntry.queries (SURVEY §2).
  *
  * Dialect/determinism policies (SURVEY §5.3 + §7.5):
  *  - every query ends with `ORDER BY ALL` (DuckDB sorts all columns asc,
  *    NULLS LAST by default — the Spark side mirrors with asc_nulls_last);
  *  - monetary sums go through DECIMAL(18,2) (exact, order-independent in
  *    both engines) — see graft.ops.dsum;
  *  - computed integers are cast to BIGINT (DuckDB's sum(BIGINT) is
  *    HUGEINT, ceil(double) is DOUBLE, length() is BIGINT — Spark's are
  *    long/long/int, so both sides are pinned to 64-bit);
  *  - timestamps are never emitted raw at sub-second precision from the
  *    ns-typed events table; epoch microseconds/seconds via epoch_us.
  */
object Oracles {
  /** Exact order-independent money sum (twin of graft.ops.dsum). */
  private def dsum(x: String): String =
    s"round(CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE), 2)"

  /** Decimal-factor product sums (twin of graft.ops.dmoney/dfrac/dsumExact):
    * factors are exact 2-dp decimals, multiplied in decimal, so the sum is
    * exact and identical in both engines. */
  /** Shared CTE prefix for the §2.30 graph queries: the STRICT near-dup
    * document graph (overlap ratio ≥ 0.49 on distinct en tokens — twin
    * of graft.ops.Graphs.strictEdges), its undirected orientation,
    * degrees, and ordered wedges. */
  private val graphCte =
    """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
      |       SELECT doc_id, unnest(string_split(lower(text), ' '))
      |         AS token
      |       FROM documents WHERE lang = 'en') WHERE token <> ''),
      |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
      |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |         count(*) AS common
      |       FROM dt a JOIN dt b
      |       ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |ed AS (SELECT a_id, b_id FROM pr
      |       JOIN sz sa ON a_id = sa.doc_id
      |       JOIN sz sb ON b_id = sb.doc_id
      |       WHERE common * 100 >= (sa.nt + sb.nt) * 49),
      |un AS (SELECT a_id AS u, b_id AS v FROM ed
      |       UNION ALL SELECT b_id, a_id FROM ed),
      |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
      |       FROM un GROUP BY 1),
      |wg AS (SELECT n1.u AS c, n1.v AS x, n2.v AS y
      |       FROM un n1 JOIN un n2
      |       ON n1.u = n2.u AND n1.v < n2.v)""".stripMargin

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))"
  private val charge =
    s"$discPrice * CAST(1.0 + l_tax AS DECIMAL(4,2))"
  private def dsumExact(x: String): String =
    s"round(CAST(sum($x) AS DOUBLE), 2)"

  /** Value 0..15 of the i-th (1-based) hex nibble of md5 column `h` —
    * DuckDB's hex→int (twin of graft.ops.Integrity.nib's conv). */
  private def nibSql(h: String, i: Int): String =
    s"strpos('0123456789abcdef', substring($h, $i, 1)) - 1"

  /** Where [[sql]] names the checked SF's dir; [[at]] substitutes it. */
  private val SfDir = "{sf_dir}"

  /** [[sql]] bound to the dataset dir the query outputs were made from,
    * spelled absolute: DuckDB resolves a relative path against its own
    * working directory, not Spark's. */
  def at(sfDir: String): Map[String, String] = {
    val dir = java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString
    sql.map { case (q, text) => q -> text.replace(SfDir, dir) }
  }

  private val sql: Map[String, String] = Map(
    // ---- §2.1 scans ----
    "q_scan_project" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY ALL""".stripMargin,
    "q_scan_count" ->
      Tables.schemas.keys.toSeq.sorted
        .map(n => s"SELECT '$n' AS table_name, count(*) AS n FROM $n")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY ALL"),

    "q_source_orc" ->
      s"""SELECT s_nationkey, count(*) AS n, ${dsum("s_acctbal")} AS bal
         |FROM supplier WHERE s_acctbal > 0
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_source_csv" ->
      """SELECT r_name, count(*) AS n, max(n_name) AS max_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_source_json" ->
      s"""SELECT p_brand, count(*) AS n, ${dsum("p_retailprice")} AS total
         |FROM part WHERE p_size >= 10
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_join_bucketed" ->
      s"""SELECT c_nationkey, count(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    // q_agg_pushdown: the spark side answers from parquet footer stats
    // (DSv2 aggregate pushdown); the oracle computes the same values the
    // slow way over the rows
    "q_agg_pushdown" ->
      """SELECT count(*) AS n, min(l_quantity) AS qmin,
        |       max(l_quantity) AS qmax, min(l_orderkey) AS okmin,
        |       max(l_orderkey) AS okmax
        |FROM lineitem ORDER BY ALL""".stripMargin,
    // q_parquet_bloom: the roll-up reads graft's bloom-enabled lineitem
    // COPY (full data, different layout) — the oracle reads the original
    "q_parquet_bloom" ->
      s"""SELECT l_partkey, count(*) AS n, ${dsum("l_extendedprice")} AS total
         |FROM lineitem WHERE l_partkey IN (1, 2, 3)
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    // q_join_spj: same relational result as q_join_bucketed — the kmod
    // join column is derived (custkey % 8), so the (kmod, custkey) join
    // through the key-grouped DSv2 catalog equals the plain custkey join
    "q_join_spj" ->
      s"""SELECT c_nationkey, count(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_rank_bucketed" ->
      s"""WITH r AS (SELECT o_orderpriority, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |  FROM orders)
         |SELECT o_orderpriority, count(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM r WHERE rk <= 3
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_source_partitioned" ->
      """SELECT event_type, count(DISTINCT user_id) AS users,
        |       count(*) AS n, max(epoch_us(ts)) AS last_us
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    // Round 9 (was rows-only): DuckDB 1.0 read_blob() over the SAME files
    // the binaryFile scan reads. Digest is md5 of the UPPERCASE-hex byte
    // spelling on both engines (DuckDB lacks md5(BLOB); to_hex(BLOB) and
    // Spark hex(BINARY) are both uppercase). The one oracle that must
    // name files rather than table views: [[at]] binds the dir.
    "q_source_binary" ->
      s"""SELECT parse_filename(filename) AS file,
        |       octet_length(content) AS bytes,
        |       md5(to_hex(content)) AS digest
        |FROM read_blob('$SfDir/*.parquet')
        |ORDER BY ALL""".stripMargin,

    "q_sink_partitioned" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 4) AS sv,
        |       max(epoch_us(ts)) AS last_us
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.15 subqueries / recursive CTE / sampling / funnel ----
    "q_subquery_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000)
        |ORDER BY ALL""".stripMargin,
    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT count(*) FROM orders o2
        |       WHERE o2.o_orderpriority = o.o_orderpriority)
        |    > 2 * (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           FROM orders o2
        |           WHERE o2.o_orderpriority = o.o_orderpriority)
        |ORDER BY ALL""".stripMargin,
    "q_cte_recursive" ->
      """WITH RECURSIVE months(m) AS (
        |  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
        |)
        |SELECT m, count(o_orderkey) AS n,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |             AS DOUBLE), 2) AS total
        |FROM months LEFT JOIN orders ON month(o_orderdate) = m
        |GROUP BY m ORDER BY ALL""".stripMargin,
    "q_calendar_spine" ->
      s"""SELECT month_start, count(o_orderkey) AS n,
         |       ${dsum("o_totalprice")} AS total
         |FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
         |               TIMESTAMP '1996-12-01', INTERVAL 1 MONTH))
         |        AS month_start)
         |LEFT JOIN orders ON date_trunc('month', o_orderdate) = month_start
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_struct_funcs" ->
      """SELECT s_suppkey, s_nationkey AS nk, s_acctbal AS bal,
        |       (s_nationkey = 3) AS is_nation3
        |FROM supplier ORDER BY ALL""".stripMargin,
    "q_grouping_id" ->
      """SELECT coalesce(n_name, '(all)') AS g_nation,
        |       coalesce(c_mktsegment, '(all)') AS g_segment,
        |       CAST(GROUPING(n_name, c_mktsegment) AS BIGINT) AS gid,
        |       count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment) ORDER BY ALL""".stripMargin,
    "q_union_by_name" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL BY NAME
        |  SELECT o_orderkey, o_orderpriority AS prio FROM orders
        |  WHERE o_totalprice > 300000)
        |ORDER BY ALL""".stripMargin,
    "q_hof_funcs" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> length(x) > 3)) AS BIGINT)
        |    AS n_long,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks, x -> CAST(length(x) AS BIGINT))),
        |    (a, b) -> a + b) AS sum_len,
        |  len(list_filter(toks, x -> length(x) > 6)) > 0 AS has_long,
        |  len(list_filter(toks, x -> length(x) < 1)) = 0 AS all_nonempty
        |FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |      FROM documents)
        |ORDER BY ALL""".stripMargin,
    "q_null_funcs" ->
      """SELECT o_orderkey,
        |       nullif(o_orderstatus, 'O') AS st_nulled,
        |       coalesce(nullif(o_orderstatus, 'O'), 'open') AS st_filled,
        |       (nullif(o_orderstatus, 'O') IS DISTINCT FROM 'F')
        |         AS not_final,
        |       greatest(o_totalprice, 100000.0) AS hi,
        |       least(o_totalprice, 100000.0) AS lo
        |FROM orders ORDER BY ALL""".stripMargin,
    "q_lateral_topk" ->
      """SELECT r_name, ln.n_name
        |FROM region,
        |LATERAL (SELECT n_name FROM nation
        |         WHERE n_regionkey = r_regionkey
        |         ORDER BY n_name LIMIT 2) AS ln
        |ORDER BY ALL""".stripMargin,
    "q_sample_det" ->
      s"""SELECT l_returnflag, count(*) AS n, ${dsum("l_extendedprice")} AS total
         |FROM lineitem
         |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
         |                 CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_funnel" ->
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS first_signup
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT user_id, epoch_us(ts) AS pus
        |      FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, s.first_signup, count(p.pus) AS n_purch_7d
        |FROM s LEFT JOIN p ON p.user_id = s.user_id
        |  AND p.pus >= s.first_signup
        |  AND p.pus < s.first_signup + 604800000000
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_join_salted" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_join_skew" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM (SELECT CASE WHEN o_orderkey % 10 < 3 THEN 1
         |             ELSE o_custkey END AS skew_key, o_totalprice
         |      FROM orders) o
         |JOIN customer ON o.skew_key = c_custkey
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_join_range" ->
      s"""SELECT band, count(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM orders JOIN (VALUES
         |    (0, 50000, 'b0_lt50k'), (50000, 100000, 'b1_50_100k'),
         |    (100000, 200000, 'b2_100_200k'), (200000, 300000, 'b3_200_300k'),
         |    (300000, 400000, 'b4_300_400k'), (400000, 1000000, 'b5_ge400k')
         |  ) AS b(lo, hi, band)
         |  ON o_totalprice >= lo AND o_totalprice < hi
         |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.2 filters ----
    "q_filter_pred" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
        |                     CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2)
        |         AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_filter_in_like" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        |WHERE (p_type LIKE 'PROMO%'
        |       OR p_brand IN ('Brand#1', 'Brand#5', 'Brand#10'))
        |  AND p_size <> 7 ORDER BY ALL""".stripMargin,
    "q_case_expr" ->
      s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
         |            WHEN o_totalprice < 150000 THEN 'mid'
         |            ELSE 'high' END AS band,
         |       count(*) AS n, ${dsum("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.3 joins ----
    "q_join_inner" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY ALL""".stripMargin,
    "q_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY ALL""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_join_full" ->
      """SELECT ka, kb, price_a, price_b
        |FROM (SELECT o_orderkey AS ka, o_totalprice AS price_a FROM orders
        |      WHERE o_orderkey < 1000) a
        |FULL JOIN (SELECT o_orderkey AS kb, o_totalprice AS price_b FROM orders
        |           WHERE o_orderkey >= 500 AND o_orderkey < 1500) b
        |ON ka = kb ORDER BY ALL""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderpriority = '1-URGENT')
        |ORDER BY ALL""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_totalprice > 300000)
        |ORDER BY ALL""".stripMargin,
    "q_join_multiway" ->
      s"""SELECT c_mktsegment,
         |       ${dsumExact(discPrice)} AS revenue,
         |       count(*) AS n
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_join_theta" ->
      s"""SELECT p_brand, count(*) AS n, ${dsum("l_extendedprice")} AS total
         |FROM lineitem JOIN part
         |ON l_partkey = p_partkey AND l_quantity < p_size
         |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.4 aggregations ----
    "q_agg_global" ->
      s"""SELECT count(*) AS n, round(sum(l_quantity), 4) AS sum_qty,
         |       ${dsum("l_extendedprice")} AS sum_price,
         |       min(l_extendedprice) AS min_price,
         |       max(l_extendedprice) AS max_price,
         |       round(avg(l_quantity), 4) AS avg_qty,
         |       round(avg(l_extendedprice), 4) AS avg_price
         |FROM lineitem""".stripMargin,
    "q_agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       round(sum(l_quantity), 4) AS sum_qty,
         |       ${dsum("l_extendedprice")} AS sum_base_price,
         |       ${dsumExact(discPrice)} AS sum_disc_price,
         |       ${dsumExact(charge)} AS sum_charge,
         |       round(avg(l_quantity), 4) AS avg_qty,
         |       round(avg(l_extendedprice), 4) AS avg_price,
         |       round(avg(l_discount), 4) AS avg_disc,
         |       count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY ALL""".stripMargin,
    "q_agg_having" ->
      """SELECT c_nationkey, count(*) AS n FROM customer
        |GROUP BY 1 HAVING count(*) > 55 ORDER BY ALL""".stripMargin,
    "q_agg_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_agg_rollup" ->
      s"""SELECT coalesce(n_name, '(all)') AS g_nation,
         |       coalesce(c_mktsegment, '(all)') AS g_segment,
         |       count(*) AS n, ${dsum("c_acctbal")} AS bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(n_name, c_mktsegment) ORDER BY ALL""".stripMargin,
    "q_agg_cube" ->
      """SELECT coalesce(l_returnflag, '(all)') AS g_flag,
        |       coalesce(l_linestatus, '(all)') AS g_status,
        |       count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY ALL""".stripMargin,
    "q_agg_grouping_sets" ->
      """SELECT coalesce(lang, '(all)') AS g_lang,
        |       coalesce(source, '(all)') AS g_source,
        |       count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY ALL""".stripMargin,
    // q_approx_distinct: intentionally omitted (estimate is engine-specific;
    // bounded vs exact in ScalaTest — SURVEY §2.4).

    "q_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_percentile" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_stats" ->
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(corr(l_quantity, l_extendedprice), 4)
        |         AS corr_qty_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_string_agg" ->
      """SELECT r_name,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |       count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.6 sorts / top-k ----
    "q_orderby_limit" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |  FROM lineitem
        |  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |  LIMIT 20) ORDER BY ALL""".stripMargin,
    "q_sort_multi" ->
      """SELECT r_name, n_name, n_nationkey
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY ALL""".stripMargin,

    // ---- §2.7 set operations ----
    "q_union_all" ->
      """SELECT o_orderkey, count(*) AS n FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_union_distinct" ->
      """SELECT * FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY ALL""".stripMargin,
    "q_intersect" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY ALL""".stripMargin,
    "q_except" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE o_totalprice > 400000)
        |ORDER BY ALL""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY ALL""".stripMargin
  ) ++ scalarSql ++ windowSql ++ textSql ++ vectorSql ++ pipelineSql ++
    round10Sql ++ round11Sql

  // ---- §2.14 pipeline extensions (sketch queries intentionally have no
  // oracle: they hinge on Spark's xxhash64/murmur3) ----
  private def pipelineSql: Map[String, String] = Map(
    "q_lang_score" ->
      """WITH tok AS (SELECT doc_id, lang, token FROM (
        |        SELECT doc_id, lang,
        |               unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents) WHERE token <> ''),
        |profile AS (SELECT lang, token, count(*) AS cnt FROM tok
        |            GROUP BY 1, 2),
        |tot AS (SELECT lang, count(*) AS tot FROM tok GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT token) AS v FROM tok),
        |probe AS (SELECT doc_id, token, count(*) AS k FROM tok
        |          WHERE doc_id < 50 GROUP BY 1, 2)
        |SELECT probe.doc_id, tot.lang AS cand,
        |       round(sum(probe.k *
        |         ln((coalesce(profile.cnt, 0) + 1.0) / (tot.tot + vocab.v))),
        |         4) AS score
        |FROM probe CROSS JOIN tot
        |LEFT JOIN profile ON profile.token = probe.token
        |                 AND profile.lang = tot.lang
        |CROSS JOIN vocab
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id, lang, n_toks, n_distinct, n_chars,
        |       round(CAST(n_distinct AS DOUBLE) / n_toks, 4) AS ttr,
        |       round(CAST(n_chars - (n_toks - 1) AS DOUBLE) / n_toks, 4)
        |         AS avg_tok_len,
        |       round(ln(n_chars + 1) *
        |             round(CAST(n_distinct AS DOUBLE) / n_toks, 4), 4)
        |         AS quality
        |FROM (SELECT doc_id, lang, n_chars,
        |        CAST(len(string_split(lower(text), ' ')) AS BIGINT)
        |          AS n_toks,
        |        CAST(len(list_distinct(string_split(lower(text), ' ')))
        |          AS BIGINT) AS n_distinct
        |      FROM documents) ORDER BY ALL""".stripMargin,
    "q_token_count" ->
      """SELECT lang,
        |       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
        |       CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
        |         AS subword_tokens,
        |       round(avg(n_ws), 4) AS avg_ws_tokens
        |FROM (SELECT lang, n_chars,
        |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws
        |      FROM documents)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(lower(text), ' '),
        |             t -> CAST(ascii(t[1]) * 64 + len(t) AS BIGINT))),
        |         (h, c) -> (h * 1000003 + c) % 2147483647) AS fp
        |FROM documents WHERE doc_id < 100 ORDER BY ALL""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       lang,
        |       octet_length(encode(text)) > 200 AS is_large
        |FROM documents ORDER BY ALL""".stripMargin
  )

  // ---- §2.10 text + §2.11 dedup ----
  private def textSql: Map[String, String] = Map(
    "q_wordcount" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents) WHERE token <> ''
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_doc_freq" ->
      """SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf FROM (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents) WHERE token <> ''
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_tfidf" ->
      """WITH docs AS (SELECT doc_id, text FROM documents
        |              WHERE lang = 'en' AND doc_id < 100),
        |tok AS (SELECT doc_id, token FROM (
        |          SELECT doc_id,
        |                 unnest(string_split(lower(text), ' ')) AS token
        |          FROM docs) WHERE token <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM docs),
        |r AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |             tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df) AS tfidf_raw,
        |             row_number() OVER (PARTITION BY tf.doc_id
        |               ORDER BY tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df)
        |                 DESC, tf.token) AS rn
        |      FROM tf JOIN df USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, tf, df, round(tfidf_raw, 4) AS tfidf
        |FROM r WHERE rn <= 5 ORDER BY ALL""".stripMargin,
    "q_ngrams" ->
      """SELECT * FROM (
        |  WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |             FROM documents),
        |  p AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1))
        |               AS i, toks FROM t)
        |  SELECT toks[i] || ' ' || toks[i + 1] AS bigram, count(*) AS n
        |  FROM p GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20)
        |ORDER BY ALL""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       round(avg(n_chars), 4) AS avg_chars,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_stopword_stem" ->
      """SELECT stem, count(*) AS n, count(DISTINCT token) AS n_forms FROM (
        |  SELECT token,
        |         regexp_replace(token, '(ing|ed|ly|es|s)$', '') AS stem
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE token <> '' AND token NOT IN
        |    ('the','a','an','of','to','and','in','is','it','for','on',
        |     'with','as','at','by','or'))
        |WHERE stem <> ''
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_token_entropy" ->
      """WITH c AS (
        |  SELECT lang, token, count(*) AS n FROM (
        |    SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        |    FROM documents) WHERE token <> '' GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.lang,
        |       round(-sum((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) *
        |                  log2(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))), 4)
        |         AS entropy,
        |       count(DISTINCT token) AS vocab
        |FROM c JOIN tot USING (lang) GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(array_to_string(
        |         list_slice(string_split(lower(text), ' '), 1, 8), ' ')) AS h,
        |       count(*) AS n, min(doc_id) AS first_doc
        |FROM documents GROUP BY 1 HAVING count(*) > 1
        |ORDER BY ALL""".stripMargin,
    "q_dedup_keep_first" ->
      """SELECT lang, count(*) AS n_docs FROM (
        |  SELECT lang, row_number() OVER (PARTITION BY text
        |           ORDER BY doc_id) AS rn FROM documents)
        |WHERE rn = 1 GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_dedup_ngram" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents WHERE lang = 'en'),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i,
        |             toks FROM t),
        |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS s
        |       FROM p),
        |sz AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT a_id, b_id, common, sa.ns AS na, sb.ns AS nb
        |FROM pr JOIN sz sa ON a_id = sa.doc_id
        |        JOIN sz sb ON b_id = sb.doc_id
        |WHERE common * 4 >= sa.ns + sb.ns ORDER BY ALL""".stripMargin,
    "q_dedup_embedding" ->
      """WITH e AS (SELECT label, vec_id, embedding FROM embeddings),
        |n AS (SELECT vec_id, list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(embedding[i] AS DOUBLE)
        |             * CAST(embedding[i] AS DOUBLE))) AS n2 FROM e),
        |pr AS (SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |         list_sum(list_transform(generate_series(1, 64), i ->
        |           CAST(a.embedding[i] AS DOUBLE)
        |           * CAST(b.embedding[i] AS DOUBLE)))
        |         / sqrt(na.n2 * nb.n2) AS cos
        |       FROM e a JOIN e b ON a.label = b.label
        |                        AND a.vec_id < b.vec_id
        |       JOIN n na ON na.vec_id = a.vec_id
        |       JOIN n nb ON nb.vec_id = b.vec_id)
        |SELECT label, a_id, b_id, round(cos, 4) AS sim FROM pr
        |WHERE cos >= 0.3 ORDER BY ALL""".stripMargin,
    "q_dedup_near" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, common, sa.nt AS na, sb.nt AS nb
        |FROM pr JOIN sz sa ON a_id = sa.doc_id
        |        JOIN sz sb ON b_id = sb.doc_id
        |WHERE common * 9 >= (sa.nt + sb.nt) * 4 ORDER BY ALL""".stripMargin,
    // The iterative connected-components operator, oracle-checked via a
    // recursive-CTE transitive closure over the SAME pair predicate as
    // q_dedup_near: reach(node, r) enumerates per-component reachability
    // (Σ c² rows — fine at the graded SF; the Spark side's contracted
    // min-label fixpoint is the shape that scales), then cluster_id =
    // min over the reachable set. Exact: set-valued, no floats.
    "q_dedup_clusters" ->
      """WITH RECURSIVE dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' '))
        |         AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         count(*) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM pr
        |          JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id
        |          WHERE common * 9 >= (sa.nt + sb.nt) * 4),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |      UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node)
        |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
        |       node = min(r) AS keep
        |FROM reach GROUP BY 1 ORDER BY ALL""".stripMargin
  )

  // ---- §2.12 vectors (64-lane double fold, sequential in both engines) ----
  // defs, not vals: `sql` above initializes first and would interpolate
  // null from a not-yet-initialized val (object init order).
  private def dot64 =
    "list_sum(list_transform(generate_series(1, 64), i -> " +
      "CAST(pe[i] AS DOUBLE) * CAST(e[i] AS DOUBLE)))"
  private def pn64 =
    "list_sum(list_transform(generate_series(1, 64), i -> " +
      "CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)))"
  private def en64 =
    "list_sum(list_transform(generate_series(1, 64), i -> " +
      "CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE)))"

  /** Full cosine of two 64-lane float list columns — the same
    * sequential double fold as graft's FloatVecDot/Norm2 chain. */
  private def cosSql(a: String, b: String) =
    s"(list_sum(list_transform(generate_series(1, 64), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / " +
      s"sqrt(list_sum(list_transform(generate_series(1, 64), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))) * " +
      s"list_sum(list_transform(generate_series(1, 64), i -> " +
      s"CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))"

  private def vectorSql: Map[String, String] = Map(
    // §2.111 greedy MMR: the sequential 3-step selection unrolled as
    // chained CTEs, each step = the (score DESC, cid) argmax over the
    // per-probe top-8 candidate pool (≤8 rows after cand).
    "q_mmr_diversify" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe
         |           FROM embeddings WHERE vec_id < 10),
         |c0 AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
         |s AS (SELECT pid, nid, e,
         |        $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p, c0 WHERE nid <> pid),
         |cand AS (SELECT pid, nid AS cid, e AS ce,
         |           dot / sqrt(na2 * nb2) AS rel,
         |           row_number() OVER (PARTITION BY pid
         |             ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |         FROM s),
         |c AS (SELECT pid, cid, ce, rel FROM cand WHERE rn <= 8),
         |p1 AS (SELECT pid, cid AS cid1, ce AS e1, rel AS sc1
         |       FROM (SELECT *, row_number() OVER (PARTITION BY pid
         |               ORDER BY rel DESC, cid) AS r FROM c)
         |       WHERE r = 1),
         |r2 AS (SELECT c.pid, c.cid, c.ce, c.rel, p1.e1,
         |         c.rel * 0.7 - ${cosSql("ce", "e1")} * 0.3 AS sc
         |       FROM c JOIN p1 ON c.pid = p1.pid AND c.cid <> p1.cid1),
         |p2 AS (SELECT pid, cid AS cid2, ce AS e2, sc AS sc2
         |       FROM (SELECT *, row_number() OVER (PARTITION BY pid
         |               ORDER BY sc DESC, cid) AS r FROM r2)
         |       WHERE r = 1),
         |r3 AS (SELECT r2.pid, r2.cid, r2.rel,
         |         r2.rel * 0.7 - greatest(${cosSql("ce", "e1")},
         |           ${cosSql("ce", "e2")}) * 0.3 AS sc
         |       FROM r2 JOIN p2 ON r2.pid = p2.pid
         |         AND r2.cid <> p2.cid2),
         |p3 AS (SELECT pid, cid AS cid3, sc AS sc3
         |       FROM (SELECT *, row_number() OVER (PARTITION BY pid
         |               ORDER BY sc DESC, cid) AS r FROM r3)
         |       WHERE r = 1)
         |SELECT pid, CAST(1 AS BIGINT) AS rank, cid1 AS cid,
         |       round(sc1, 4) AS score FROM p1
         |UNION ALL
         |SELECT pid, CAST(2 AS BIGINT), cid2, round(sc2, 4) FROM p2
         |UNION ALL
         |SELECT pid, CAST(3 AS BIGINT), cid3, round(sc3, 4) FROM p3
         |ORDER BY ALL""".stripMargin,

    // §2.111 semantic mix: nearest of the 16 vec_id<16 codebook rows
    // by full-vector cosine (ties → smaller cid), per-label cluster
    // histogram + exact ×10⁶-quantized entropy sum.
    "q_semantic_mix" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS ce
         |            FROM embeddings WHERE vec_id < 16),
         |sc AS (SELECT e.vec_id, e.label, cb.cid,
         |         ${cosSql("cb.ce", "e.embedding")} AS csim
         |       FROM embeddings e CROSS JOIN cb),
         |a AS (SELECT vec_id, label, cid AS cluster,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY csim DESC, cid) AS r
         |      FROM sc),
         |g AS (SELECT CAST(label AS BIGINT) AS label, cluster,
         |        CAST(count(*) AS BIGINT) AS c
         |      FROM a WHERE r = 1 GROUP BY 1, 2),
         |bl AS (SELECT label, CAST(sum(c) AS BIGINT) AS n
         |       FROM g GROUP BY 1),
         |top AS (SELECT label, cluster AS top_cluster, c AS top_c
         |        FROM (SELECT *, row_number() OVER (PARTITION BY label
         |                ORDER BY c DESC, cluster) AS r FROM g)
         |        WHERE r = 1)
         |SELECT g.label, bl.n AS n_vecs, top.top_cluster,
         |       CAST(top.top_c * 10000 // bl.n AS BIGINT)
         |         AS top_share_bp,
         |       CAST(sum(g.c * CAST(round(ln(CAST(bl.n AS DOUBLE) / g.c)
         |           * 1000000) AS BIGINT)) // bl.n AS BIGINT)
         |         AS entropy_u
         |FROM g JOIN bl USING (label) JOIN top USING (label)
         |GROUP BY 1, 2, 3, 4 ORDER BY ALL""".stripMargin,

    "q_knn_cosine" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |           WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
         |s AS (SELECT pid, nid, $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p, c WHERE nid <> pid),
         |r AS (SELECT pid, nid, dot / sqrt(na2 * nb2) AS cos,
         |             row_number() OVER (PARTITION BY pid
         |               ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s)
         |SELECT pid, nid, rn, round(cos, 4) AS sim FROM r WHERE rn <= 5
         |ORDER BY ALL""".stripMargin,
    "q_vector_centroid" ->
      """SELECT label, CAST(i AS BIGINT) AS pos,
        |       round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS c
        |FROM embeddings
        |CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_vector_quantize" ->
      """WITH u AS (
        |  SELECT vec_id,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE vec_id < 50),
        |m AS (SELECT vec_id, max(abs(v)) AS mx FROM u GROUP BY 1)
        |SELECT u.vec_id, u.pos, CAST(floor(v * 127.0 / mx) AS INT) AS q
        |FROM u JOIN m USING (vec_id) ORDER BY ALL""".stripMargin,
    "q_vector_norm_filter" ->
      """SELECT label, count(*) AS n, round(avg(norm16), 4) AS avg_n16
        |FROM (SELECT label,
        |        sqrt(list_sum(list_transform(generate_series(1, 16), i ->
        |          CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |          AS norm16
        |      FROM embeddings)
        |WHERE norm16 >= 0.45 AND norm16 < 0.55
        |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // MinHash-LSH with the engine-portable md5-string lane hash
    // (Sketches.qDedupMinhash): 16 lanes of min(md5-prefix) per doc,
    // 8 bands of 2 concatenated lanes, candidates from band collisions,
    // exact set-intersection Jaccard >= 0.8 verification. String min is
    // byte-wise ASCII in both engines; md5 is md5.
    "q_dedup_minhash" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |lanes AS (SELECT doc_id, j,
        |    min(substring(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))
        |      AS mh
        |  FROM tok CROSS JOIN range(16) t(j) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, j // 2 AS band,
        |    min(CASE WHEN j % 2 = 0 THEN mh END) || ':' ||
        |    min(CASE WHEN j % 2 = 1 THEN mh END) AS bkey
        |  FROM lanes GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey
        |   AND x.doc_id < y.doc_id),
        |sz AS (SELECT doc_id, toks, len(toks) AS nt FROM d)
        |SELECT a_id, b_id,
        |       CAST(len(list_intersect(sa.toks, sb.toks)) AS BIGINT)
        |         AS common,
        |       CAST(sa.nt AS BIGINT) AS na, CAST(sb.nt AS BIGINT) AS nb
        |FROM cand
        |JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |WHERE 9 * len(list_intersect(sa.toks, sb.toks))
        |      >= 4 * (sa.nt + sb.nt)
        |ORDER BY ALL""".stripMargin,

    // SimHash (Sketches.qDedupSimhash): vote bits re-derived from md5
    // nibbles (bit k = bit k%4 of hex nibble k/4 — engine-portable since
    // round 7). The signature is mirrored as two 32-bit halves because a
    // BIGINT 1<<63 overflows in DuckDB; hamming(lo)+hamming(hi) is the
    // same Hamming distance. All-pairs here — the Spark side's 9-segment
    // pigeonhole banding is lossless, so the sets coincide.
    "q_dedup_simhash" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |votes AS (SELECT doc_id, k,
        |    sum(CASE WHEN (((strpos('0123456789abcdef',
        |          substring(md5(token), k // 4 + 1, 1)) - 1)
        |          >> (k % 4)) & 1) = 1
        |        THEN 1 ELSE -1 END) AS v
        |  FROM tok CROSS JOIN range(64) t(k) GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 AND k < 32
        |          THEN CAST(1 AS BIGINT) << CAST(k AS INT)
        |          ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN v > 0 AND k >= 32
        |          THEN CAST(1 AS BIGINT) << CAST(k - 32 AS INT)
        |          ELSE 0 END) AS BIGINT) AS hi
        |  FROM votes GROUP BY 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        |         AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 8
        |ORDER BY ALL""".stripMargin,

    // Typed-Aggregator MinHash (Sketches.qDedupMinhashAgg): the JVM lane
    // is the UNSIGNED min of the first 8 md5 bytes of 'j:token'; the
    // oracle's min over the 16-hex-char prefix is the identical order
    // (fixed-length lowercase hex compares byte-wise = unsigned numeric).
    // All-pairs lanes_eq >= 12 is exact: 12/16 agreeing lanes leave at
    // most 4 broken bands of 8, so a band collision — candidacy — is
    // guaranteed, not probabilistic.
    "q_dedup_minhash_agg" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |lanes AS (SELECT doc_id, j,
        |    min(substring(md5(CAST(j AS VARCHAR) || ':' || token), 1, 16))
        |      AS mh
        |  FROM tok CROSS JOIN range(16) t(j) GROUP BY 1, 2),
        |eq AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS lanes_eq
        |  FROM lanes x JOIN lanes y
        |    ON x.j = y.j AND x.mh = y.mh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, lanes_eq FROM eq
        |WHERE lanes_eq >= 12 ORDER BY ALL""".stripMargin,

    // Hyperplane LSH ANN (Sketches.qAnnLsh): the 8 pseudo-hyperplanes are
    // re-DERIVED here from md5 first-nibble parity of the lane index —
    // the oracle recomputes the planes, the buckets, and the in-bucket
    // cosine top-5 from scratch. Sign * float products are exact, so the
    // left-to-right list_sum dot matches FloatVecDot bit-for-bit.
    "q_ann_lsh" ->
      s"""WITH sgn AS (SELECT j,
         |    list(CASE WHEN (strpos('0123456789abcdef',
         |        substring(md5(CAST(j * 64 + i AS VARCHAR)), 1, 1)) - 1)
         |        % 2 = 0
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
         |      ORDER BY i) AS sv
         |  FROM range(8) a(j) CROSS JOIN range(64) b(i) GROUP BY j),
         |bkt AS (SELECT vec_id, embedding,
         |    CAST(sum(CASE WHEN list_sum(list_transform(
         |        generate_series(1, 64),
         |        i -> CAST(embedding[i] AS DOUBLE) * sv[i])) > 0
         |      THEN 1 << j ELSE 0 END) AS INT) AS bucket
         |  FROM embeddings CROSS JOIN sgn GROUP BY 1, 2),
         |p AS (SELECT vec_id AS pid, embedding AS pe, bucket AS pb
         |      FROM bkt WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, embedding AS e, bucket AS cb
         |      FROM bkt),
         |s AS (SELECT pid, nid, $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON pb = cb AND nid <> pid),
         |r AS (SELECT pid, nid, dot / sqrt(na2 * nb2) AS cos,
         |             row_number() OVER (PARTITION BY pid
         |               ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s)
         |SELECT pid, nid, rn, round(cos, 4) AS sim FROM r WHERE rn <= 5
         |ORDER BY ALL""".stripMargin,

    // IVF ANN (Vectors.qAnnIvf), hash-graded since round 11: md5-rank
    // seeds -> seed assignment -> one decimal-sum Lloyd mean step ->
    // refined assignment (inverted lists) -> nprobe=3 probe lists ->
    // exact top-5 within the probed lists. Every arithmetic step is
    // the same deterministic sequence as the Spark side: double cosine
    // folds, exact DECIMAL(27,10) lane sums, ONE double divide, one
    // float round; ties break (csim DESC, cid) everywhere.
    "q_ann_ivf" ->
      """WITH seeds AS (SELECT vec_id AS cid, embedding AS ce
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |en AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |      AS n2
        |  FROM embeddings),
        |sn AS (SELECT cid, ce,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS c2
        |  FROM seeds),
        |a0 AS (SELECT vec_id, embedding, cid FROM (
        |    SELECT e.vec_id, e.embedding, s.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(generate_series(1, 64), i ->
        |          CAST(e.embedding[i] AS DOUBLE) * CAST(s.ce[i] AS DOUBLE)))
        |          / sqrt(e.n2 * s.c2) DESC, s.cid) AS rn
        |    FROM en e CROSS JOIN sn s) WHERE rn = 1),
        |m AS (SELECT cid, i AS pos,
        |    CAST(CAST(sum(CAST(embedding[i] AS DECIMAL(27,10))) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS REAL) AS mv
        |  FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
        |  GROUP BY 1, 2),
        |cents AS (SELECT cid, list(mv ORDER BY pos) AS cl,
        |    list_sum(list_transform(list(mv ORDER BY pos), x ->
        |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS c2
        |  FROM m GROUP BY 1),
        |a1 AS (SELECT vec_id, embedding, cid FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(generate_series(1, 64), i ->
        |          CAST(e.embedding[i] AS DOUBLE) * CAST(c.cl[i] AS DOUBLE)))
        |          / sqrt(e.n2 * c.c2) DESC, c.cid) AS rn
        |    FROM en e CROSS JOIN cents c) WHERE rn = 1),
        |pl AS (SELECT pid, pe, cid FROM (
        |    SELECT e.vec_id AS pid, e.embedding AS pe, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(generate_series(1, 64), i ->
        |          CAST(e.embedding[i] AS DOUBLE) * CAST(c.cl[i] AS DOUBLE)))
        |          / sqrt(e.n2 * c.c2) DESC, c.cid) AS rn
        |    FROM en e CROSS JOIN cents c WHERE e.vec_id < 10)
        |  WHERE rn <= 3),
        |s AS (SELECT pl.pid, a.vec_id AS nid,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(pl.pe[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))
        |      AS dot,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(pl.pe[i] AS DOUBLE) * CAST(pl.pe[i] AS DOUBLE))) AS na2,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))
        |      AS nb2
        |  FROM a1 a JOIN pl ON a.cid = pl.cid AND a.vec_id <> pl.pid),
        |r AS (SELECT pid, nid, dot / sqrt(na2 * nb2) AS cos,
        |        row_number() OVER (PARTITION BY pid
        |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
        |      FROM s)
        |SELECT pid, nid, rn, round(cos, 4) AS sim FROM r WHERE rn <= 5
        |ORDER BY ALL""".stripMargin
  )

  // ---- §2.8 scalar functions ----
  private def scalarSql: Map[String, String] = Map(
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_type) AS low,
        |       substring(p_name, 1, 5) AS sub,
        |       p_brand || '-' || p_type AS cat,
        |       CAST(length(p_name) AS BIGINT) AS len,
        |       replace(p_name, ' ', '_') AS rep,
        |       trim(' ' || p_name || ' ') AS trm,
        |       CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS BIGINT)
        |         AS brand_num
        |FROM part ORDER BY ALL""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mo,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |       date_trunc('month', o_orderdate) AS month_start,
        |       CAST(datediff('day', DATE '1995-01-01',
        |                     CAST(o_orderdate AS DATE)) AS BIGINT) AS d_since,
        |       CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS d_plus30,
        |       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS eom
        |FROM orders ORDER BY ALL""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(abs(l_extendedprice - 50000), 4) AS ab,
        |       CAST(ceil(l_quantity) AS BIGINT) AS ce,
        |       CAST(floor(l_quantity) AS BIGINT) AS fl,
        |       round(sqrt(l_extendedprice), 4) AS sq,
        |       round(ln(l_extendedprice + 1), 4) AS logv,
        |       round(pow(l_discount + 1, 2), 4) AS pw,
        |       l_orderkey % 7 AS pm
        |FROM lineitem ORDER BY ALL""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS sum_k,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)),
        |             4) AS avg_k
        |FROM events GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_array_funcs" ->
      """SELECT doc_id,
        |       CAST(len(toks) AS BIGINT) AS n_toks,
        |       list_contains(toks, 'spark') AS has_spark,
        |       array_to_string(toks[1:3], ' ') AS first3,
        |       array_to_string(list_sort(toks), ' ') AS sorted_text
        |FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |      FROM documents) ORDER BY ALL""".stripMargin,
    "q_explode" ->
      """SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |FROM documents WHERE doc_id < 50 ORDER BY ALL""".stripMargin,
    "q_map_funcs" ->
      """SELECT source, lang, count(*) AS n FROM documents
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin
  )

  // ---- §2.5 windows + §2.9 event-time (epoch_us truncates the ns source
  // to Spark's µs precision — SURVEY §1.2.1) ----
  private def windowSql: Map[String, String] = Map(
    "q_window_rank" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |       rank() OVER w AS rnk, dense_rank() OVER w AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY ALL""".stripMargin,
    "q_window_topk_per_group" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey)
        |           AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY ALL""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |         AS running
        |FROM orders ORDER BY ALL""".stripMargin,
    "q_window_lag" ->
      """SELECT event_id, user_id,
        |       us - lag(us) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS gap_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |ORDER BY ALL""".stripMargin,
    "q_window_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY ALL""".stripMargin,
    "q_window_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |       first_value(o_orderkey) OVER w AS first_ok,
        |       last_value(o_orderkey) OVER w AS last_ok,
        |       nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND UNBOUNDED FOLLOWING)
        |ORDER BY ALL""".stripMargin,
    "q_window_range_frame" ->
      """SELECT event_id, user_id, ts_sec,
        |       round(avg(value) OVER (
        |         PARTITION BY user_id ORDER BY ts_sec
        |         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS avg_1h
        |FROM (SELECT event_id, user_id, value,
        |             epoch_us(ts) // 1000000 AS ts_sec FROM events)
        |ORDER BY ALL""".stripMargin,
    "q_events_tumbling" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |       count(*) AS n, round(sum(value), 4) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_events_sliding" ->
      """SELECT epoch_us(win) // 1000000 AS win_s, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts)
        |         - INTERVAL '30 minutes' FROM events)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_events_session" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |s AS (SELECT user_id, event_id, us,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t AS (SELECT user_id, us,
        |        CAST(sum(new_sess) OVER (
        |          PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS sess_id
        |      FROM s)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |       min(us) AS start_us, max(us) - min(us) AS dur_us
        |FROM t GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_events_late_dedup" ->
      """SELECT user_id, event_type, event_id, us, value FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY epoch_us(ts) DESC,
        |                                     event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY ALL""".stripMargin,
    "q_join_asof" ->
      """SELECT event_id, user_id, event_type,
        |       max(CASE WHEN event_type = 'signup' THEN us END) OVER (
        |         PARTITION BY user_id ORDER BY us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         AS last_signup_us
        |FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |      FROM events) ORDER BY ALL""".stripMargin,

    // ---- §2.16 round-3 extensions --------------------------------------
    "q_agg_argmax" ->
      """SELECT c_nationkey,
        |  arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT)
        |                  * 1000000000 + c_custkey) AS top_name,
        |  arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT)
        |                  * 1000000000 + c_custkey) AS bottom_name,
        |  max(c_acctbal) AS max_bal, count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_histogram" ->
      """SELECT event_type,
        |       CAST(least(floor("value" / 50.0), 10) AS BIGINT) AS bucket,
        |       count(*) AS n, max("value") AS mx
        |FROM events GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_join_time_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |           FROM events)
        |SELECT p.user_id, count(*) AS n_pairs,
        |       min(abs(c.us - p.us)) AS min_gap_us
        |FROM e p JOIN e c ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND abs(c.us - p.us) <= 1800000000
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_tfidf_cosine" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents WHERE lang = 'en' AND doc_id < 100),
        |tok AS (SELECT doc_id, t AS token
        |        FROM d, unnest(toks) AS u(t) WHERE t <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM d),
        |w AS (SELECT doc_id, token,
        |             tf * ln((SELECT n FROM nd)::DOUBLE / df) AS wt
        |      FROM tf JOIN dfr USING (token)),
        |nrm AS (SELECT doc_id, sum(wt * wt) AS nn FROM w GROUP BY 1),
        |dot AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |               sum(a.wt * b.wt) AS dp
        |        FROM w a JOIN w b
        |          ON a.token = b.token AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2)
        |SELECT a_id, b_id, round(dp / sqrt(na.nn * nb.nn), 4) AS cos
        |FROM dot JOIN nrm na ON na.doc_id = a_id
        |         JOIN nrm nb ON nb.doc_id = b_id
        |WHERE round(dp / sqrt(na.nn * nb.nn), 4) >= 0.5
        |ORDER BY ALL""".stripMargin,
    "q_window_percent_rank" ->
      """SELECT o_orderkey, o_orderpriority,
        |  round(percent_rank() OVER (PARTITION BY o_orderpriority
        |        ORDER BY o_totalprice, o_orderkey), 4) AS pr,
        |  round(cume_dist() OVER (PARTITION BY o_orderpriority
        |        ORDER BY o_totalprice, o_orderkey), 4) AS cd
        |FROM orders WHERE o_orderkey < 100 ORDER BY ALL""".stripMargin,
    "q_fuzzy_match" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        |       CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS d
        |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
        |WHERE levenshtein(a.n_name, b.n_name) <= 1
        |ORDER BY ALL""".stripMargin,
    "q_unpivot" ->
      """SELECT metric, count(*) AS n, round(avg(val), 4) AS avg_val,
        |       min(val) AS min_val, max(val) AS max_val
        |FROM (SELECT * FROM (SELECT p_partkey,
        |                            CAST(p_size AS DOUBLE) AS size,
        |                            CAST(p_retailprice AS DOUBLE)
        |                              AS retailprice
        |                     FROM part)
        |      UNPIVOT (val FOR metric IN (size, retailprice)))
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_upsert" ->
      """WITH changes AS (SELECT o_orderkey AS k, 'U' AS new_status,
        |                        round(CAST(o_totalprice AS DECIMAL(18,2)) *
        |                              CAST(1.10 AS DECIMAL(4,2)), 2)
        |                          AS new_price
        |                 FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT coalesce(new_status, o_orderstatus) AS status,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(coalesce(new_price, o_totalprice)
        |             AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders FULL JOIN changes ON o_orderkey = k
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_events_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |                   epoch_us(ts) // 604800000000 AS wk
        |            FROM events)
        |SELECT a.wk, count(DISTINCT a.user_id) AS n_active,
        |       count(DISTINCT b.user_id) AS n_retained
        |FROM wk a LEFT JOIN wk b
        |  ON b.user_id = a.user_id AND b.wk = a.wk + 1
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_chunk_docs" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents WHERE doc_id < 50),
        |c AS (SELECT doc_id, toks,
        |             unnest(generate_series(0, len(toks) - 1, 8)) AS start
        |      FROM d)
        |SELECT doc_id, start // 8 AS chunk_id,
        |       CAST(len(list_slice(toks, start + 1, start + 16)) AS BIGINT)
        |         AS n_toks,
        |       array_to_string(list_slice(toks, start + 1, start + 16), ' ')
        |         AS chunk_text
        |FROM c ORDER BY ALL""".stripMargin,
    "q_mix_sources" ->
      """SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 2) <=
        |  CASE CAST(substr(source, 4) AS INT) % 4
        |    WHEN 0 THEN '1f' WHEN 1 THEN '3f' WHEN 2 THEN '7f'
        |    ELSE 'ff' END
        |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.17 round-4 extensions --------------------------------------
    "q_bm25" ->
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '),
        |                         x -> x <> '') AS toks
        |           FROM documents WHERE lang = 'en' AND doc_id < 100),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1,2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfr.df,
        |         ln((nd.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1) *
        |         (tf.tf * 2.2) /
        |         (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / nd.avgdl)) AS raw
        |       FROM tf CROSS JOIN nd
        |       JOIN dfr ON tf.token = dfr.token
        |       JOIN dl ON tf.doc_id = dl.doc_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY raw DESC, token) AS rn FROM sc)
        |SELECT doc_id, token, tf, df, round(raw, 4) AS bm25
        |FROM rk WHERE rn <= 5 ORDER BY ALL""".stripMargin,
    "q_repetition_ratio" ->
      """WITH tok AS (SELECT doc_id,
        |               unnest(list_filter(string_split(lower(text), ' '),
        |                                  x -> x <> '')) AS token
        |             FROM documents WHERE doc_id < 200),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1,2),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
        |          max(tf) AS max_tf FROM tf GROUP BY 1)
        |SELECT doc_id, n_toks, max_tf,
        |       round(CAST(max_tf AS DOUBLE) / n_toks, 4) AS rep_ratio,
        |       (max_tf * 5 >= n_toks) AS repetitive
        |FROM agg ORDER BY ALL""".stripMargin,
    "q_graph_degree" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id
        |          FROM pr JOIN sz sa ON a_id = sa.doc_id
        |                  JOIN sz sb ON b_id = sb.doc_id
        |          WHERE common * 9 >= (sa.nt + sb.nt) * 4),
        |ends AS (SELECT a_id AS doc_id FROM pairs
        |         UNION ALL SELECT b_id FROM pairs),
        |degs AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY 1)
        |SELECT degree, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT)
        |  AS min_doc
        |FROM degs GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_pack_chunks" ->
      """WITH tok AS (SELECT doc_id, source,
        |               len(list_filter(string_split(lower(text), ' '),
        |                               x -> x <> '')) AS n_toks
        |             FROM documents),
        |cum AS (SELECT source, doc_id, n_toks,
        |          sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |            AS before_toks
        |        FROM tok)
        |SELECT source, CAST(coalesce(before_toks, 0) // 500 AS BIGINT)
        |         AS shard,
        |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS tot_toks
        |FROM cum GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_sample_stratified" ->
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |tgt AS (SELECT min(n) AS m FROM cnt),
        |thr AS (SELECT lang, (4294967296 * m) // n AS thr FROM cnt, tgt),
        |kept AS (SELECT d.lang, d.n_chars
        |         FROM documents d JOIN thr ON d.lang = thr.lang
        |         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
        |                 || ':strat'), 1, 8))::BIGINT < thr.thr)
        |SELECT lang, count(*) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM kept GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_vector_pq" ->
      """WITH cb AS (SELECT vec_id AS cid, embedding AS ce
        |            FROM embeddings WHERE vec_id < 16),
        |blocks AS (SELECT unnest(generate_series(0, 7)) AS b),
        |dist AS (SELECT e.vec_id, b.b, cb.cid,
        |           list_sum(list_transform(generate_series(1, 8), i ->
        |             (CAST(e.embedding[b.b * 8 + i] AS DOUBLE) -
        |              CAST(cb.ce[b.b * 8 + i] AS DOUBLE)) *
        |             (CAST(e.embedding[b.b * 8 + i] AS DOUBLE) -
        |              CAST(cb.ce[b.b * 8 + i] AS DOUBLE)))) AS d2
        |         FROM embeddings e CROSS JOIN blocks b CROSS JOIN cb),
        |rk AS (SELECT vec_id, b, cid, row_number() OVER (
        |         PARTITION BY vec_id, b ORDER BY d2, cid) AS rn FROM dist)
        |SELECT vec_id, CAST(b AS BIGINT) AS block, CAST(cid AS BIGINT)
        |  AS code
        |FROM rk WHERE rn = 1 ORDER BY ALL""".stripMargin,
    "q_events_anomaly" ->
      """WITH m AS (SELECT event_type,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |               AS s1,
        |             CAST(sum(CAST(value AS DECIMAL(18,2)) *
        |                      CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |               AS s2,
        |             count(*) AS n
        |           FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |       round((e.value - m.s1 / m.n) /
        |             sqrt(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n)), 4)
        |         AS z
        |FROM events e JOIN m ON e.event_type = m.event_type
        |WHERE m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n) > 0
        |  AND abs((e.value - m.s1 / m.n) /
        |          sqrt(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n))) > 2.5
        |ORDER BY ALL""".stripMargin,
    // §2.17 round-5 extensions
    "q_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |         toks[i+3] || ' ' || toks[i+4] AS shingle
        |       FROM (SELECT doc_id,
        |               unnest(generate_series(1, len(toks) - 4)) AS i,
        |               toks FROM t)),
        |tr AS (SELECT doc_id AS train_doc, shingle FROM sh
        |       WHERE doc_id % 2 = 0),
        |ev AS (SELECT doc_id AS eval_doc, shingle FROM sh
        |       WHERE doc_id % 2 = 1)
        |SELECT train_doc, count(DISTINCT shingle) AS n_shingles,
        |       count(DISTINCT eval_doc) AS n_eval_docs,
        |       count(*) AS n_hits
        |FROM tr JOIN ev USING (shingle)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_ngram_lm" ->
      """WITH t AS (SELECT string_split(lower(text), ' ') AS toks
        |           FROM documents WHERE lang = 'en'),
        |p AS (SELECT toks[i] AS w1, toks[i+1] AS w2
        |      FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i,
        |              toks FROM t)),
        |c2 AS (SELECT w1, w2, count(*) AS n_pair FROM p GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_ctx
        |       FROM c2 GROUP BY 1),
        |r AS (SELECT c2.w1 AS w1, w2, n_pair, n_ctx,
        |        row_number() OVER (PARTITION BY c2.w1
        |                           ORDER BY n_pair DESC, w2 ASC) AS rn
        |      FROM c2 JOIN c1 ON c2.w1 = c1.w1)
        |SELECT w1, w2, n_pair, n_ctx,
        |       round(CAST(n_pair AS DOUBLE) / n_ctx, 4) AS prob
        |FROM r WHERE rn <= 3 ORDER BY ALL""".stripMargin,
    "q_cooccur_pmi" ->
      """WITH docs AS (SELECT * FROM documents WHERE lang = 'en'),
        |dt AS (SELECT DISTINCT doc_id, token FROM (
        |         SELECT doc_id, unnest(string_split(lower(text), ' '))
        |           AS token FROM docs) WHERE token <> ''),
        |nd AS (SELECT count(*) AS n_docs FROM docs),
        |dfr AS (SELECT token, count(*) AS df FROM dt GROUP BY 1),
        |pairs AS (SELECT a.token AS t1, b.token AS t2, count(*) AS n_ab
        |          FROM dt a JOIN dt b
        |            ON a.doc_id = b.doc_id AND a.token < b.token
        |          GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT t1, t2, n_ab, d1.df AS df1, d2.df AS df2,
        |       round(ln(CAST(n_ab AS DOUBLE) * n_docs /
        |                (d1.df * d2.df)), 4) AS pmi
        |FROM pairs JOIN dfr d1 ON pairs.t1 = d1.token
        |           JOIN dfr d2 ON pairs.t2 = d2.token
        |           CROSS JOIN nd
        |ORDER BY ALL""".stripMargin,
    "q_kmeans_iter" ->
      """WITH cb AS (SELECT vec_id AS cid, embedding AS ce
        |            FROM embeddings WHERE vec_id < 16),
        |dist AS (SELECT e.vec_id, cb.cid,
        |           list_sum(list_transform(generate_series(1, 64), i ->
        |             (CAST(e.embedding[i] AS DOUBLE) -
        |              CAST(cb.ce[i] AS DOUBLE)) *
        |             (CAST(e.embedding[i] AS DOUBLE) -
        |              CAST(cb.ce[i] AS DOUBLE)))) AS d2
        |         FROM embeddings e CROSS JOIN cb),
        |rk AS (SELECT vec_id, cid, row_number() OVER (
        |         PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist),
        |asg AS (SELECT vec_id, cid FROM rk WHERE rn = 1),
        |sizes AS (SELECT cid, count(*) AS n_members FROM asg GROUP BY 1),
        |lanes AS (SELECT a.cid, p.i AS pos,
        |            CAST(e.embedding[p.i] AS DOUBLE) AS v
        |          FROM asg a JOIN embeddings e USING (vec_id),
        |               (SELECT unnest(generate_series(1, 64)) AS i) p),
        |means AS (SELECT cid, CAST(pos AS BIGINT) AS pos,
        |            round(avg(v), 4) AS c
        |          FROM lanes GROUP BY 1, 2)
        |SELECT m.cid, m.pos, m.c, s.n_members
        |FROM means m JOIN sizes s USING (cid)
        |ORDER BY ALL""".stripMargin,
    "q_anomaly_mad" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |             CAST(value AS DECIMAL(18,2)) AS dv FROM events),
        |d1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                   ORDER BY value, event_id) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS n
        |       FROM e),
        |med AS (SELECT event_type,
        |          sum(dv) * (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END)
        |            AS med2
        |        FROM d1 WHERE 2*rn BETWEEN n AND n+2 GROUP BY 1),
        |wm AS (SELECT e.*, med.med2, abs(2*e.dv - med.med2) AS ad2
        |       FROM e JOIN med USING (event_type)),
        |d2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                   ORDER BY ad2, event_id) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS n
        |       FROM wm),
        |mad AS (SELECT event_type,
        |          sum(ad2) * (CASE WHEN max(n) % 2 = 1 THEN 2 ELSE 1 END)
        |            AS mad22
        |        FROM d2 WHERE 2*rn BETWEEN n AND n+2 GROUP BY 1)
        |SELECT wm.event_id, wm.event_type, wm.value,
        |       CAST(wm.med2 AS DOUBLE) / 2 AS med,
        |       CAST(mad.mad22 AS DOUBLE) / 4 AS mad,
        |       round(2 * CAST(wm.ad2 AS DOUBLE) /
        |             (1.4826 * CAST(mad.mad22 AS DOUBLE)), 4) AS robust_z
        |FROM wm JOIN mad USING (event_type)
        |WHERE mad.mad22 > 0 AND 2*wm.ad2 > 4.4478 * mad.mad22
        |ORDER BY ALL""".stripMargin,
    "q_corr_matrix" ->
      """WITH m AS (SELECT
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
        |    AS sp,
        |  CAST(sum(CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS sd,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) *
        |           CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sqq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
        |           CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
        |    AS spp,
        |  CAST(sum(CAST(l_discount AS DECIMAL(15,2)) *
        |           CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS sdd,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) *
        |           CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
        |    AS sqp,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) *
        |           CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS sqd,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
        |           CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS spd
        |FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'qty_price' AS pair,
        |         round((n*sqp - sq*sp) /
        |               (sqrt(n*sqq - sq*sq) * sqrt(n*spp - sp*sp)), 4)
        |           AS corr FROM m
        |  UNION ALL
        |  SELECT 'qty_disc' AS pair,
        |         round((n*sqd - sq*sd) /
        |               (sqrt(n*sqq - sq*sq) * sqrt(n*sdd - sd*sd)), 4)
        |           AS corr FROM m
        |  UNION ALL
        |  SELECT 'price_disc' AS pair,
        |         round((n*spd - sp*sd) /
        |               (sqrt(n*spp - sp*sp) * sqrt(n*sdd - sd*sd)), 4)
        |           AS corr FROM m)
        |ORDER BY ALL""".stripMargin,
    "q_autocorr" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS dv
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, a.dv AS x, b.dv AS y
        |      FROM daily a JOIN daily b
        |        ON a.event_type = b.event_type AND b.day = a.day + 1),
        |m AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |        CAST(sum(x) AS DOUBLE) AS sx,
        |        CAST(sum(y) AS DOUBLE) AS sy,
        |        CAST(sum(x * x) AS DOUBLE) AS sxx,
        |        CAST(sum(y * y) AS DOUBLE) AS syy,
        |        CAST(sum(x * y) AS DOUBLE) AS sxy
        |      FROM p GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
        |       round((n*sxy - sx*sy) /
        |             (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 4)
        |         AS autocorr
        |FROM m
        |WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |ORDER BY ALL""".stripMargin,
    "q_matmul" ->
      """WITH a AS (SELECT l_orderkey % 50 AS i, l_partkey % 40 AS j,
        |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |               AS va
        |           FROM lineitem GROUP BY 1, 2),
        |b AS (SELECT l_partkey % 40 AS j, l_suppkey % 30 AS kk,
        |        CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS vb
        |      FROM lineitem GROUP BY 1, 2)
        |SELECT a.i, b.kk, CAST(sum(a.va * b.vb) AS BIGINT) AS v
        |FROM a JOIN b ON a.j = b.j
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_topk_custom" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY ALL""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT event_type AS token, count(*) AS c
        |FROM events
        |WHERE event_type IS NOT NULL
        |GROUP BY 1
        |HAVING count(*) > (SELECT count(event_type) FROM events) // 17
        |ORDER BY ALL""".stripMargin,
    "q_tpch_q3" ->
      s"""SELECT * FROM (
         |  SELECT l_orderkey, o_orderdate, o_orderpriority,
         |         ${dsumExact(discPrice)} AS revenue
         |  FROM customer JOIN orders ON c_custkey = o_custkey
         |                JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE c_mktsegment = 'BUILDING'
         |    AND o_orderdate < TIMESTAMP '1995-03-15'
         |    AND l_shipdate > TIMESTAMP '1995-03-15'
         |  GROUP BY 1, 2, 3
         |  ORDER BY revenue DESC, l_orderkey LIMIT 10)
         |ORDER BY ALL""".stripMargin,
    "q_tpch_q5" ->
      s"""SELECT n_name, ${dsumExact(discPrice)} AS revenue
         |FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |                AND c_nationkey = s_nationkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_tpch_q10" ->
      s"""SELECT * FROM (
         |  SELECT c_custkey, c_name, c_acctbal, n_name,
         |         ${dsumExact(discPrice)} AS revenue
         |  FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation ON c_nationkey = n_nationkey
         |  WHERE l_returnflag = 'R'
         |    AND o_orderdate >= TIMESTAMP '1995-10-01'
         |    AND o_orderdate < TIMESTAMP '1996-01-01'
         |  GROUP BY 1, 2, 3, 4
         |  ORDER BY revenue DESC, c_custkey LIMIT 20)
         |ORDER BY ALL""".stripMargin,
    "q_markov" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |             event_id FROM events),
        |l AS (SELECT event_type AS from_type,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS to_type
        |      FROM e),
        |tr AS (SELECT from_type, to_type, count(*) AS n FROM l
        |       WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |        FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n, tot.tot,
        |       round(CAST(tr.n AS DOUBLE) / tot.tot, 4) AS p
        |FROM tr JOIN tot ON tr.from_type = tot.from_type
        |ORDER BY ALL""".stripMargin,
    "q_islands" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |             epoch_us(ts) // 86400000000 AS day FROM events),
        |r AS (SELECT user_id, day,
        |        row_number() OVER (PARTITION BY user_id ORDER BY day)
        |          AS rn FROM d),
        |i AS (SELECT user_id, day - rn AS grp, min(day) AS start_day,
        |        count(*) AS len
        |      FROM r GROUP BY 1, 2)
        |SELECT user_id, start_day, len FROM i
        |WHERE len >= 7 ORDER BY ALL""".stripMargin,
    "q_gini" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS sp
        |  FROM orders GROUP BY 1),
        |r AS (SELECT c.c_mktsegment, s.sp,
        |        CAST(row_number() OVER (PARTITION BY c.c_mktsegment
        |          ORDER BY s.sp, s.o_custkey) AS BIGINT) AS i
        |      FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
        |g AS (SELECT c_mktsegment, count(*) AS n,
        |        CAST(sum(sp) AS BIGINT) AS tot,
        |        sum(CAST(i AS HUGEINT) * sp) AS ws
        |      FROM r GROUP BY 1)
        |SELECT c_mktsegment, n, tot,
        |       round(CAST(ws * 2 - (n + 1) * tot AS DOUBLE) /
        |             CAST(CAST(n AS HUGEINT) * tot AS DOUBLE), 6) AS gini
        |FROM g ORDER BY ALL""".stripMargin,
    "q_skyline" ->
      """WITH p AS (SELECT p_partkey, p_size,
        |             CAST(round(p_retailprice * 100) AS BIGINT) AS pc
        |           FROM part),
        |w AS (SELECT *,
        |        max(p_size) OVER (ORDER BY pc
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS m_lt,
        |        max(p_size) OVER (PARTITION BY pc) AS m_eq
        |      FROM p)
        |SELECT p_partkey, pc, p_size FROM w
        |WHERE (m_lt IS NULL OR p_size > m_lt) AND p_size = m_eq
        |ORDER BY ALL""".stripMargin,
    "q_split_manifest" ->
      """WITH d AS (SELECT *,
        |    substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2)
        |      AS h2 FROM documents),
        |s AS (SELECT *,
        |    CASE WHEN h2 < '1a' THEN 'val'
        |         WHEN h2 < '34' THEN 'test' ELSE 'train' END AS split,
        |    len(list_filter(string_split(lower(text), ' '),
        |        x -> x <> '')) AS n_toks
        |  FROM d)
        |SELECT split, lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS tot_chars,
        |       CAST(sum(n_toks) AS BIGINT) AS tot_toks,
        |       count(DISTINCT source) AS n_sources
        |FROM s GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_pagerank" ->
      """WITH base AS (SELECT DISTINCT o_custkey * 2 AS c,
        |                l_suppkey * 2 + 1 AS sp
        |              FROM lineitem JOIN orders
        |                ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, sp AS dst FROM base
        |          UNION ALL SELECT sp AS src, c AS dst FROM base),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r
        |       FROM deg),
        |i1 AS (SELECT e.dst AS node,
        |         CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT)
        |           AS r
        |       FROM edges e JOIN r0 r ON e.src = r.node
        |                    JOIN deg d ON e.src = d.src
        |       GROUP BY 1),
        |i2 AS (SELECT e.dst AS node,
        |         CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT)
        |           AS r
        |       FROM edges e JOIN i1 r ON e.src = r.node
        |                    JOIN deg d ON e.src = d.src
        |       GROUP BY 1)
        |SELECT n.node, n.node % 2 = 1 AS is_supp, d.deg, n.r
        |FROM i2 n JOIN deg d ON n.node = d.src
        |ORDER BY ALL""".stripMargin,

    // ---- §2.20 round-6 curation / warehouse extensions ----
    // Same dirty-form derivation as the Spark side; DuckDB's
    // regexp_replace needs the 'g' flag to match Spark's global default.
    "q_pii_redact" ->
      """WITH d AS (
        |  SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' ||
        |      source || '.net tel +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        |  FROM documents),
        |r AS (
        |  SELECT source, raw,
        |    len(regexp_extract_all(raw,
        |        '[a-z0-9.]+@[a-z0-9.]+\.(com|net|org)')) AS n_emails,
        |    len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS n_phones,
        |    regexp_replace(regexp_replace(raw,
        |        '[a-z0-9.]+@[a-z0-9.]+\.(com|net|org)', '<EMAIL>', 'g'),
        |      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS red
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_emails) AS BIGINT) AS emails_redacted,
        |       CAST(sum(n_phones) AS BIGINT) AS phones_redacted,
        |       CAST(sum(length(raw) - length(red)) AS BIGINT)
        |         AS chars_removed
        |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_url_extract" ->
      """WITH u AS (
        |  SELECT lang,
        |    'https://' || source || '.example.com/' || lang || '/doc/' ||
        |      CAST(doc_id AS VARCHAR) || '?ref=' ||
        |      CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |    regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
        |    CAST(regexp_extract(url, 'ref=([0-9]+)', 1) AS BIGINT) AS ref
        |  FROM u)
        |SELECT host, count(*) AS n_urls, count(DISTINCT lang) AS n_langs,
        |       max(CAST(length(path) - length(replace(path, '/', ''))
        |                AS BIGINT)) AS max_depth,
        |       CAST(sum(ref) AS BIGINT) AS sum_ref
        |FROM p GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_text_normalize" ->
      """WITH d AS (
        |  SELECT lang,
        |    '  ' || upper(text) || ' !!! ' || text || '??  ' AS raw
        |  FROM documents),
        |n AS (
        |  SELECT lang, raw,
        |    trim(regexp_replace(regexp_replace(lower(raw),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM d)
        |SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT norm) AS n_distinct_norm,
        |       CAST(sum(length(raw)) AS BIGINT) AS chars_raw,
        |       CAST(sum(length(norm)) AS BIGINT) AS chars_norm
        |FROM n GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_sample_reservoir" ->
      """SELECT lang, rk, doc_id, source FROM (
        |  SELECT lang, doc_id, source,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      md5(CAST(doc_id AS VARCHAR) || ':rsv'), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY ALL""".stripMargin,
    // All-pairs mirror of the prefix-filtered join: prefix filtering is
    // lossless, so the straight inverted-index + exact-threshold SQL is
    // the same bag of rows.
    "q_jaccard_prefix" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |       round(common * 1.0 / (sa.nt + sb.nt - common), 4) AS jacc
        |FROM pr JOIN sz sa ON a_id = sa.doc_id
        |        JOIN sz sb ON b_id = sb.doc_id
        |WHERE common * 19 >= (sa.nt + sb.nt) * 9 ORDER BY ALL""".stripMargin,
    "q_triangle_count" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |e AS (SELECT DISTINCT a.token AS ta, b.token AS tb
        |      FROM dt a JOIN dt b
        |      ON a.doc_id = b.doc_id AND a.token < b.token),
        |tri AS (SELECT e1.ta AS a, e1.tb AS b, e2.tb AS c
        |        FROM e e1 JOIN e e2 ON e1.tb = e2.ta
        |                  JOIN e e3 ON e3.ta = e1.ta AND e3.tb = e2.tb)
        |SELECT token, count(*) AS n_triangles FROM (
        |  SELECT a AS token FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    // Identical div/mod bit arithmetic as the Spark side (// is DuckDB's
    // integer division).
    "q_zorder" ->
      """SELECT p_partkey, zx, zy,
        |  ((zx // 1) % 2) * 1 + ((zy // 1) % 2) * 2 +
        |  ((zx // 2) % 2) * 4 + ((zy // 2) % 2) * 8 +
        |  ((zx // 4) % 2) * 16 + ((zy // 4) % 2) * 32 +
        |  ((zx // 8) % 2) * 64 + ((zy // 8) % 2) * 128 +
        |  ((zx // 16) % 2) * 256 + ((zy // 16) % 2) * 512 +
        |  ((zx // 32) % 2) * 1024 + ((zy // 32) % 2) * 2048 AS zkey
        |FROM (SELECT p_partkey, CAST(p_size % 64 AS BIGINT) AS zx,
        |             CAST(p_partkey % 64 AS BIGINT) AS zy
        |      FROM part WHERE p_partkey <= 256)
        |ORDER BY ALL""".stripMargin,
    "q_scd2" ->
      """WITH o AS (
        |  SELECT o_custkey AS custkey, o_orderkey,
        |         o_orderpriority AS prio,
        |         epoch_us(o_orderdate) // 86400000000 AS day
        |  FROM orders),
        |c AS (
        |  SELECT *, lag(prio) OVER w AS prev
        |  FROM o WINDOW w AS (PARTITION BY custkey
        |                      ORDER BY day, o_orderkey)),
        |ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> prio)
        |SELECT custkey, prio, day AS valid_from,
        |       lead(day) OVER (PARTITION BY custkey
        |                       ORDER BY day, o_orderkey) AS valid_to
        |FROM ch ORDER BY ALL""".stripMargin,
    "q_cdc_diff" ->
      s"""WITH snap_a AS (
         |  SELECT o_custkey, count(*) AS old_n,
         |         arg_max(o_orderpriority,
         |           (epoch_us(o_orderdate) // 86400000000) * 8589934592 +
         |             o_orderkey) AS old_prio,
         |         ${dsum("o_totalprice")} AS old_total
         |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
         |  GROUP BY 1),
         |snap_b AS (
         |  SELECT o_custkey, count(*) AS new_n,
         |         arg_max(o_orderpriority,
         |           (epoch_us(o_orderdate) // 86400000000) * 8589934592 +
         |             o_orderkey) AS new_prio,
         |         ${dsum("o_totalprice")} AS new_total
         |  FROM orders GROUP BY 1),
         |d AS (
         |  SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
         |         CASE WHEN a.o_custkey IS NULL THEN 'insert'
         |              WHEN b.o_custkey IS NULL THEN 'delete'
         |              WHEN a.old_n <> b.new_n OR a.old_prio <> b.new_prio
         |                THEN 'update'
         |              ELSE 'unchanged' END AS op,
         |         a.old_n, b.new_n, a.old_prio, b.new_prio,
         |         a.old_total, b.new_total
         |  FROM snap_a a FULL OUTER JOIN snap_b b
         |    ON a.o_custkey = b.o_custkey)
         |SELECT * FROM d WHERE op <> 'unchanged' ORDER BY ALL""".stripMargin,
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         count(*) AS n, round(sum(value), 4) AS v
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(min(day), max(day)))
        |           AS day
        |  FROM daily GROUP BY event_type)
        |SELECT s.event_type, s.day,
        |       CAST(coalesce(d.n, 0) AS BIGINT) AS n,
        |       last_value(d.v IGNORE NULLS) OVER (
        |         PARTITION BY s.event_type ORDER BY s.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS filled,
        |       d.n IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily d
        |  ON s.event_type = d.event_type AND s.day = d.day
        |ORDER BY ALL""".stripMargin,
    "q_winsorize" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |c AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = (5 * n + 99) // 100 THEN value END) AS lo,
        |    max(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT r.event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_lo,
        |       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_hi,
        |       round(avg(value), 4) AS mean_raw,
        |       round(avg(greatest(lo, least(hi, value))), 4) AS mean_winsor
        |FROM r JOIN c ON r.event_type = c.event_type
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
        |  FROM events),
        |w AS (
        |  SELECT *, last_value(
        |      CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM e)
        |SELECT coalesce(touch, 'none') AS channel,
        |       count(*) AS n_purchases,
        |       round(sum(value), 4) AS sum_value
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_random_projection" ->
      """WITH signs AS (
        |  SELECT d.d, l.lane,
        |    CASE WHEN substring(md5(CAST(d.d AS VARCHAR) || ':' ||
        |             CAST(l.lane AS VARCHAR)), 1, 1)
        |         IN ('0','2','4','6','8','a','c','e')
        |         THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(generate_series(0, 7)) AS d) d,
        |       (SELECT unnest(generate_series(0, 63)) AS lane) l),
        |lanes AS (
        |  SELECT vec_id,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
        |           AS lane,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
        |              AS BIGINT) AS q
        |  FROM embeddings WHERE vec_id < 200)
        |SELECT vec_id, CAST(s.d AS BIGINT) AS d,
        |       CAST(sum(s.sg * lanes.q) AS BIGINT) AS proj
        |FROM lanes JOIN signs s ON lanes.lane = s.lane
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    // Bloom probe positions: word = md5 nibble 1, bit = (nib2·16+nib3)%63,
    // one md5 per (key, lane j∈0..2) — the Spark twin uses conv(hex,16,10),
    // DuckDB reconstructs the nibble with strpos over the hex alphabet.
    "q_bloom_join" ->
      s"""WITH build AS (
        |  SELECT DISTINCT s_suppkey AS key
        |  FROM supplier, nation, region
        |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE'),
        |lanes(j) AS (VALUES (0), (1), (2)),
        |bp AS (
        |  SELECT key, md5(CAST(key AS VARCHAR) || ':' || CAST(j AS VARCHAR))
        |    AS h FROM build, lanes),
        |bw AS (
        |  SELECT ${nibSql("h", 1)} AS word,
        |         ((${nibSql("h", 2)}) * 16 + ${nibSql("h", 3)}) % 63 AS bit
        |  FROM bp),
        |bloom AS (
        |  SELECT word, bit_or(1::BIGINT << CAST(bit AS INT)) AS mask
        |  FROM bw GROUP BY word),
        |probe AS (SELECT DISTINCT l_suppkey AS key FROM lineitem),
        |pp AS (
        |  SELECT key, md5(CAST(key AS VARCHAR) || ':' || CAST(j AS VARCHAR))
        |    AS h FROM probe, lanes),
        |pw AS (
        |  SELECT key, ${nibSql("h", 1)} AS word,
        |         ((${nibSql("h", 2)}) * 16 + ${nibSql("h", 3)}) % 63 AS bit
        |  FROM pp),
        |hits AS (
        |  SELECT key, CASE WHEN mask IS NOT NULL
        |      AND (mask & (1::BIGINT << CAST(bit AS INT))) <> 0
        |    THEN 1 ELSE 0 END AS hit
        |  FROM pw LEFT JOIN bloom USING (word)),
        |flags AS (SELECT key, sum(hit) = 3 AS pass FROM hits GROUP BY key),
        |graded AS (
        |  SELECT CASE
        |      WHEN pass AND build.key IS NOT NULL THEN 'true_pos'
        |      WHEN pass THEN 'false_pos'
        |      WHEN build.key IS NOT NULL THEN 'false_neg'
        |      ELSE 'true_neg' END AS verdict
        |  FROM flags LEFT JOIN build ON flags.key = build.key)
        |SELECT verdict, count(*) AS n_keys FROM graded
        |GROUP BY verdict ORDER BY ALL""".stripMargin,
    // Checksum words: 24-bit values from md5 hex nibbles 1-6 / 7-12 of
    // the canonical row rendering, summed per table (order-independent).
    "q_table_checksum" -> {
      def word(at: Int): String =
        (0 until 6).map { k =>
          val pow = 1L << (4 * (5 - k))
          s"(${nibSql("h", at + k)}) * $pow"
        }.mkString(" + ")
      def one(tbl: String, canon: String): String =
        s"""SELECT '$tbl' AS table_name, count(*) AS n_rows,
           |  CAST(sum(${word(1)}) AS BIGINT) AS cs1,
           |  CAST(sum(${word(7)}) AS BIGINT) AS cs2
           |FROM (SELECT md5($canon) AS h FROM $tbl)""".stripMargin
      val orders = "CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || " +
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '|' || " +
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' || o_orderpriority"
      val customer = "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || " +
        "c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR) || '|' || " +
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)"
      val nation = "CAST(n_nationkey AS VARCHAR) || '|' || n_name || '|' || " +
        "CAST(n_regionkey AS VARCHAR)"
      s"""SELECT * FROM (
         |${one("orders", orders)}
         |UNION ALL
         |${one("customer", customer)}
         |UNION ALL
         |${one("nation", nation)}
         |) ORDER BY ALL""".stripMargin
    },
    "q_doc_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE lang = 'en'),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |v AS (
        |  SELECT count(DISTINCT w) AS v
        |  FROM (SELECT unnest(toks) AS w FROM t) WHERE w <> ''),
        |sc AS (
        |  SELECT bg.doc_id,
        |         -ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS nll
        |  FROM bg, c2, c1, v
        |  WHERE bg.doc_id < 100 AND bg.w1 = c2.w1 AND bg.w2 = c2.w2
        |    AND bg.w1 = c1.w1)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS nll
        |FROM sc GROUP BY 1 ORDER BY ALL""".stripMargin,
    // All-pairs mirror is valid because the pigeonhole blocking is
    // lossless for distance ≤ 1 on equal-length names (one substitution
    // cannot touch both disjoint digit segments).
    "q_entity_match" ->
      """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS d
        |FROM customer a, customer b
        |WHERE a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
        |  AND a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY ALL""".stripMargin,
    "q_brand_affinity" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem, part WHERE l_partkey = p_partkey),
        |tot AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
        |marg AS (SELECT brand, count(*) AS nm FROM ob GROUP BY brand),
        |pairs AS (
        |  SELECT x.brand AS brand_a, y.brand AS brand_b, count(*) AS sup
        |  FROM ob x, ob y
        |  WHERE x.okey = y.okey AND x.brand < y.brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, CAST(sup AS BIGINT) AS sup,
        |       CAST(a.nm AS BIGINT) AS na, CAST(b.nm AS BIGINT) AS nb,
        |       CAST((sup * n_orders * 10000) // (a.nm * b.nm) AS BIGINT)
        |         AS lift_bp
        |FROM pairs, marg a, marg b, tot
        |WHERE pairs.brand_a = a.brand AND pairs.brand_b = b.brand
        |  AND sup * 100 >= n_orders
        |ORDER BY ALL""".stripMargin,

    // ---- §2.21 round-7 quality / analytics extensions ----------------
    "q_code_detect" ->
      """WITH d AS (
        |  SELECT source,
        |    text || CASE WHEN doc_id % 3 = 0
        |                 THEN ' if (x) { y[0] = x; return y; }'
        |                 WHEN doc_id % 3 = 1 THEN ' and so it goes.'
        |                 ELSE '' END AS raw
        |  FROM documents),
        |m AS (
        |  SELECT source, length(raw) AS n,
        |    length(raw) -
        |      length(regexp_replace(raw, '[{}\[\]();=]', '', 'g'))
        |      AS punct
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN punct * 50 >= n THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_code,
        |       CAST(sum(punct) AS BIGINT) AS punct_chars,
        |       CAST(sum(n) AS BIGINT) AS total_chars
        |FROM m GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_filter_cascade" ->
      """WITH d AS (
        |  SELECT source, n_chars,
        |    len(string_split(text, ' ')) AS all_toks,
        |    len(list_distinct(list_filter(string_split(lower(text), ' '),
        |                                  x -> x <> ''))) AS uniq
        |  FROM documents),
        |staged AS (
        |  SELECT source,
        |    CASE WHEN n_chars < 40 THEN 'len'
        |         WHEN all_toks < 8 THEN 'tokens'
        |         WHEN uniq * 2 < all_toks THEN 'repetition'
        |         ELSE 'kept' END AS stage
        |  FROM d),
        |tot AS (SELECT source, count(*) AS n_total FROM staged GROUP BY 1)
        |SELECT s.source, stage, count(*) AS n,
        |       CAST(count(*) * 10000 // n_total AS BIGINT) AS share_bp
        |FROM staged s JOIN tot USING (source)
        |GROUP BY 1, 2, n_total ORDER BY ALL""".stripMargin,
    "q_shingle_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents WHERE lang = 'en'),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i,
        |             toks FROM t),
        |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS s
        |       FROM p),
        |fst AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) AS novel,
        |       CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |         * 10000 // count(*) AS BIGINT) AS novelty_bp
        |FROM sh JOIN fst USING (s)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_dup_ratio" ->
      """WITH bt AS (SELECT text, count(DISTINCT source) AS n_sources
        |            FROM documents GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        |       count(DISTINCT d.text) AS n_distinct,
        |       count(*) - count(DISTINCT d.text) AS dup_docs,
        |       CAST(sum(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS xsource_docs
        |FROM documents d JOIN bt ON d.text = bt.text
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_url_canonical" ->
      """WITH u AS (
        |  SELECT 'https://' || source || '.example.com/' || lang ||
        |           '/doc/' || CAST(doc_id % 50 AS VARCHAR) || '/?ref=' ||
        |           CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |c AS (
        |  SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |    regexp_replace(regexp_replace(url, '\?.*$', ''), '/$', '')
        |      AS canon
        |  FROM u)
        |SELECT host, count(*) AS n_urls,
        |       count(DISTINCT canon) AS n_canonical,
        |       count(*) - count(DISTINCT canon) AS dup_urls
        |FROM c GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour, value,
        |    row_number() OVER (PARTITION BY event_type,
        |      epoch_us(ts) // 3600000000 ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type,
        |      epoch_us(ts) // 3600000000 ORDER BY ts DESC, event_id DESC)
        |      AS rd
        |  FROM events)
        |SELECT event_type, hour,
        |       round(max(CASE WHEN ra = 1 THEN value END), 4) AS open,
        |       round(max(value), 4) AS high,
        |       round(min(value), 4) AS low,
        |       round(max(CASE WHEN rd = 1 THEN value END), 4) AS close,
        |       count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_rank_corr" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS segment, o_orderkey, c_acctbal,
        |         o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT segment,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY c_acctbal, o_orderkey) AS rx,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY o_totalprice, o_orderkey) AS ry
        |  FROM j)
        |SELECT segment, count(*) AS n,
        |       CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
        |       CAST(10000 - (60000 * sum((rx - ry) * (rx - ry)))
        |         // (count(*) * (count(*) * count(*) - 1)) AS BIGINT)
        |         AS rho_bp
        |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_cluster_cohesion" ->
      """WITH lanes AS (
        |  SELECT label, vec_id,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS lane,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
        |      AS BIGINT) AS q
        |  FROM embeddings),
        |cent AS (SELECT label, lane,
        |           CAST(floor(sum(q) / count(*)) AS BIGINT) AS c
        |         FROM lanes GROUP BY 1, 2),
        |dist AS (
        |  SELECT label, vec_id,
        |    CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
        |  FROM lanes JOIN cent USING (label, lane)
        |  GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |       CAST(sum(d2) // count(*) AS BIGINT) AS avg_d2,
        |       max(d2) AS max_d2
        |FROM dist GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.22 round-7 corpus-construction / operational analytics ----
    "q_line_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |ix AS (
        |  SELECT doc_id, source, toks,
        |         unnest(generate_series(0,
        |           CAST((len(toks) - 1) // 5 AS BIGINT))) AS line_idx
        |  FROM tk),
        |lines AS (
        |  SELECT doc_id, source, line_idx,
        |         array_to_string(toks[line_idx*5+1 : line_idx*5+5], ' ')
        |           AS line
        |  FROM ix),
        |k AS (SELECT source, line,
        |        doc_id * 4294967296 + line_idx AS okey
        |      FROM lines),
        |f AS (SELECT line, min(okey) AS first_key FROM k GROUP BY 1)
        |SELECT k.source, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN k.okey = f.first_key THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN k.okey = f.first_key THEN 0 ELSE 1 END)
        |         AS BIGINT) AS n_removed,
        |       count(DISTINCT k.line) AS n_distinct
        |FROM k JOIN f USING (line) GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_bpe_pairs" ->
      """WITH tk AS (
        |  SELECT string_split(lower(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |ix AS (
        |  SELECT toks, unnest(generate_series(1,
        |           CAST(len(toks) - 1 AS BIGINT))) AS i
        |  FROM tk),
        |pairs AS (SELECT toks[i] || ' ' || toks[i+1] AS pair FROM ix)
        |SELECT * FROM (
        |  SELECT pair, count(*) AS cnt FROM pairs GROUP BY 1
        |  ORDER BY cnt DESC, pair LIMIT 50) ORDER BY ALL""".stripMargin,
    "q_inverted_index" ->
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |p AS (SELECT DISTINCT doc_id, token FROM ex WHERE token <> ''),
        |r AS (SELECT token, doc_id,
        |        row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |      FROM p),
        |caps AS (
        |  SELECT token, string_agg(CAST(doc_id AS VARCHAR), ','
        |    ORDER BY doc_id) AS postings
        |  FROM r WHERE rn <= 10 GROUP BY 1),
        |a AS (SELECT token, count(*) AS df, min(doc_id) AS first_doc,
        |        max(doc_id) AS last_doc
        |      FROM p GROUP BY 1)
        |SELECT a.token, a.df, a.first_doc, a.last_doc, caps.postings
        |FROM a JOIN caps USING (token) ORDER BY ALL""".stripMargin,
    "q_token_budget" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total_toks,
        |               count(*) AS n_sources FROM per)
        |SELECT source, n_docs, toks,
        |       toks * 10000 // total_toks AS share_bp,
        |       (total_toks // n_sources) * 10000 // toks AS epochs_bp
        |FROM per, tot ORDER BY ALL""".stripMargin,
    "q_compaction_plan" ->
      """WITH f AS (
        |  SELECT o_orderpriority AS pri, o_orderkey AS fid,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS bytes
        |  FROM orders),
        |c AS (
        |  SELECT pri, fid, bytes,
        |         coalesce(sum(bytes) OVER (PARTITION BY pri ORDER BY fid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_before
        |  FROM f)
        |SELECT pri, CAST(cum_before // 1000000000 AS BIGINT) AS bucket,
        |       count(*) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       min(fid) AS first_file, max(fid) AS last_file
        |FROM c GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type, epoch_us(ts) -
        |         lag(epoch_us(ts), 1) OVER (PARTITION BY event_type
        |           ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |r AS (
        |  SELECT event_type, gap_us,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap_us)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap_us IS NOT NULL)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
        |  CAST(sum(CASE
        |    WHEN rn - 1 = (50 * (n - 1)) // 100
        |      THEN gap_us * (100 - (50 * (n - 1)) % 100)
        |    WHEN rn - 1 = (50 * (n - 1)) // 100 + 1
        |      THEN gap_us * ((50 * (n - 1)) % 100)
        |    ELSE 0 END) AS BIGINT) AS p50_x100,
        |  CAST(sum(CASE
        |    WHEN rn - 1 = (95 * (n - 1)) // 100
        |      THEN gap_us * (100 - (95 * (n - 1)) % 100)
        |    WHEN rn - 1 = (95 * (n - 1)) // 100 + 1
        |      THEN gap_us * ((95 * (n - 1)) % 100)
        |    ELSE 0 END) AS BIGINT) AS p95_x100,
        |  CAST(sum(CASE
        |    WHEN rn - 1 = (99 * (n - 1)) // 100
        |      THEN gap_us * (100 - (99 * (n - 1)) % 100)
        |    WHEN rn - 1 = (99 * (n - 1)) // 100 + 1
        |      THEN gap_us * ((99 * (n - 1)) % 100)
        |    ELSE 0 END) AS BIGINT) AS p99_x100,
        |  max(gap_us) AS max_us
        |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_hist2d" ->
      s"""SELECT CAST((CAST(l_quantity AS BIGINT) - 1) // 5 AS BIGINT)
         |         AS qbin,
         |       CAST(round(l_discount * 100) AS BIGINT) AS dbin,
         |       count(*) AS n, ${dsum("l_extendedprice")} AS revenue
         |FROM lineitem GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_abtest" ->
      """WITH m AS (
        |  SELECT event_type,
        |    ts < TIMESTAMP '2024-01-16 00:00:00' AS pre,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |a AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n_post,
        |    CAST(sum(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT)
        |      AS sx_pre,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT)
        |      AS sx_post,
        |    CAST(sum(CASE WHEN pre THEN cents * cents ELSE 0 END) AS BIGINT)
        |      AS sxx_pre,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE cents * cents END) AS BIGINT)
        |      AS sxx_post
        |  FROM m GROUP BY 1)
        |SELECT event_type, n_pre, n_post,
        |  round(CAST(sx_pre AS DOUBLE) / n_pre / 100.0, 4) AS mean_pre,
        |  round(CAST(sx_post AS DOUBLE) / n_post / 100.0, 4) AS mean_post,
        |  round(
        |    (CAST(sx_pre AS DOUBLE) / n_pre / 100.0
        |       - CAST(sx_post AS DOUBLE) / n_post / 100.0)
        |    / sqrt(
        |        ((CAST(n_pre AS DOUBLE) * CAST(sxx_pre AS DOUBLE)
        |           - CAST(sx_pre AS DOUBLE) * CAST(sx_pre AS DOUBLE))
        |          / (CAST(n_pre AS DOUBLE) * (n_pre - 1)) / 10000.0) / n_pre
        |      + ((CAST(n_post AS DOUBLE) * CAST(sxx_post AS DOUBLE)
        |           - CAST(sx_post AS DOUBLE) * CAST(sx_post AS DOUBLE))
        |          / (CAST(n_post AS DOUBLE) * (n_post - 1)) / 10000.0)
        |        / n_post),
        |    3) AS welch_t
        |FROM a ORDER BY ALL""".stripMargin,
    "q_dq_audit" ->
      """WITH o AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bad_price,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |      AS dup_keys
        |  FROM orders),
        |c AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS null_bal,
        |    CAST(sum(CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'BUILDING',
        |      'FURNITURE', 'HOUSEHOLD', 'MACHINERY') THEN 0 ELSE 1 END)
        |      AS BIGINT) AS bad_seg
        |  FROM customer),
        |orph AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_orphans FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |audit AS (
        |  SELECT 'orders.o_custkey.ref_integrity' AS check_name,
        |         o.n AS n_rows, orph.n_orphans AS n_violations
        |  FROM o, orph
        |  UNION ALL
        |  SELECT 'orders.o_totalprice.positive', n, bad_price FROM o
        |  UNION ALL
        |  SELECT 'orders.o_orderkey.unique', n, dup_keys FROM o
        |  UNION ALL
        |  SELECT 'customer.c_acctbal.non_null', n, null_bal FROM c
        |  UNION ALL
        |  SELECT 'customer.c_mktsegment.domain', n, bad_seg FROM c)
        |SELECT * FROM audit ORDER BY ALL""".stripMargin,
    "q_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS y
        |  FROM events GROUP BY 1, 2),
        |offs AS (
        |  SELECT event_type,
        |         day - min(day) OVER (PARTITION BY event_type) AS x, y
        |  FROM daily),
        |m AS (
        |  SELECT event_type, count(*) AS n_days,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM offs GROUP BY 1),
        |nd AS (
        |  SELECT event_type, n_days,
        |         n_days * sxy - sx * sy AS num,
        |         n_days * sxx - sx * sx AS den
        |  FROM m)
        |SELECT event_type, n_days, num, den,
        |       CASE WHEN num >= 0 THEN (num * 10000) // den
        |            ELSE -(((-num) * 10000) // den) END AS slope_bp
        |FROM nd ORDER BY ALL""".stripMargin,
    "q_cohort" ->
      """WITH w AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
        |SELECT f.cohort_week, w.week - f.cohort_week AS week_offset,
        |       count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_skew_audit" ->
      """WITH ks AS (
        |  SELECT 'orders.o_custkey' AS key_name, count(*) AS per_key
        |  FROM orders GROUP BY o_custkey
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey', count(*) FROM lineitem
        |  GROUP BY l_partkey
        |  UNION ALL
        |  SELECT 'events.user_id', count(*) FROM events GROUP BY user_id)
        |SELECT key_name, CAST(sum(per_key) AS BIGINT) AS n_rows,
        |       count(*) AS n_keys,
        |       CAST(max(per_key) AS BIGINT) AS max_per_key,
        |       (CAST(max(per_key) AS BIGINT) * 10000)
        |         // CAST(sum(per_key) AS BIGINT) AS top1_share_bp,
        |       CAST(sum(per_key) AS BIGINT) // count(*) AS avg_per_key
        |FROM ks GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_kanon" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS k
        |  FROM customer GROUP BY 1, 2),
        |b AS (
        |  SELECT CASE WHEN k = 1 THEN '1_unique' WHEN k <= 4 THEN
        |    '2_small' WHEN k <= 9 THEN '3_medium' ELSE '4_large' END
        |    AS k_band,
        |    count(*) AS n_groups, CAST(sum(k) AS BIGINT) AS n_rows,
        |    min(k) AS min_k, max(k) AS max_k
        |  FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows FROM b)
        |SELECT k_band, n_groups, n_rows, min_k, max_k,
        |       (n_rows * 10000) // total_rows AS share_bp
        |FROM b, t ORDER BY ALL""".stripMargin,
    "q_drift" ->
      """WITH m AS (
        |  SELECT event_type,
        |    ts < TIMESTAMP '2024-01-16 00:00:00' AS pre,
        |    CAST(round(value * 100) AS BIGINT) // 1000 AS bin
        |  FROM events),
        |b AS (
        |  SELECT event_type, bin,
        |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_post
        |  FROM m GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, CAST(sum(n_pre) AS BIGINT) AS tot_pre,
        |         CAST(sum(n_post) AS BIGINT) AS tot_post
        |  FROM b GROUP BY 1),
        |s AS (
        |  SELECT b.event_type, b.bin, b.n_pre, b.n_post,
        |         (b.n_pre * 10000) // t.tot_pre AS share_pre_bp,
        |         (b.n_post * 10000) // t.tot_post AS share_post_bp
        |  FROM b JOIN t USING (event_type))
        |SELECT event_type, bin, n_pre, n_post, share_pre_bp,
        |       share_post_bp, share_post_bp - share_pre_bp AS drift_bp
        |FROM s ORDER BY ALL""".stripMargin,

    // ---- §2.23 feature-engineering / reporting ----
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |cnts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |         FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnts),
        |r AS (
        |  SELECT token, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
        |      AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cnt
        |  FROM cnts)
        |SELECT rank, token, cnt, (cum_cnt * 10000) // total AS cum_share_bp
        |FROM r, tot WHERE rank <= 20 ORDER BY ALL""".stripMargin,
    "q_rolling_median" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, day, y,
        |    list_sort(list(y) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS sorted,
        |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS wn
        |  FROM daily)
        |SELECT event_type, day, y, wn,
        |       sorted[CAST((wn + 1) // 2 AS INT)]
        |         + sorted[CAST(wn // 2 + 1 AS INT)] AS med_x2
        |FROM r ORDER BY ALL""".stripMargin,
    "q_decile_lift" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS spend
        |  FROM orders GROUP BY 1),
        |dec AS (
        |  SELECT CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey)
        |           AS BIGINT) AS decile, spend
        |  FROM spend),
        |agg AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |         CAST(sum(spend) AS BIGINT) AS cents
        |  FROM dec GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM agg),
        |cum AS (
        |  SELECT decile, n_cust, cents,
        |    CAST(sum(cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM agg)
        |SELECT decile, n_cust, cents, (cents * 10000) // total AS share_bp,
        |       (cum_cents * 10000) // total AS cum_share_bp
        |FROM cum, tot ORDER BY ALL""".stripMargin,
    "q_hist_equiheight" ->
      """WITH b AS (
        |  SELECT CAST(ntile(20) OVER (ORDER BY
        |      CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
        |      AS BIGINT) AS bucket,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |       min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM b GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |ex AS (
        |  SELECT user_id,
        |         unnest(generate_series(day, day + 6)) AS report_day
        |  FROM ud)
        |SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |FROM ex GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_weighted_sample" -> {
      // 24-bit int from the first 6 hex chars of the md5 (nibble-positional
      // sum — DuckDB has no conv(hex); twin of the Spark side's conv(..,16,10)).
      val h24 = (1 to 6).map(i =>
        s"(${nibSql("h", i)}) * ${math.pow(16, 6 - i).toLong}")
        .mkString(" + ")
      s"""WITH d AS (
         |  SELECT source, doc_id, n_chars,
         |         md5(CAST(doc_id AS VARCHAR) || ':ws') AS h
         |  FROM documents),
         |p AS (
         |  SELECT source, doc_id, n_chars,
         |         (CAST($h24 AS BIGINT) * 100000) // n_chars AS pri
         |  FROM d),
         |r AS (
         |  SELECT source, doc_id, n_chars, pri,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY pri, doc_id) AS BIGINT) AS rk
         |  FROM p)
         |SELECT source, rk, doc_id, n_chars, pri
         |FROM r WHERE rk <= 3 ORDER BY ALL""".stripMargin
    },
    "q_quantile_norm" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |r AS (
        |  SELECT event_id, event_type, cents,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e)
        |SELECT event_id, event_type, cents,
        |       ((rn - 1) * 10000) // greatest(n - 1, 1) AS qnorm_bp
        |FROM r ORDER BY ALL""".stripMargin,
    "q_tpch_q18" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |         total_qty
        |  FROM (SELECT l_orderkey,
        |          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |            AS total_qty
        |        FROM lineitem GROUP BY 1
        |        HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |          > 200) big
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN customer ON c_custkey = o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 100)
        |ORDER BY ALL""".stripMargin,

    // ---- §2.24 report twins + behavioral analytics ----
    "q_tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |       ${dsumExact(discPrice)} AS revenue
         |FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND n1.n_name <> n2.n_name
         |GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,
    "q_tpch_q14" ->
      s"""WITH m AS (
         |  SELECT CAST(month(l_shipdate) AS BIGINT) AS mo,
         |    CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPrice
         |                  ELSE CAST(0 AS DECIMAL(15,2)) END) * 10000
         |      AS BIGINT) AS promo_u,
         |    CAST(sum($discPrice) * 10000 AS BIGINT) AS total_u
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-01-01'
         |  GROUP BY 1)
         |SELECT mo, promo_u, total_u,
         |       (promo_u * 10000) // total_u AS promo_bp
         |FROM m ORDER BY ALL""".stripMargin,
    "q_tpch_q22" ->
      """WITH thr AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |         AS DOUBLE), 2) AS total_bal
        |FROM customer, thr
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_seq_pairs" ->
      """WITH f AS (
        |  SELECT user_id, event_type, min(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM f a JOIN f b ON a.user_id = b.user_id
        |WHERE a.event_type <> b.event_type
        |  AND (a.first_us < b.first_us OR
        |       (a.first_us = b.first_us AND a.event_type < b.event_type))
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_path_trigrams" ->
      """SELECT * FROM (
        |  SELECT t1 || '>' || t2 || '>' || event_type AS trigram,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT event_type,
        |      lag(event_type, 2) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS t1,
        |      lag(event_type, 1) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS t2
        |    FROM events)
        |  WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |  GROUP BY 1
        |  ORDER BY cnt DESC, trigram LIMIT 20)
        |ORDER BY ALL""".stripMargin,
    // ---- §2.25 TPC-H suite completion ----
    "q_tpch_q8" ->
      s"""WITH per AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |         n2.n_name AS supp_nation,
         |         CAST(sum($discPrice) * 10000 AS BIGINT) AS vol_u
         |  FROM lineitem
         |    JOIN part ON l_partkey = p_partkey
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |    JOIN region ON n1.n_regionkey = r_regionkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01'
         |    AND o_orderdate < TIMESTAMP '1997-01-01'
         |  GROUP BY 1, 2)
         |SELECT o_year, supp_nation, vol_u,
         |       (vol_u * 10000)
         |         // CAST(sum(vol_u) OVER (PARTITION BY o_year) AS BIGINT)
         |         AS share_bp
         |FROM per ORDER BY ALL""".stripMargin,
    "q_tpch_q9" ->
      s"""SELECT n_name AS nation,
         |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |       CAST(sum($discPrice
         |         - CAST(p_retailprice AS DECIMAL(15,2))
         |           * CAST(l_quantity AS DECIMAL(4,0))) * 10000
         |         AS BIGINT) AS profit_u
         |FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         CAST(sum($discPrice) * 10000 AS BIGINT) AS total_u
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_u
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_u = (SELECT max(total_u) FROM rev)
         |ORDER BY ALL""".stripMargin,
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,
    "q_tpch_q17" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'SMALL'),
        |pa AS (
        |  SELECT l_partkey AS pk, sum(qty) AS sum_qty,
        |         CAST(count(*) AS BIGINT) AS n_li
        |  FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS rev_cents,
        |       CAST(sum(cents) AS BIGINT) // 7 AS avg_yearly_c
        |FROM li JOIN pa ON l_partkey = pk
        |WHERE qty * 5 * n_li < sum_qty
        |ORDER BY ALL""".stripMargin,
    // ---- §2.26 ML-adjacent extensions ----
    "q_feature_hash" -> {
      val h24 = (1 to 6).map(i =>
        s"(${nibSql("h", i)}) * ${math.pow(16, 6 - i).toLong}")
        .mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, source,
         |         unnest(string_split(lower(text), ' ')) AS token
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, source, md5(token || ':fh') AS h
         |  FROM tok WHERE token <> '')
         |SELECT source, CAST($h24 AS BIGINT) % 16 AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM tk GROUP BY 1, 2 ORDER BY ALL""".stripMargin
    },
    "q_target_encode" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT CAST(sum(cents) // count(*) AS BIGINT)
        |        AS prior_cents FROM o),
        |per AS (
        |  SELECT c_mktsegment AS segment,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM o JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1)
        |SELECT segment, n_orders, sum_cents, prior_cents,
        |       CAST((sum_cents + 10 * prior_cents) // (n_orders + 10)
        |         AS BIGINT) AS enc_cents
        |FROM per, g ORDER BY ALL""".stripMargin,
    "q_chisq" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |         CAST(count(*) AS BIGINT) AS observed
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT segment, priority, observed,
        |    CAST(sum(observed) OVER (PARTITION BY segment) AS BIGINT)
        |      AS r_tot,
        |    CAST(sum(observed) OVER (PARTITION BY priority) AS BIGINT)
        |      AS c_tot,
        |    CAST(sum(observed) OVER () AS BIGINT) AS n_tot
        |  FROM cells)
        |SELECT segment, priority, observed, r_tot, c_tot, n_tot,
        |  round(CAST(observed * n_tot - r_tot * c_tot AS DOUBLE)
        |        * CAST(observed * n_tot - r_tot * c_tot AS DOUBLE)
        |        / CAST(r_tot AS DOUBLE) / CAST(c_tot AS DOUBLE)
        |        / CAST(n_tot AS DOUBLE), 4) AS chi2_contrib
        |FROM m ORDER BY ALL""".stripMargin,
    "q_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, cents,
        |    lag(cents, 1) OVER w AS x1, lag(cents, 2) OVER w AS x2,
        |    lag(cents, 3) OVER w AS x3, lag(cents, 4) OVER w AS x4,
        |    lag(cents, 5) OVER w AS x5, lag(cents, 6) OVER w AS x6
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, cents,
        |  CAST((cents * 64 + coalesce(x1, 0) * 32 + coalesce(x2, 0) * 16
        |      + coalesce(x3, 0) * 8 + coalesce(x4, 0) * 4
        |      + coalesce(x5, 0) * 2 + coalesce(x6, 0))
        |    // (64 + CASE WHEN x1 IS NULL THEN 0 ELSE 32 END
        |      + CASE WHEN x2 IS NULL THEN 0 ELSE 16 END
        |      + CASE WHEN x3 IS NULL THEN 0 ELSE 8 END
        |      + CASE WHEN x4 IS NULL THEN 0 ELSE 4 END
        |      + CASE WHEN x5 IS NULL THEN 0 ELSE 2 END
        |      + CASE WHEN x6 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS ewma_c
        |FROM l ORDER BY ALL""".stripMargin,
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM events GROUP BY 1, 2),
        |tgt AS (SELECT event_type AS et,
        |          CAST(sum(cents) // count(*) AS BIGINT) AS target_c
        |        FROM daily GROUP BY 1)
        |SELECT event_type, day, cents, target_c,
        |  CAST(sum(cents - target_c) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cusum_c
        |FROM daily JOIN tgt ON event_type = et
        |ORDER BY ALL""".stripMargin,
    "q_graph_bfs" ->
      """WITH RECURSIVE dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' '))
        |         AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |und AS (SELECT a.token AS src, b.token AS dst
        |        FROM dt a JOIN dt b
        |        ON a.doc_id = b.doc_id AND a.token < b.token
        |        GROUP BY 1, 2),
        |e AS (SELECT src, dst FROM und
        |      UNION ALL SELECT dst, src FROM und),
        |seed AS (SELECT min(token) AS token FROM dt),
        |reach(token, hops) AS (
        |  SELECT token, CAST(0 AS BIGINT) FROM seed
        |  UNION
        |  SELECT e.dst, reach.hops + 1 FROM e
        |  JOIN reach ON e.src = reach.token
        |  WHERE reach.hops < 3)
        |SELECT token, CAST(min(hops) AS BIGINT) AS hops
        |FROM reach GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_ship_latency" ->
      """WITH lat AS (
        |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate)
        |           AS BIGINT) AS ship_ym,
        |         epoch_us(l_shipdate) // 86400000000
        |           - epoch_us(o_orderdate) // 86400000000 AS lat_days,
        |         l_orderkey, l_linenumber
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |r AS (
        |  SELECT ship_ym, lat_days,
        |    CAST(row_number() OVER (PARTITION BY ship_ym
        |      ORDER BY lat_days, l_orderkey, l_linenumber) AS BIGINT)
        |      AS rn,
        |    CAST(count(*) OVER (PARTITION BY ship_ym) AS BIGINT) AS n
        |  FROM lat)
        |SELECT ship_ym, max(n) AS n,
        |  CAST(min(lat_days) AS BIGINT) AS min_days,
        |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN lat_days END)
        |     + sum(CASE WHEN rn = (n + 2) // 2 THEN lat_days END)
        |     AS BIGINT) AS med2_days,
        |  CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN lat_days END)
        |    AS BIGINT) AS p90_days,
        |  CAST(max(lat_days) AS BIGINT) AS max_days
        |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_incremental_agg" ->
      """SELECT o_orderstatus AS status,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |    AS ym,
        |  CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |  CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents_total,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_orderkey
        |FROM orders GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    // ---- §2.27 storage/BI/audit staples ----
    "q_zone_map" ->
      """SELECT o_orderkey // 256 AS block,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
        |    AS min_day,
        |  CAST(max(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
        |    AS max_day,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS min_cents,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS max_cents
        |FROM orders GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_sim_histogram" ->
      """WITH p AS (SELECT vec_id AS a_id, embedding AS ea
        |           FROM embeddings WHERE vec_id < 200),
        |q AS (SELECT vec_id AS b_id, embedding AS eb
        |      FROM embeddings WHERE vec_id < 200),
        |s AS (SELECT a_id, b_id,
        |        list_sum(list_transform(generate_series(1, 64), i ->
        |          CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))) AS dot,
        |        list_sum(list_transform(generate_series(1, 64), i ->
        |          CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))) AS na2,
        |        list_sum(list_transform(generate_series(1, 64), i ->
        |          CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))) AS nb2
        |      FROM p, q WHERE a_id < b_id),
        |c AS (SELECT dot / sqrt(na2 * nb2) AS cos FROM s)
        |SELECT CAST(floor(cos * 10) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(min(cos), 4) + 0.0 AS min_cos,
        |       round(max(cos), 4) + 0.0 AS max_cos
        |FROM c GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_cv_folds" -> {
      val h24 = (1 to 6).map(i =>
        s"(${nibSql("h", i)}) * ${math.pow(16, 6 - i).toLong}")
        .mkString(" + ")
      s"""WITH f AS (
         |  SELECT c_custkey, CAST($h24 AS BIGINT) % 5 AS fold
         |  FROM (SELECT c_custkey,
         |          md5(CAST(c_custkey AS VARCHAR) || ':cv') AS h
         |        FROM customer)),
         |o AS (SELECT o_custkey,
         |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |      FROM orders),
         |per AS (
         |  SELECT fold, CAST(count(DISTINCT c_custkey) AS BIGINT)
         |           AS n_cust,
         |         CAST(count(*) AS BIGINT) AS n_orders,
         |         CAST(sum(cents) AS BIGINT) AS sum_cents
         |  FROM o JOIN f ON o_custkey = c_custkey GROUP BY 1),
         |t AS (SELECT CAST(sum(sum_cents) AS BIGINT) AS total_cents
         |      FROM per)
         |SELECT fold, n_cust, n_orders, sum_cents,
         |       (sum_cents * 10000) // total_cents AS share_bp
         |FROM per, t ORDER BY ALL""".stripMargin
    },
    "q_ctr_wilson" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN value > 200.0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS k
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, k, (k * 10000) // n AS ctr_bp,
        |  round(
        |    (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |       + 3.8416 / (2.0 * CAST(n AS DOUBLE))
        |       - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |           * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |           + 3.8416 / (4.0 * CAST(n AS DOUBLE)))
        |         / CAST(n AS DOUBLE)))
        |    / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 4) AS wilson_lo
        |FROM g ORDER BY ALL""".stripMargin,
    "q_pareto" ->
      """WITH per AS (
        |  SELECT c_nationkey, c_custkey, CAST(sum(
        |    CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT c_nationkey, cents,
        |    CAST(coalesce(sum(cents) OVER (PARTITION BY c_nationkey
        |      ORDER BY cents DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before,
        |    CAST(sum(cents) OVER (PARTITION BY c_nationkey) AS BIGINT)
        |      AS total
        |  FROM per),
        |agg AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |         max(total) AS total_cents,
        |         CAST(sum(CASE WHEN cum_before * 5 < total * 4
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
        |         CAST(sum(CASE WHEN cum_before * 5 < total * 4
        |           THEN cents ELSE 0 END) AS BIGINT) AS top_cents
        |  FROM m GROUP BY 1)
        |SELECT n_name, n_cust, total_cents, n_top,
        |       (top_cents * 10000) // total_cents AS top_share_bp
        |FROM agg JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY ALL""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(substring(CAST(CAST(round(o_totalprice * 100)
        |           AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |g AS (SELECT status, digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1, 2)
        |SELECT status, digit, n,
        |       (n * 10000) // CAST(sum(n) OVER (PARTITION BY status)
        |         AS BIGINT) AS share_bp
        |FROM g ORDER BY ALL""".stripMargin,
    // ---- §2.29 BI staples ----
    "q_share_of_parent" ->
      """WITH per AS (
        |  SELECT r_name AS region, n_name AS nation,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT region, nation, cents,
        |  (cents * 10000) // CAST(sum(cents) OVER (PARTITION BY region)
        |    AS BIGINT) AS nation_share_bp,
        |  (CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT) * 10000)
        |    // CAST(sum(cents) OVER () AS BIGINT) AS region_share_bp
        |FROM per ORDER BY ALL""".stripMargin,
    "q_moving_extrema" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cents,
        |  CAST(min(cents) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS roll_min,
        |  CAST(max(cents) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS roll_max
        |FROM daily ORDER BY ALL""".stripMargin,
    "q_percent_change" ->
      """WITH weekly AS (
        |  SELECT event_type, epoch_us(ts) // 604800000000 AS week,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, week, cents,
        |    lag(cents, 1) OVER (PARTITION BY event_type ORDER BY week)
        |      AS prev_cents
        |  FROM weekly)
        |SELECT event_type, week, cents, prev_cents,
        |  cents - prev_cents AS delta_cents,
        |  CASE WHEN prev_cents IS NULL THEN NULL
        |       WHEN cents >= prev_cents
        |         THEN ((cents - prev_cents) * 10000) // prev_cents
        |       ELSE -(((prev_cents - cents) * 10000) // prev_cents)
        |  END AS delta_bp
        |FROM l ORDER BY ALL""".stripMargin,
    // ---- §2.28 text/growth staples ----
    "q_containment" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' '))
        |         AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
        |       FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(count(*) AS BIGINT) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |dir AS (SELECT a_id AS d, common FROM pr
        |        UNION ALL SELECT b_id, common FROM pr),
        |per AS (
        |  SELECT d,
        |    CAST(sum(CASE WHEN common * 10 >= nt * 9 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_containers,
        |    CAST(max((common * 10000) // nt) AS BIGINT) AS best_bp
        |  FROM dir JOIN sz ON d = doc_id GROUP BY 1)
        |SELECT sz.doc_id, sz.nt,
        |       CAST(coalesce(n_containers, 0) AS BIGINT) AS n_containers,
        |       CAST(coalesce(best_bp, 0) AS BIGINT) AS best_bp
        |FROM sz LEFT JOIN per ON sz.doc_id = per.d
        |ORDER BY ALL""".stripMargin,
    "q_window_cooccur" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
        |         generate_subscripts(string_split(lower(text), ' '), 1)
        |           AS ord
        |  FROM documents WHERE lang = 'en'),
        |pr AS (
        |  SELECT least(x.tok, y.tok) AS a, greatest(x.tok, y.tok) AS b
        |  FROM p x JOIN p y ON x.doc_id = y.doc_id
        |    AND y.ord - x.ord BETWEEN 1 AND 2),
        |g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
        |      FROM pr GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT a, b, cnt FROM g ORDER BY cnt DESC, a, b LIMIT 30)
        |ORDER BY ALL""".stripMargin,
    "q_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |              epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS fd FROM uw GROUP BY 1),
        |p AS (SELECT user_id, day + 1 AS day FROM uw),
        |act AS (
        |  SELECT uw.day,
        |    CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN uw.day = f.fd THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN uw.day <> f.fd AND p.user_id IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM uw JOIN f USING (user_id)
        |    LEFT JOIN p ON uw.user_id = p.user_id AND uw.day = p.day
        |  GROUP BY 1),
        |ch AS (
        |  SELECT p.day, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM p LEFT JOIN uw
        |    ON p.user_id = uw.user_id AND p.day = uw.day
        |  WHERE uw.user_id IS NULL GROUP BY 1)
        |SELECT act.day, n_active, n_new, n_retained, n_resurrected,
        |       CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
        |FROM act LEFT JOIN ch ON act.day = ch.day
        |ORDER BY ALL""".stripMargin,
    "q_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT event_type, (day + 3) % 7 AS dow,
        |         CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(cents) AS BIGINT) AS dow_cents
        |  FROM daily GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type AS et, CAST(count(*) AS BIGINT) AS tot_days,
        |         CAST(sum(cents) AS BIGINT) AS tot_cents
        |  FROM daily GROUP BY 1)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow, n_days, dow_cents,
        |       (dow_cents * tot_days * 10000) // (tot_cents * n_days)
        |         AS idx_bp
        |FROM dw JOIN t ON event_type = et ORDER BY ALL""".stripMargin,
    "q_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, max(epoch_us(o_orderdate) // 86400000000)
        |           AS last_day,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(last_day) AS max_day FROM per),
        |scored AS (
        |  SELECT per.*, mx.max_day - per.last_day AS recency,
        |    CAST(ntile(5) OVER (ORDER BY mx.max_day - per.last_day,
        |      o_custkey) AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT)
        |      AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
        |      AS m_score
        |  FROM per, mx)
        |SELECT r_score, f_score, m_score,
        |       CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM scored GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,
    // ---- §2.32 round-8 warehouse/stream audits + tokenizer ----
    "q_fk_orphans" -> {
      def audit(rel: String, child: String, key: String,
          parent: String, pkey: String): String =
        s"""SELECT '$rel' AS rel,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_child,
           |  (SELECT CAST(count(DISTINCT $key) AS BIGINT) FROM $child)
           |    AS n_child_keys,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $parent) AS n_parent,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
           |   WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |                     WHERE p.$pkey = c.$key)) AS n_orphans""".stripMargin
      Seq(
        audit("lineitem.orderkey", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        audit("lineitem.partkey", "lineitem", "l_partkey",
          "part", "p_partkey"),
        audit("lineitem.suppkey", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        audit("orders.custkey", "orders", "o_custkey",
          "customer", "c_custkey"),
        audit("customer.nationkey", "customer", "c_nationkey",
          "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY ALL")
    },
    "q_late_events" ->
      """WITH e AS (SELECT event_type, event_id,
        |             md5(CAST(event_id AS VARCHAR)) AS arrival,
        |             epoch_us(ts) AS us
        |           FROM events),
        |l AS (SELECT event_type,
        |        greatest(coalesce(max(us) OVER (PARTITION BY event_type
        |          ORDER BY arrival, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - us, 0), 0) AS late_us
        |      FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_late,
        |       CAST(max(late_us) AS BIGINT) AS max_late_us,
        |       CAST(sum(late_us) AS BIGINT) AS sum_late_us
        |FROM l GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |su AS (SELECT user_id, min(us) AS s_us FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |conv AS (SELECT e.user_id, min(us - s_us) AS delay_us
        |         FROM e JOIN su USING (user_id)
        |         WHERE event_type = 'purchase' AND us >= s_us
        |         GROUP BY 1)
        |SELECT CAST(delay_us // 86400000000 AS BIGINT) AS day_bucket,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(min(delay_us) AS BIGINT) AS min_delay_us,
        |       CAST(max(delay_us) AS BIGINT) AS max_delay_us
        |FROM conv GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_prefix_compress" ->
      """WITH o AS (SELECT source, doc_id, text,
        |             lag(text) OVER (PARTITION BY source
        |                             ORDER BY text, doc_id) AS prev
        |           FROM documents),
        |c AS (SELECT source, text,
        |        CASE WHEN prev IS NULL THEN 0
        |             ELSE len(list_filter(generate_series(1,
        |                    least(length(text), length(prev))),
        |                    i -> substring(text, 1, i)
        |                         = substring(prev, 1, i))) END AS cpl
        |      FROM o)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       CAST(sum(cpl) AS BIGINT) AS saved_chars,
        |       CAST(sum(cpl) * 10000 // sum(length(text)) AS BIGINT)
        |         AS ratio_bp
        |FROM c GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_bpe_apply" ->
      """WITH docs AS (
        |  SELECT array_to_string(list_filter(
        |           string_split(lower(text), ' '), x -> x <> ''), ' ')
        |           AS joined
        |  FROM documents WHERE lang = 'en'),
        |t1 AS (SELECT string_split(joined, ' ') AS toks FROM docs),
        |p1 AS (SELECT unnest(list_transform(
        |         generate_series(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |       FROM t1),
        |c1 AS (SELECT pair, count(*) AS n FROM p1 GROUP BY 1),
        |top AS (SELECT pair FROM c1 ORDER BY n DESC, pair ASC LIMIT 1),
        |m AS (SELECT string_split(replace(joined, top.pair,
        |        replace(top.pair, ' ', '_')), ' ') AS toks
        |      FROM docs, top),
        |p2 AS (SELECT unnest(list_transform(
        |         generate_series(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |       FROM m),
        |c2 AS (SELECT pair, CAST(count(*) AS BIGINT) AS n
        |       FROM p2 GROUP BY 1),
        |r AS (SELECT pair, n, CAST(row_number() OVER (
        |        ORDER BY n DESC, pair ASC) AS BIGINT) AS rank
        |      FROM c2)
        |SELECT rank, pair, n FROM r WHERE rank <= 20
        |ORDER BY ALL""".stripMargin,
    // ---- §2.31 round-8 linguistics / BI / spectral ----
    "q_mode" ->
      """WITH counts AS (
        |  SELECT n_name, o_orderpriority AS pri,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |              JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |r AS (SELECT n_name, pri, n,
        |        CAST(sum(n) OVER (PARTITION BY n_name) AS BIGINT)
        |          AS n_total,
        |        row_number() OVER (PARTITION BY n_name
        |                           ORDER BY n DESC, pri ASC) AS rn
        |      FROM counts)
        |SELECT n_name, pri AS mode_pri, n AS n_mode, n_total
        |FROM r WHERE rn = 1 ORDER BY ALL""".stripMargin,
    "q_allocation" ->
      """WITH rev AS (
        |  SELECT n_name,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |              JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |q AS (SELECT n_name, cents,
        |        CAST(sum(cents) OVER () AS BIGINT) AS tot
        |      FROM rev),
        |b AS (SELECT n_name, cents,
        |        cents * 10000 // tot AS base,
        |        (cents * 10000) % tot AS rem,
        |        10000 - CAST(sum(cents * 10000 // tot) OVER () AS BIGINT)
        |          AS deficit
        |      FROM q),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, n_name ASC)
        |         AS rk
        |       FROM b)
        |SELECT n_name, cents, base,
        |       CAST(CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
        |         AS extra,
        |       CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
        |         AS BIGINT) AS seats
        |FROM rk ORDER BY ALL""".stripMargin,
    "q_readability" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS BIGINT) AS words,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS sylls,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(words) AS BIGINT) AS n_words,
        |       CAST(sum(sylls) AS BIGINT) AS n_sylls,
        |       CAST(sum(chars) AS BIGINT) AS n_chars,
        |       CAST(sum(sylls) * 100 // sum(words) AS BIGINT) AS spw_x100,
        |       CAST(sum(chars) * 100 // sum(words) AS BIGINT) AS wlen_x100
        |FROM d GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_concordance" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, toks,
        |        unnest(generate_series(1, len(toks))) AS pos
        |      FROM d)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |       coalesce(array_to_string(
        |         toks[greatest(1, pos - 2):pos - 1], ' '), '') AS left_ctx,
        |       coalesce(array_to_string(toks[pos + 1:pos + 2], ' '), '')
        |         AS right_ctx
        |FROM p WHERE toks[pos] = 'join' ORDER BY ALL""".stripMargin,
    "q_naive_bayes" ->
      """WITH st AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS n_st
        |  FROM (SELECT source,
        |          unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE token <> '' GROUP BY 1, 2),
        |nt AS (SELECT token, CAST(sum(n_st) AS BIGINT) AS n_t
        |       FROM st GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s
        |       FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n_tot FROM st),
        |scored AS (
        |  SELECT st.source, st.token, st.n_st,
        |         CAST(st.n_st * n_tot * 10000 // (n_t * n_s) AS BIGINT)
        |           AS lift_bp
        |  FROM st JOIN nt USING (token) JOIN ns USING (source), tot
        |  WHERE st.n_st >= 5),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |        ORDER BY lift_bp DESC, token ASC) AS BIGINT) AS rank
        |      FROM scored)
        |SELECT source, token, n_st, lift_bp, rank
        |FROM r WHERE rank <= 5 ORDER BY ALL""".stripMargin,
    "q_power_iter" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000)
        |           AS BIGINT) AS q,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim
        |  FROM embeddings),
        |rs AS (SELECT vec_id, CAST(sum(q) AS BIGINT) AS s
        |       FROM e GROUP BY 1)
        |SELECT dim, CAST(sum(q * s) AS BIGINT) AS v1,
        |       CAST(count(*) AS BIGINT) AS n_vecs
        |FROM e JOIN rs USING (vec_id) GROUP BY 1 ORDER BY ALL""".stripMargin,
    // ---- §2.30 round-8 graph analytics (strict near-dup doc graph) ----
    "q_clustering_coeff" ->
      s"""$graphCte,
        |cl AS (SELECT c AS u, count(*) AS n_closed
        |       FROM wg JOIN ed ON x = a_id AND y = b_id GROUP BY 1)
        |SELECT dg.u AS doc_id, deg AS degree,
        |       CAST(coalesce(cl.n_closed, 0) AS BIGINT) AS n_closed,
        |       CAST(coalesce(cl.n_closed, 0) * 20000
        |            // (deg * (deg - 1)) AS BIGINT) AS coeff_bp
        |FROM dg LEFT JOIN cl USING (u)
        |WHERE deg >= 2 ORDER BY ALL""".stripMargin,
    "q_graph_jaccard" ->
      s"""$graphCte,
        |cand AS (SELECT x AS a_id, y AS b_id,
        |           CAST(count(*) AS BIGINT) AS common
        |         FROM wg GROUP BY 1, 2)
        |SELECT cand.a_id, cand.b_id, common,
        |       CAST(common * 10000 // (da.deg + db.deg - common) AS BIGINT)
        |         AS jac_bp,
        |       (e.a_id IS NOT NULL) AS adjacent
        |FROM cand JOIN dg da ON cand.a_id = da.u
        |          JOIN dg db ON cand.b_id = db.u
        |          LEFT JOIN ed e ON cand.a_id = e.a_id
        |                        AND cand.b_id = e.b_id
        |ORDER BY ALL""".stripMargin,
    "q_graph_2hop" ->
      s"""$graphCte,
        |p2 AS (SELECT DISTINCT x, y FROM wg
        |       WHERE NOT EXISTS (SELECT 1 FROM ed
        |                         WHERE a_id = x AND b_id = y)),
        |pn AS (SELECT u, CAST(count(*) AS BIGINT) AS n_2hop
        |       FROM (SELECT x AS u FROM p2 UNION ALL SELECT y FROM p2)
        |       GROUP BY 1)
        |SELECT dg.u AS doc_id, deg AS n_1hop,
        |       CAST(coalesce(pn.n_2hop, 0) AS BIGINT) AS n_2hop
        |FROM dg LEFT JOIN pn USING (u) ORDER BY ALL""".stripMargin,
    // ---- §2.30 round-8 user-journey/temporal ----
    "q_seq_match" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       regexp_matches(
        |         string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id),
        |         'signup.*purchase.*purchase') AS matched
        |FROM events GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_interval_overlap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |s AS (SELECT user_id, us, event_id,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t AS (SELECT user_id, us,
        |        sum(new_sess) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sess_id
        |      FROM s),
        |iv AS (SELECT user_id, sess_id, min(us) AS start_us,
        |              max(us) AS end_us
        |       FROM t GROUP BY 1, 2),
        |pts AS (SELECT start_us AS us, CAST(1 AS BIGINT) AS delta FROM iv
        |        UNION ALL
        |        SELECT end_us + 1, CAST(-1 AS BIGINT) FROM iv),
        |sw AS (SELECT us,
        |         sum(delta) OVER (ORDER BY us, delta
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS conc
        |       FROM pts)
        |SELECT CAST(us // 86400000000 AS BIGINT) AS day,
        |       CAST(max(conc) AS BIGINT) AS max_concurrent,
        |       CAST(count(*) AS BIGINT) AS n_points
        |FROM sw GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |             CAST(round(value * 100) AS BIGINT) AS vu
        |           FROM events),
        |g AS (SELECT user_id, vu,
        |        lead(us) OVER (PARTITION BY user_id
        |                       ORDER BY us, event_id) - us AS gap
        |      FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |       CAST(sum(gap) AS BIGINT) AS held_us,
        |       CAST(sum(vu * gap) // sum(gap) AS BIGINT) AS twa_cents
        |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY ALL""".stripMargin
  ) ++ evalSql ++ corpusStatsSql

  /** Shared §2.34 CTE: sequential adjacent-token (ta, tb) rows of the
    * en corpus (occurrence-grade — twin of CorpusStats.bigramRows). */
  private def bgrCte =
    """d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |      FROM documents WHERE lang = 'en'),
      |ix AS (SELECT doc_id, toks,
      |         unnest(generate_series(1, CAST(len(toks) - 1 AS BIGINT)))
      |           AS i
      |       FROM d WHERE len(toks) >= 2),
      |bgr AS (SELECT doc_id, toks[i] AS ta, toks[i + 1] AS tb FROM ix)"""
      .stripMargin

  // ---- §2.34 corpus statistics / data-mixing ----
  private def corpusStatsSql: Map[String, String] = Map(
    "q_collocation_llr" ->
      s"""WITH $bgrCte,
         |pc AS (SELECT ta, tb, count(*) AS k11 FROM bgr GROUP BY 1, 2),
         |ma AS (SELECT ta, count(*) AS ca FROM bgr GROUP BY 1),
         |mb AS (SELECT tb, count(*) AS cb FROM bgr GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM bgr),
         |cell AS (SELECT ta, tb, k11, ca, cb, n,
         |           ca - k11 AS k12, cb - k11 AS k21,
         |           n - ca - cb + k11 AS k22
         |         FROM pc JOIN ma USING (ta) JOIN mb USING (tb)
         |         CROSS JOIN nn WHERE k11 >= 5)
         |SELECT ta, tb, CAST(k11 AS BIGINT) AS k11,
         |       ${graft.ops.CorpusStats.llrSql} AS llr
         |FROM cell ORDER BY ALL""".stripMargin,
    "q_zipf" ->
      """WITH c AS (SELECT source, token, count(*) AS cnt FROM (
        |    SELECT source, unnest(string_split(lower(text), ' '))
        |      AS token
        |    FROM documents) WHERE token <> '' GROUP BY 1, 2),
        |r AS (SELECT source, token, cnt,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY cnt DESC, token) AS rnk
        |      FROM c),
        |q AS (SELECT source,
        |        CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT)
        |          AS xu,
        |        CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)
        |          AS yu
        |      FROM r WHERE rnk <= 20),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_fit,
        |        CAST(sum(xu) AS BIGINT) AS sx,
        |        CAST(sum(yu) AS BIGINT) AS sy,
        |        CAST(sum(xu * yu) AS BIGINT) AS sxy,
        |        CAST(sum(xu * xu) AS BIGINT) AS sxx
        |      FROM q GROUP BY 1)
        |SELECT source, n_fit,
        |  round(CAST(n_fit * sxy - sx * sy AS DOUBLE) /
        |        CAST(n_fit * sxx - sx * sx AS DOUBLE), 4) AS slope,
        |  round((CAST(sy AS DOUBLE) / n_fit -
        |         (CAST(n_fit * sxy - sx * sy AS DOUBLE) /
        |          CAST(n_fit * sxx - sx * sx AS DOUBLE)) *
        |         (CAST(sx AS DOUBLE) / n_fit)) / 1000000, 4)
        |    AS intercept
        |FROM g ORDER BY ALL""".stripMargin,
    "q_keyword_rake" ->
      """WITH occ AS (SELECT doc_id,
        |    unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents WHERE lang = 'en'),
        |o2 AS (SELECT doc_id, token FROM occ WHERE token <> ''),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
        |         FROM o2 GROUP BY 1),
        |d2 AS (SELECT DISTINCT doc_id, token FROM o2),
        |sz AS (SELECT doc_id, count(*) AS ndist FROM d2 GROUP BY 1),
        |deg AS (SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(ndist - 1) AS BIGINT) AS deg
        |        FROM d2 JOIN sz USING (doc_id) GROUP BY 1)
        |SELECT token, n_docs, freq, deg,
        |       CAST(deg * 10000 // freq AS BIGINT) AS score_bp
        |FROM freq JOIN deg USING (token) ORDER BY ALL""".stripMargin,
    "q_dsir" ->
      s"""WITH $bgrCte,
         |b2 AS (SELECT doc_id, ta, tb,
         |         CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS is_t
         |       FROM bgr),
         |lm AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS cc,
         |         CAST(sum(is_t) AS BIGINT) AS ct
         |       FROM b2 GROUP BY 1, 2),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS nc,
         |        CAST(sum(is_t) AS BIGINT) AS nt
         |      FROM b2),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM lm),
         |lw AS (SELECT ta, tb,
         |    CAST(round(ln(CAST((ct + 1) * (nc + v) AS DOUBLE) /
         |      CAST((cc + 1) * (nt + v) AS DOUBLE)) * 1000000) AS BIGINT)
         |      AS lw_u
         |  FROM lm CROSS JOIN k CROSS JOIN vv)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(sum(lw_u) AS BIGINT) AS logw_u
         |FROM b2 JOIN lw USING (ta, tb) GROUP BY 1
         |ORDER BY ALL""".stripMargin,
    "q_lsh_recall" ->
      """WITH dd AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM dd),
        |lanes AS (SELECT doc_id, j,
        |    min(substring(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))
        |      AS mh
        |  FROM tok CROSS JOIN range(16) t(j) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, j // 2 AS band,
        |    min(CASE WHEN j % 2 = 0 THEN mh END) || ':' ||
        |    min(CASE WHEN j % 2 = 1 THEN mh END) AS bkey
        |  FROM lanes GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey
        |   AND x.doc_id < y.doc_id),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         count(*) AS common
        |       FROM tok a JOIN tok b
        |       ON a.token = b.token AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(toks) AS nt FROM dd),
        |truth AS (SELECT a_id, b_id FROM pr
        |          JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id
        |          WHERE 3 * common >= sa.nt + sb.nt),
        |tp AS (SELECT CAST(count(*) AS BIGINT) AS tp
        |       FROM truth JOIN cand USING (a_id, b_id))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
        |       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
        |       tp,
        |       CAST(CASE WHEN (SELECT count(*) FROM cand) > 0
        |            THEN tp * 10000 // (SELECT count(*) FROM cand)
        |            ELSE 0 END AS BIGINT) AS precision_bp,
        |       CAST(CASE WHEN (SELECT count(*) FROM truth) > 0
        |            THEN tp * 10000 // (SELECT count(*) FROM truth)
        |            ELSE 0 END AS BIGINT) AS recall_bp
        |FROM tp ORDER BY ALL""".stripMargin,
    "q_burstiness" ->
      """WITH doc AS (SELECT doc_id, text FROM documents
        |             WHERE lang = 'en'),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM doc),
        |occ AS (SELECT doc_id,
        |    unnest(string_split(lower(text), ' ')) AS token
        |  FROM doc),
        |o2 AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
        |       FROM occ WHERE token <> '' GROUP BY 1, 2),
        |g AS (SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(c) AS BIGINT) AS total,
        |        CAST(sum(c * c) AS BIGINT) AS s2
        |      FROM o2 GROUP BY 1)
        |SELECT token, n_docs, total,
        |       CAST((n * s2 - total * total) * 10000 // (n * total)
        |         AS BIGINT) AS vmr_bp
        |FROM g CROSS JOIN nn ORDER BY ALL""".stripMargin
  )

  /** ±1 md5-parity hyperplane lanes for plane range [lo, hi) — twin of
    * graft.ops.Sketches.lshSigns(j, 64), the q_ann_lsh planes. */
  private def sgnCte(lo: Int, hi: Int): String =
    s"""sgn AS (SELECT j,
       |    list(CASE WHEN (strpos('0123456789abcdef',
       |        substring(md5(CAST(j * 64 + i AS VARCHAR)), 1, 1)) - 1)
       |        % 2 = 0
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
       |      ORDER BY i) AS sv
       |  FROM range($lo, $hi) a(j) CROSS JOIN range(64) b(i)
       |  GROUP BY j)""".stripMargin

  /** Sessionized events (30-min gap, (µs, event_id) total order) with
    * per-session depth and entry/exit types — the §2.62 shared CTE,
    * mirroring Sessions.sessions. */
  private def sessCte: String =
    """e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |      FROM events),
      |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS prev_us FROM e),
      |n AS (SELECT *, CASE WHEN prev_us IS NULL
      |          OR us - prev_us > 1800000000 THEN 1 ELSE 0 END
      |        AS new_sess FROM l),
      |c AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        AS sess_id FROM n),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
      |          ORDER BY us, event_id) AS ra,
      |        ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
      |          ORDER BY us DESC, event_id DESC) AS rd
      |      FROM c),
      |sess AS (SELECT user_id, sess_id,
      |           CAST(count(*) AS BIGINT) AS depth,
      |           max(CASE WHEN ra = 1 THEN event_type END)
      |             AS entry_type,
      |           max(CASE WHEN rd = 1 THEN event_type END)
      |             AS exit_type
      |         FROM r GROUP BY 1, 2)""".stripMargin

  /** Candidate near-dup pairs at the loosest sweep cut with exact
    * Jaccard bp (§2.69) — mirrors DedupAudit.candPairs (cMul=3,
    * sMul=1 ⟺ J ≥ 0.5). */
  private def candPairsCte: String =
    """dt AS (SELECT DISTINCT doc_id, token FROM (
      |       SELECT doc_id, unnest(string_split(lower(text), ' '))
      |         AS token
      |       FROM documents WHERE lang = 'en') WHERE token <> ''),
      |szc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
      |        FROM dt GROUP BY 1),
      |prc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |          CAST(count(*) AS BIGINT) AS common
      |        FROM dt a JOIN dt b
      |        ON a.token = b.token AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2),
      |cand AS (SELECT a_id, b_id, common, sa.nt AS na, sb.nt AS nb,
      |           CAST(common * 10000 // (sa.nt + sb.nt - common)
      |                AS BIGINT) AS j_bp
      |         FROM prc
      |         JOIN szc sa ON a_id = sa.doc_id
      |         JOIN szc sb ON b_id = sb.doc_id
      |         WHERE common * 3 >= sa.nt + sb.nt)""".stripMargin

  /** Per-type daily cents with previous-day cents (§2.79) — mirrors
    * Volatility.daily (observation-to-observation lag). */
  private def dailyDeltaCte: String =
    """d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1, 2),
      |dd AS (SELECT * FROM (
      |    SELECT event_type, day, cents,
      |      lag(cents) OVER (PARTITION BY event_type ORDER BY day)
      |        AS prev_cents
      |    FROM d) WHERE prev_cents IS NOT NULL)""".stripMargin

  /** Truncated-RBO@10 per-item weight ×10⁹ as a CASE over the max of
    * the two ranks (§2.96) — the same Scala-computed literals
    * Evaluation.rboWeightsE9 embeds on the engine side. */
  private def rboWeightCase(rankExpr: String): String =
    graft.ops.Evaluation.rboWeightsE9.zipWithIndex
      .map { case (w, m) => s"WHEN ${m + 1} THEN $w" }
      .mkString(s"CASE $rankExpr ", " ", " ELSE 0 END")

  /** Second-digit Benford expectation ×10⁴ as a CASE over `digit`
    * (§2.77) — the same Scala-computed literals Forensic embeds. */
  private def benford2Case: String =
    graft.ops.Forensic.benford2Bp.zipWithIndex
      .map { case (bp, d) => s"WHEN $d THEN $bp" }
      .mkString("CASE digit ", " ", " ELSE 0 END")

  /** Cents value histogram with cum window + discrete p99 per event
    * type (§2.75) — the shared percentile recipe as a CTE. */
  private def valueHistCte: String =
    """h AS (SELECT event_type AS grp,
      |    CAST(round(value * 100) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
      |        FROM h GROUP BY 1),
      |cum AS (SELECT h.grp, v, cnt, n,
      |          CAST(sum(cnt) OVER (PARTITION BY h.grp ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum
      |        FROM h JOIN tot USING (grp)),
      |p99 AS (SELECT grp, CAST(min(v) AS BIGINT) AS p99 FROM cum
      |        WHERE cum * 100 >= n * 99 GROUP BY 1)""".stripMargin

  /** Per-(cohort, offset) purchase grid (§2.74) — mirrors Ltv.grid. */
  private def ltvGridCte: String =
    """evs AS (SELECT user_id, event_type,
      |    epoch_us(ts) // 604800000000 AS week,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |firsts AS (SELECT user_id, CAST(min(week) AS BIGINT)
      |             AS cohort_week
      |           FROM evs GROUP BY 1),
      |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT)
      |            AS n_users
      |          FROM firsts GROUP BY 1),
      |grid AS (SELECT f.cohort_week,
      |           CAST(e.week - f.cohort_week AS BIGINT)
      |             AS week_offset,
      |           CAST(count(*) AS BIGINT) AS n_purchases,
      |           CAST(sum(e.cents) AS BIGINT) AS rev_cents,
      |           CAST(max(sz.n_users) AS BIGINT) AS n_users
      |         FROM evs e
      |         JOIN firsts f ON e.user_id = f.user_id
      |         JOIN sizes sz ON f.cohort_week = sz.cohort_week
      |         WHERE e.event_type = 'purchase'
      |         GROUP BY 1, 2)""".stripMargin

  /** Exact integer Σ(round(emb[i]·10⁴))² — the §2.72 quantized-norm
    * square sum (order-independent: exact integers). */
  private def laneSqSum: String =
    "list_sum(list_transform(generate_series(1, 64), i -> " +
      "CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) * " +
      "CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)))"

  /** RRF weight literals as a CASE over a rank column (§2.67) — the
    * same Scala-computed ×10⁶ values Fusion.rrfWeights embeds. */
  private def rrfCase(r: String): String =
    graft.ops.Fusion.rrfWeights.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }
      .mkString(s"CASE $r ", " ", " ELSE 0 END")

  /** Per-type pre/post cents moments (§2.65) — mirrors Power.moments. */
  private def powerMomentsCte: String =
    """b AS (SELECT event_type,
      |    ts < TIMESTAMP '2024-01-16 00:00:00' AS pre,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT event_type,
      |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT)
      |      AS s1,
      |    CAST(sum(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT)
      |      AS s2,
      |    CAST(sum(CASE WHEN pre THEN cents * cents ELSE 0 END)
      |         AS BIGINT) AS q1,
      |    CAST(sum(CASE WHEN pre THEN 0 ELSE cents * cents END)
      |         AS BIGINT) AS q2
      |  FROM b GROUP BY 1)""".stripMargin

  /** Dot of an embedding against the sgn plane list (sequential fold). */
  private def planeDot(e: String) =
    "list_sum(list_transform(generate_series(1, 64), i -> " +
      s"CAST($e[i] AS DOUBLE) * sv[i]))"

  /** The shared ×10⁶ nDCG rank-discount literals as a CASE over a rank
    * column — same Scala-computed values the Spark side embeds. */
  private def ndcgCase(r: String): String =
    graft.ops.Evaluation.ndcgWeights.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }
      .mkString(s"CASE $r ", " ", " END")

  // ---- §2.33 retrieval / model-eval metrics ----
  private def evalSql: Map[String, String] = Map(
    "q_ann_recall" ->
      s"""WITH ${sgnCte(0, 8)},
         |bkt AS (SELECT vec_id, embedding,
         |    CAST(sum(CASE WHEN ${planeDot("embedding")} > 0
         |      THEN 1 << j ELSE 0 END) AS INT) AS bucket
         |  FROM embeddings CROSS JOIN sgn GROUP BY 1, 2),
         |p AS (SELECT vec_id AS pid, embedding AS pe, bucket AS pb
         |      FROM bkt WHERE vec_id < 50),
         |c AS (SELECT vec_id AS nid, embedding AS e, bucket AS cb
         |      FROM bkt),
         |s AS (SELECT pid, nid, $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON nid <> pid),
         |top AS (SELECT pid, nid FROM (
         |      SELECT pid, nid, row_number() OVER (PARTITION BY pid
         |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s) WHERE rn <= 10),
         |cand AS (SELECT pid, nid FROM p JOIN c ON cb = pb AND nid <> pid),
         |nc AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_cand
         |       FROM cand GROUP BY 1),
         |h AS (SELECT pid, CAST(count(*) AS BIGINT) AS hits
         |      FROM top JOIN cand USING (pid, nid) GROUP BY 1)
         |SELECT p.pid, coalesce(n_cand, 0) AS n_cand,
         |       coalesce(hits, 0) AS hits,
         |       CAST(coalesce(hits, 0) * 10000 // 10 AS BIGINT) AS recall_bp
         |FROM p LEFT JOIN nc USING (pid) LEFT JOIN h USING (pid)
         |ORDER BY ALL""".stripMargin,
    "q_ndcg" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe,
         |             label AS plabel
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS nid, embedding AS e, label
         |      FROM embeddings),
         |s AS (SELECT pid, plabel, nid, label,
         |        $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON nid <> pid),
         |r AS (SELECT pid, nid, dot / sqrt(na2 * nb2) AS cos,
         |        CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s),
         |tp AS (SELECT pid, rel, rn,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY rel DESC, cos DESC, nid) AS irn
         |       FROM r WHERE rn <= 10),
         |g AS (SELECT pid, CAST(sum(rel) AS BIGINT) AS n_rel,
         |        CAST(sum(rel * ${ndcgCase("rn")}) AS BIGINT) AS dcg_u,
         |        CAST(sum(rel * ${ndcgCase("irn")}) AS BIGINT) AS idcg_u
         |      FROM tp GROUP BY 1)
         |SELECT pid, n_rel, dcg_u, idcg_u,
         |       CAST(CASE WHEN idcg_u > 0 THEN dcg_u * 10000 // idcg_u
         |            ELSE 0 END AS BIGINT) AS ndcg_bp
         |FROM g ORDER BY ALL""".stripMargin,
    "q_auc" ->
      s"""WITH ${sgnCte(100, 103)},
         |sc AS (SELECT j - 100 AS plane, label,
         |    CAST(round(${planeDot("embedding")} * 10000) AS BIGINT)
         |      AS score_u
         |  FROM embeddings CROSS JOIN sgn),
         |rk AS (SELECT plane,
         |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos,
         |    rank() OVER (PARTITION BY plane ORDER BY score_u) AS minr,
         |    count(*) OVER (PARTITION BY plane, score_u) AS nt
         |  FROM sc)
         |SELECT CAST(plane AS BIGINT) AS plane,
         |       CAST(sum(pos) AS BIGINT) AS n_pos,
         |       CAST(sum(1 - pos) AS BIGINT) AS n_neg,
         |       CAST((sum(CASE WHEN pos = 1 THEN 2 * minr + nt - 1
         |                 ELSE 0 END)
         |             - sum(pos) * (sum(pos) + 1)) * 10000
         |            // (2 * sum(pos) * sum(1 - pos)) AS BIGINT) AS auc_bp
         |FROM rk GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_confusion" ->
      """WITH q AS (SELECT label AS cand, i,
        |    sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 10000)
        |        AS BIGINT)) AS s_u,
        |    count(*) AS n
        |  FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
        |cl AS (SELECT cand, list(CAST(s_u AS DOUBLE) / n ORDER BY i)
        |         AS cv
        |       FROM q GROUP BY 1),
        |s AS (SELECT e.vec_id, e.label AS true_label, cand,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(e.embedding[i] AS DOUBLE) * cv[i])) AS dot,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(e.embedding[i] AS DOUBLE)
        |        * CAST(e.embedding[i] AS DOUBLE))) AS nv,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      cv[i] * cv[i])) AS nc
        |  FROM embeddings e CROSS JOIN cl),
        |pr AS (SELECT vec_id, true_label, cand AS pred,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dot / sqrt(nv * nc) DESC, cand) AS rn
        |  FROM s),
        |cells AS (SELECT CAST(true_label AS BIGINT) AS true_label,
        |    CAST(pred AS BIGINT) AS pred, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE rn = 1 GROUP BY 1, 2)
        |SELECT true_label, pred, n,
        |  CAST(sum(n) OVER (PARTITION BY true_label) AS BIGINT)
        |    AS row_tot,
        |  CAST(sum(n) OVER (PARTITION BY pred) AS BIGINT) AS col_tot,
        |  CAST(n * 10000 // sum(n) OVER (PARTITION BY true_label)
        |    AS BIGINT) AS recall_bp,
        |  CAST(n * 10000 // sum(n) OVER (PARTITION BY pred)
        |    AS BIGINT) AS precision_bp
        |FROM cells ORDER BY ALL""".stripMargin,
    "q_calibration" ->
      s"""WITH ${sgnCte(103, 104)},
         |sc AS (SELECT label,
         |    CAST(round(${planeDot("embedding")} * 10000) AS BIGINT)
         |      AS score_u
         |  FROM embeddings CROSS JOIN sgn)
         |SELECT CAST((score_u - (score_u % 2000 + 2000) % 2000) // 2000
         |         AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_pos,
         |       CAST(min(score_u) AS BIGINT) AS lo_u,
         |       CAST(max(score_u) AS BIGINT) AS hi_u,
         |       CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) * 10000
         |            // count(*) AS BIGINT) AS rate_bp
         |FROM sc GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_calibration_ece" ->
      s"""WITH ${sgnCte(103, 104)},
         |sc AS (SELECT label,
         |    CAST(round(${planeDot("embedding")} * 10000) AS BIGINT)
         |      AS score_u
         |  FROM embeddings CROSS JOIN sgn),
         |b AS (SELECT
         |    CAST((score_u - (score_u % 2000 + 2000) % 2000) // 2000
         |      AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_pos,
         |    CAST(sum(score_u) AS BIGINT) AS s_u
         |  FROM sc GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_bins,
         |       CAST(sum(n) AS BIGINT) AS n_total,
         |       CAST(sum(abs(CAST(n_pos AS HUGEINT) * 10000 - s_u))
         |            * 100 // sum(n) AS BIGINT) AS ece_u
         |FROM b ORDER BY ALL""".stripMargin,

    "q_mrr" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe,
         |             label AS plabel
         |           FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS nid, embedding AS e, label
         |      FROM embeddings),
         |s AS (SELECT pid, plabel, nid, label,
         |        $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON nid <> pid),
         |r AS (SELECT pid, label, plabel,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s),
         |b AS (SELECT pid, CAST(min(rn) AS BIGINT) AS best_rank
         |      FROM r WHERE rn <= 20 AND label = plabel GROUP BY 1)
         |SELECT p.pid, best_rank,
         |       CAST(CASE WHEN best_rank IS NOT NULL
         |            THEN 1000000 // best_rank ELSE 0 END AS BIGINT)
         |         AS rr_u
         |FROM p LEFT JOIN b USING (pid) ORDER BY ALL""".stripMargin,

    // ---- §2.35 experimentation / measurement statistics ----
    // Shared recipe: value → exact integer cents before any aggregate
    // (q_ewma precedent); test statistics emitted as exact integer
    // numerators + basis-point integer divisions. DuckDB `//` truncates
    // toward zero exactly like Spark's `div` (verified: -7 // 2 = -3).
    "q_ks_test" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |ty AS (SELECT DISTINCT event_type AS tt FROM e
        |       WHERE event_type <> 'view'),
        |u AS (SELECT event_type AS tt, cents, 1 AS c1, 0 AS c2 FROM e
        |      WHERE event_type <> 'view'
        |      UNION ALL
        |      SELECT tt, cents, 0, 1 FROM e CROSS JOIN ty
        |      WHERE event_type = 'view'),
        |g AS (SELECT tt, cents, CAST(sum(c1) AS BIGINT) AS g1,
        |             CAST(sum(c2) AS BIGINT) AS g2
        |      FROM u GROUP BY 1, 2),
        |c AS (SELECT tt, cents,
        |        CAST(sum(g1) OVER w AS BIGINT) AS f1,
        |        CAST(sum(g2) OVER w AS BIGINT) AS f2
        |      FROM g WINDOW w AS (PARTITION BY tt ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |n AS (SELECT tt, CAST(sum(g1) AS BIGINT) AS n1,
        |             CAST(sum(g2) AS BIGINT) AS n2
        |      FROM g GROUP BY 1)
        |SELECT tt, n1, n2,
        |       CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num,
        |       CAST(max(abs(f1 * n2 - f2 * n1)) * 10000 // (n1 * n2)
        |            AS BIGINT) AS d_bp
        |FROM c JOIN n USING (tt)
        |GROUP BY tt, n1, n2 ORDER BY ALL""".stripMargin,
    "q_mannwhitney" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |ty AS (SELECT DISTINCT event_type AS tt FROM e
        |       WHERE event_type <> 'view'),
        |u AS (SELECT event_type AS tt, cents, 1 AS c1, 0 AS c2 FROM e
        |      WHERE event_type <> 'view'
        |      UNION ALL
        |      SELECT tt, cents, 0, 1 FROM e CROSS JOIN ty
        |      WHERE event_type = 'view'),
        |g AS (SELECT tt, cents, CAST(sum(c1) AS BIGINT) AS g1,
        |             CAST(sum(c2) AS BIGINT) AS g2
        |      FROM u GROUP BY 1, 2),
        |r AS (SELECT tt, g1, g2, g1 + g2 AS m,
        |        CAST(coalesce(sum(g1 + g2) OVER (PARTITION BY tt
        |          ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS BIGINT) AS bf
        |      FROM g),
        |s AS (SELECT tt, CAST(sum(g1) AS BIGINT) AS n1,
        |             CAST(sum(g2) AS BIGINT) AS n2,
        |             CAST(sum(g1 * (2 * bf + m + 1)) AS BIGINT) AS r1_2x
        |      FROM r GROUP BY 1)
        |SELECT tt, n1, n2, r1_2x - n1 * (n1 + 1) AS u2x,
        |       CAST((r1_2x - n1 * (n1 + 1)) * 10000 // (2 * n1 * n2)
        |            AS BIGINT) AS auc_bp
        |FROM s ORDER BY ALL""".stripMargin,
    "q_bootstrap_ci" -> {
      // 24-bit int from the first 6 md5 nibbles (q_weighted_sample twin
      // of Spark's conv(substring(md5, 1, 6), 16, 10)).
      val h24 = (1 to 6).map(i =>
        s"(${nibSql("h", i)}) * ${math.pow(16, 6 - i).toLong}")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_type, event_id,
         |             CAST(round(value * 100) AS BIGINT) AS cents
         |           FROM events),
         |x AS (SELECT event_type, cents, b,
         |        md5(CAST(event_id AS VARCHAR) || ':' ||
         |            CAST(b AS VARCHAR) || ':bs') AS h
         |      FROM e CROSS JOIN range(32) t(b)),
         |wv AS (SELECT event_type, cents, b, ($h24) % 1000 AS hm FROM x),
         |ww AS (SELECT event_type, cents, b,
         |         CASE WHEN hm < 368 THEN 0 WHEN hm < 736 THEN 1
         |              WHEN hm < 920 THEN 2 WHEN hm < 981 THEN 3
         |              ELSE 4 END AS w
         |       FROM wv),
         |m AS (SELECT event_type, b, CAST(sum(w * cents) AS BIGINT)
         |        AS swv, CAST(sum(w) AS BIGINT) AS sw
         |      FROM ww GROUP BY 1, 2 HAVING sum(w) > 0),
         |mm AS (SELECT event_type, b, CAST(swv AS DOUBLE) / sw AS mean_c,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY CAST(swv AS DOUBLE) / sw ASC, b ASC) AS rn
         |       FROM m),
         |ci AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_reps,
         |         round(min(CASE WHEN rn = 2 THEN mean_c END), 4) AS lo_c,
         |         round(min(CASE WHEN rn = 31 THEN mean_c END), 4) AS hi_c
         |       FROM mm GROUP BY 1),
         |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         round(CAST(sum(cents) AS DOUBLE) / count(*), 4) AS est_c
         |       FROM e GROUP BY 1)
         |SELECT pt.event_type, n, est_c, n_reps, lo_c, hi_c
         |FROM pt JOIN ci USING (event_type) ORDER BY ALL""".stripMargin
    },
    "q_ate_stratified" ->
      """WITH e AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 AS tr,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |per AS (SELECT event_type,
        |    CAST(sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t,
        |    CAST(sum(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c,
        |    CAST(sum(CASE WHEN tr = 1 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s_t,
        |    CAST(sum(CASE WHEN tr = 0 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s_c
        |  FROM e GROUP BY 1),
        |pd AS (SELECT event_type, n_t, n_c,
        |    CAST((s_t * n_c - s_c * n_t) * 1000 // (n_t * n_c) AS BIGINT)
        |      AS diff_mc
        |  FROM per)
        |SELECT * FROM (
        |  SELECT event_type, n_t, n_c, diff_mc FROM pd
        |  UNION ALL
        |  SELECT 'ALL', CAST(sum(n_t) AS BIGINT),
        |         CAST(sum(n_c) AS BIGINT),
        |         CAST(sum((n_t + n_c) * diff_mc) // sum(n_t + n_c)
        |              AS BIGINT)
        |  FROM pd)
        |ORDER BY ALL""".stripMargin,
    "q_eb_shrinkage" ->
      """WITH e AS (SELECT user_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |g AS (SELECT CAST(sum(cents) AS BIGINT) AS gs,
        |             CAST(count(*) AS BIGINT) AS gn FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) * 1000 // count(*) AS BIGINT) AS raw_mc,
        |       CAST((sum(cents) * gn + 10 * gs) * 1000 //
        |            (gn * (count(*) + 10)) AS BIGINT) AS shrunk_mc
        |FROM e CROSS JOIN g
        |GROUP BY user_id, gs, gn ORDER BY ALL""".stripMargin,
    "q_sax_symbols" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |sg AS (SELECT user_id,
        |         ntile(4) OVER (PARTITION BY user_id
        |           ORDER BY us, event_id) AS seg,
        |         cents
        |       FROM e),
        |sm AS (SELECT user_id, seg, CAST(sum(cents) AS BIGINT) AS ss,
        |         CAST(count(*) AS BIGINT) AS sn
        |       FROM sg GROUP BY 1, 2),
        |rk AS (SELECT user_id, seg, sn,
        |         chr(96 + CAST(row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ss AS DOUBLE) / sn ASC, seg ASC)
        |           AS INT)) AS letter
        |       FROM sm)
        |SELECT user_id, CAST(sum(sn) AS BIGINT) AS n_events,
        |       string_agg(letter, '' ORDER BY seg) AS sax
        |FROM rk GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.36 graph communities / curation / contrastive sampling ----
    "q_label_prop" ->
      s"""$graphCte,
         |l1 AS (SELECT u, least(u, min(v)) AS label1
         |       FROM un GROUP BY u),
         |nb AS (SELECT un.u, l1.label1 AS nl
         |       FROM un JOIN l1 ON un.v = l1.u),
         |cn AS (SELECT u, nl, count(*) AS cnt FROM nb GROUP BY 1, 2),
         |pk AS (SELECT u, nl,
         |         row_number() OVER (PARTITION BY u
         |           ORDER BY cnt DESC, nl ASC) AS rn
         |       FROM cn)
         |SELECT pk.u AS doc_id, l1.label1, pk.nl AS label2,
         |       pk.nl <> l1.label1 AS changed
         |FROM pk JOIN l1 ON pk.u = l1.u
         |WHERE rn = 1 ORDER BY ALL""".stripMargin,
    "q_kcore" ->
      s"""$graphCte,
         |k1 AS (SELECT u FROM dg WHERE deg >= 3),
         |e1 AS (SELECT un.u, un.v FROM un
         |       JOIN k1 a ON un.u = a.u JOIN k1 b ON un.v = b.u),
         |d1 AS (SELECT u, count(*) AS deg FROM e1 GROUP BY 1),
         |k2 AS (SELECT u FROM d1 WHERE deg >= 3),
         |e2 AS (SELECT e1.u, e1.v FROM e1
         |       JOIN k2 a ON e1.u = a.u JOIN k2 b ON e1.v = b.u),
         |d2 AS (SELECT u, count(*) AS deg FROM e2 GROUP BY 1),
         |k3 AS (SELECT u FROM d2 WHERE deg >= 3),
         |e3 AS (SELECT e2.u, e2.v FROM e2
         |       JOIN k3 a ON e2.u = a.u JOIN k3 b ON e2.v = b.u),
         |d3 AS (SELECT u, count(*) AS deg FROM e3 GROUP BY 1),
         |k4 AS (SELECT u FROM d3 WHERE deg >= 3),
         |e4 AS (SELECT e3.u, e3.v FROM e3
         |       JOIN k4 a ON e3.u = a.u JOIN k4 b ON e3.v = b.u),
         |d4 AS (SELECT u, count(*) AS deg FROM e4 GROUP BY 1)
         |SELECT u AS doc_id, CAST(deg AS BIGINT) AS core_deg
         |FROM d4 ORDER BY ALL""".stripMargin,
    "q_boilerplate" ->
      """WITH tk AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |ix AS (
        |  SELECT doc_id, source, toks,
        |         unnest(generate_series(0,
        |           CAST((len(toks) - 1) // 5 AS BIGINT))) AS line_idx
        |  FROM tk),
        |ln AS (SELECT DISTINCT doc_id, source,
        |         array_to_string(toks[line_idx*5+1 : line_idx*5+5], ' ')
        |           AS line
        |       FROM ix),
        |nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs
        |       FROM documents GROUP BY 1),
        |df AS (SELECT source, line, count(*) AS df_docs
        |       FROM ln GROUP BY 1, 2),
        |tp AS (SELECT source, df_docs AS top_df, line AS top_line
        |       FROM (SELECT source, df_docs, line,
        |               row_number() OVER (PARTITION BY source
        |                 ORDER BY df_docs DESC, line ASC) AS rn
        |             FROM df)
        |       WHERE rn = 1),
        |ag AS (SELECT df.source, max(nd.n_docs) AS n_docs,
        |         count(*) AS n_lines,
        |         sum(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) AS n_cand,
        |         sum(CASE WHEN df_docs * 10 >= nd.n_docs
        |             THEN 1 ELSE 0 END) AS n_boiler
        |       FROM df JOIN nd ON df.source = nd.source
        |       GROUP BY 1)
        |SELECT ag.source, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_lines AS BIGINT) AS n_lines,
        |       CAST(n_cand AS BIGINT) AS n_cand,
        |       CAST(n_boiler AS BIGINT) AS n_boiler,
        |       CAST(top_df AS BIGINT) AS top_df, top_line
        |FROM ag JOIN tp ON ag.source = tp.source
        |ORDER BY ALL""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe,
         |             label AS plabel
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS nid, embedding AS e, label AS nlabel
         |      FROM embeddings),
         |s AS (SELECT pid, plabel, nid, nlabel,
         |        $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON nid <> pid AND nlabel <> plabel),
         |r AS (SELECT pid, plabel, nid, nlabel,
         |        dot / sqrt(na2 * nb2) AS cos,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s)
         |SELECT pid, plabel, nid, nlabel, rn, round(cos, 4) AS sim
         |FROM r WHERE rn <= 3 ORDER BY ALL""".stripMargin,

    // ---- §2.37 survival / tail / corpus growth / lang audit ----
    "q_survival" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |t0 AS (SELECT user_id, min(us) AS t0 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |tp AS (SELECT e.user_id, min(us) AS tp
        |       FROM e JOIN t0 USING (user_id)
        |       WHERE event_type = 'purchase' AND us >= t0 GROUP BY 1),
        |hz AS (SELECT max(us) AS hz FROM e),
        |dur AS (SELECT t0.user_id,
        |          CAST(coalesce(tp, hz) - t0 AS BIGINT) // 86400000000
        |            AS day,
        |          tp IS NOT NULL AS converted
        |        FROM t0 LEFT JOIN tp USING (user_id) CROSS JOIN hz),
        |days AS (SELECT day,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
        |      AS c
        |  FROM dur GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM dur),
        |r AS (SELECT day, d, c,
        |        n_total - CAST(coalesce(sum(d + c) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS n_risk
        |      FROM days CROSS JOIN nt),
        |t AS (SELECT day, n_risk, d, c,
        |        CASE WHEN d > 0 AND n_risk > d THEN
        |          CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
        |               * 1000000) AS BIGINT) END AS term_u
        |      FROM r)
        |SELECT day, n_risk, d, c,
        |       CAST(sum(term_u) OVER (ORDER BY day ROWS BETWEEN
        |         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS ls_micro
        |FROM t ORDER BY ALL""".stripMargin,
    "q_hill_tail" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |f AS (SELECT * FROM e WHERE cents > 0),
        |r AS (SELECT event_type, cents,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY cents DESC, event_id ASC) AS rn
        |      FROM f),
        |ref AS (SELECT event_type, cents AS ref_cents FROM r
        |        WHERE rn = 101),
        |t AS (SELECT r.event_type, ref_cents,
        |        CAST(round(ln(CAST(cents AS DOUBLE) / ref_cents)
        |             * 1000000) AS BIGINT) AS term_u
        |      FROM r JOIN ref USING (event_type) WHERE rn <= 100)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS k, ref_cents,
        |       CAST(sum(term_u) AS BIGINT) AS hill_sum_u,
        |       CAST(sum(term_u) // count(*) AS BIGINT) AS inv_alpha_u
        |FROM t GROUP BY 1, 3 ORDER BY ALL""".stripMargin,
    "q_heaps_law" ->
      """WITH occ AS (SELECT doc_id,
        |    unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents WHERE lang = 'en'),
        |o2 AS (SELECT doc_id, token FROM occ WHERE token <> ''),
        |ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
        |       FROM o2 GROUP BY 1),
        |rk AS (SELECT doc_id, sz,
        |         row_number() OVER (ORDER BY doc_id) AS r FROM ds),
        |dn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM rk),
        |cps AS (SELECT CAST(cp AS BIGINT) AS cp, nd * cp // 10 AS bound
        |        FROM (SELECT unnest(generate_series(1, 10)) AS cp)
        |        CROSS JOIN dn),
        |fs AS (SELECT token, min(r) AS fr FROM o2 JOIN rk USING (doc_id)
        |       GROUP BY 1),
        |vc AS (SELECT cp, CAST(count(*) AS BIGINT) AS vocab
        |       FROM fs JOIN cps ON fr <= bound GROUP BY 1),
        |tk AS (SELECT cp, CAST(sum(sz) AS BIGINT) AS n_toks,
        |         CAST(count(*) AS BIGINT) AS n_docs
        |       FROM rk JOIN cps ON r <= bound GROUP BY 1)
        |SELECT tk.cp, n_docs, n_toks, vocab,
        |       CAST(round(ln(CAST(n_toks AS DOUBLE)) * 1000000)
        |            AS BIGINT) AS lnn_u,
        |       CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000)
        |            AS BIGINT) AS lnv_u
        |FROM tk JOIN vc USING (cp) ORDER BY ALL""".stripMargin,
    "q_lang_confusion" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT * FROM tok WHERE token <> ''),
        |pr AS (SELECT lang AS pr_lang, token AS pr_token,
        |         CAST(count(*) AS BIGINT) AS cnt FROM t2 GROUP BY 1, 2),
        |tt AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS tot
        |       FROM t2 GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM t2),
        |pb AS (SELECT doc_id, lang AS declared, token AS p_token,
        |         CAST(count(*) AS BIGINT) AS k FROM t2 GROUP BY 1, 2, 3),
        |sc AS (SELECT pb.doc_id, pb.declared, tt.cand,
        |         CAST(sum(k * CAST(round(ln(
        |           CAST(coalesce(pr.cnt, 0) + 1 AS DOUBLE) / (tot + v))
        |           * 1000000) AS BIGINT)) AS BIGINT) AS score_u
        |       FROM pb CROSS JOIN tt
        |       LEFT JOIN pr ON pb.p_token = pr.pr_token
        |                   AND tt.cand = pr.pr_lang
        |       CROSS JOIN vv
        |       GROUP BY 1, 2, 3),
        |pk AS (SELECT doc_id, declared, cand,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score_u DESC, cand ASC) AS rn
        |       FROM sc)
        |SELECT declared, cand AS predicted,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM pk WHERE rn = 1 GROUP BY 1, 2 ORDER BY ALL""".stripMargin,

    // ---- §2.38 weighted/robust BI + leakage audit ----
    "q_weighted_median" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS w
        |  FROM events),
        |g AS (SELECT event_type, cents, CAST(sum(w) AS BIGINT) AS gw,
        |        CAST(count(*) AS BIGINT) AS gn
        |      FROM e GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(sum(gw) AS BIGINT) AS tot_w,
        |         CAST(sum(gn) AS BIGINT) AS n
        |       FROM g GROUP BY 1),
        |c AS (SELECT event_type, cents,
        |        CAST(sum(gw) OVER (PARTITION BY event_type ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM g)
        |SELECT c.event_type, n, tot_w,
        |       CAST(min(cents) AS BIGINT) AS wmedian_cents
        |FROM c JOIN tt USING (event_type)
        |WHERE cum * 2 >= tot_w
        |GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,
    "q_theil_index" ->
      """WITH sp AS (SELECT c_custkey, c_nationkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |nat AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |          CAST(sum(x) AS BIGINT) AS xg
        |        FROM sp GROUP BY 1),
        |gl AS (SELECT CAST(sum(n_cust) AS BIGINT) AS n,
        |         CAST(sum(xg) AS BIGINT) AS xt FROM nat),
        |wi AS (SELECT sp.c_nationkey, n_cust, xg,
        |         CAST(sum(x * CAST(round(ln(CAST(x AS DOUBLE) * n_cust
        |           / xg) * 1000000) AS BIGINT)) AS BIGINT) AS wsum
        |       FROM sp JOIN nat USING (c_nationkey)
        |       GROUP BY 1, 2, 3)
        |SELECT c_nationkey, n_cust, xg AS spend_c,
        |       CAST(wsum // xg AS BIGINT) AS within_u,
        |       CAST(xg * CAST(round(ln(CAST(xg AS DOUBLE) * n /
        |            (CAST(xt AS DOUBLE) * n_cust)) * 1000000) AS BIGINT)
        |            // xt AS BIGINT) AS between_u
        |FROM wi CROSS JOIN gl ORDER BY ALL""".stripMargin,
    "q_price_elasticity" ->
      """WITH li AS (SELECT p_brand,
        |    CAST(round(ln(l_quantity) * 1000) AS BIGINT) AS y,
        |    CAST(round(ln(l_extendedprice / l_quantity) * 1000)
        |         AS BIGINT) AS x
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM li GROUP BY 1)
        |SELECT p_brand, n,
        |       CAST((n * sxy - sx * sy) * 1000 //
        |            (n * sxx - sx * sx) AS BIGINT) AS slope_milli
        |FROM m ORDER BY ALL""".stripMargin,
    "q_source_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |ix AS (
        |  SELECT doc_id, source, toks,
        |         unnest(generate_series(0,
        |           CAST((len(toks) - 1) // 5 AS BIGINT))) AS line_idx
        |  FROM tk),
        |sl AS (SELECT DISTINCT source,
        |         array_to_string(toks[line_idx*5+1 : line_idx*5+5], ' ')
        |           AS line
        |       FROM ix),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nl
        |       FROM sl GROUP BY 1),
        |sh AS (SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS shared
        |       FROM sl a JOIN sl b
        |         ON a.line = b.line AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.nl AS na, sb.nl AS nb, shared,
        |       CAST(shared * 10000 // (sa.nl + sb.nl - shared) AS BIGINT)
        |         AS jac_bp
        |FROM sh JOIN sz sa ON src_a = sa.source
        |        JOIN sz sb ON src_b = sb.source
        |ORDER BY ALL""".stripMargin,

    // ---- §2.39 backtest / vector audit / mix divergence / cards ----
    "q_forecast_backtest" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |fc AS (SELECT event_type, day + 7 AS day, cents AS fc
        |       FROM daily)
        |SELECT daily.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(abs(cents - fc)) // count(*) AS BIGINT) AS mae_c,
        |       CAST(sum(cents - fc) // count(*) AS BIGINT) AS bias_c
        |FROM daily JOIN fc USING (event_type, day)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_embedding_outliers" ->
      """WITH q AS (SELECT vec_id, label,
        |    CAST(i AS BIGINT) AS p,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS qx
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)),
        |ct AS (SELECT label, p, CAST(sum(qx) AS BIGINT) //
        |         CAST(count(*) AS BIGINT) AS cq
        |       FROM q GROUP BY 1, 2),
        |cv AS (SELECT label,
        |         list(CAST(cq AS DOUBLE) ORDER BY p) AS cvec
        |       FROM ct GROUP BY 1),
        |sc AS (SELECT vec_id, e.label,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(e.embedding[i] AS DOUBLE) * cvec[i])) AS dot,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(e.embedding[i] AS DOUBLE) *
        |      CAST(e.embedding[i] AS DOUBLE))) AS nv,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      cvec[i] * cvec[i])) AS nc
        |  FROM embeddings e JOIN cv ON e.label = cv.label),
        |r AS (SELECT label, vec_id, dot / sqrt(nv * nc) AS cos,
        |        row_number() OVER (PARTITION BY label
        |          ORDER BY dot / sqrt(nv * nc) ASC, vec_id ASC) AS rn
        |      FROM sc)
        |SELECT label, vec_id, rn, round(cos, 4) AS sim
        |FROM r WHERE rn <= 3 ORDER BY ALL""".stripMargin,
    "q_kl_sources" ->
      """WITH b AS (SELECT source, n_chars // 100 AS bucket
        |           FROM documents),
        |sb AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c_sb
        |       FROM b GROUP BY 1, 2),
        |cb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_b
        |       FROM b GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |       FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_b) AS BIGINT) AS nn,
        |          CAST(count(*) AS BIGINT) AS bb FROM cb),
        |grid AS (SELECT ns.source, ns.n_s, cb.bucket, cb.c_b, nn, bb,
        |           coalesce(sb.c_sb, 0) AS csb
        |         FROM ns CROSS JOIN cb CROSS JOIN tot
        |         LEFT JOIN sb ON ns.source = sb.source
        |                     AND cb.bucket = sb.bucket),
        |lr AS (SELECT source, n_s, bb, csb,
        |    CAST(round(ln(CAST((csb + 1) * (nn + bb) AS DOUBLE) /
        |      (CAST(n_s + bb AS DOUBLE) * (c_b + 1))) * 1000000)
        |      AS BIGINT) AS lr_u
        |  FROM grid)
        |SELECT source, n_s AS n_docs,
        |       CAST(sum(CASE WHEN csb > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_present,
        |       CAST(sum((csb + 1) * lr_u) // (n_s + bb) AS BIGINT)
        |         AS kl_u
        |FROM lr GROUP BY source, n_s, bb ORDER BY ALL""".stripMargin,
    "q_dataset_card" ->
      """WITH d AS (SELECT source, lang, text, n_chars,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS BIGINT) AS n_toks
        |  FROM documents),
        |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS toks,
        |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM d GROUP BY 1),
        |tl AS (SELECT source, lang AS top_lang,
        |         CAST(n AS BIGINT) AS top_lang_docs
        |       FROM (SELECT source, lang, count(*) AS n,
        |               row_number() OVER (PARTITION BY source
        |                 ORDER BY count(*) DESC, lang ASC) AS rn
        |             FROM d GROUP BY source, lang)
        |       WHERE rn = 1)
        |SELECT base.source, n_docs, toks,
        |       CAST((n_docs - n_distinct) * 10000 // n_docs AS BIGINT)
        |         AS dup_bp,
        |       CAST(chars // n_docs AS BIGINT) AS mean_chars,
        |       top_lang, top_lang_docs
        |FROM base JOIN tl USING (source) ORDER BY ALL""".stripMargin,

    // ---- §2.40 causal measurement ----
    // Shared recipes: the §2.27 pre/post cutoff, per-event dollar
    // truncation (cents // 100 — the truncation POINT is part of the
    // contract), q_price_elasticity milli-unit slopes, and ×10³
    // chi-square expectation quantization. 1//0 is NULL in BOTH engines
    // (verified), so degenerate arms/variances agree.
    "q_cuped" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) // 100 AS dollars,
        |    ts < TIMESTAMP '2024-01-16 00:00:00' AS pre
        |  FROM events),
        |ux AS (SELECT event_type AS tt, user_id % 2 = 1 AS treat,
        |        CAST(sum(CASE WHEN pre THEN dollars ELSE 0 END)
        |             AS BIGINT) AS x,
        |        CAST(sum(CASE WHEN pre THEN 0 ELSE dollars END)
        |             AS BIGINT) AS y
        |      FROM e GROUP BY user_id, event_type),
        |m AS (SELECT tt, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
        |          AS nt,
        |        CAST(sum(CASE WHEN treat THEN x ELSE 0 END) AS BIGINT)
        |          AS sxt,
        |        CAST(sum(CASE WHEN treat THEN y ELSE 0 END) AS BIGINT)
        |          AS syt
        |      FROM ux GROUP BY 1),
        |d AS (SELECT tt, n, nt,
        |        CAST((n * sxy - sx * sy) * 1000 //
        |             (n * sxx - sx * sx) AS BIGINT) AS theta_milli,
        |        CAST(syt * 1000 // nt - (sy - syt) * 1000 // (n - nt)
        |             AS BIGINT) AS raw_milli,
        |        CAST(sxt * 1000 // nt - (sx - sxt) * 1000 // (n - nt)
        |             AS BIGINT) AS dx_milli
        |      FROM m)
        |SELECT tt, n, nt, theta_milli, raw_milli,
        |       CAST(raw_milli - theta_milli * dx_milli // 1000
        |            AS BIGINT) AS cuped_milli
        |FROM d ORDER BY ALL""".stripMargin,
    "q_did" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    ts < TIMESTAMP '2024-01-16 00:00:00' AS pre
        |  FROM events),
        |tm AS (SELECT event_type,
        |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pre_t,
        |    CAST(sum(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT)
        |      AS s_pre_t,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_post_t,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT)
        |      AS s_post_t
        |  FROM e WHERE event_type <> 'view' GROUP BY 1),
        |vm AS (SELECT
        |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pre_v,
        |    CAST(sum(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT)
        |      AS s_pre_v,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_post_v,
        |    CAST(sum(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT)
        |      AS s_post_v
        |  FROM e WHERE event_type = 'view')
        |SELECT event_type, n_pre_t, n_post_t,
        |       s_pre_t // n_pre_t AS m_pre_t,
        |       s_post_t // n_post_t AS m_post_t,
        |       s_pre_v // n_pre_v AS m_pre_v,
        |       s_post_v // n_post_v AS m_post_v,
        |       (s_post_t // n_post_t - s_pre_t // n_pre_t)
        |         - (s_post_v // n_post_v - s_pre_v // n_pre_v) AS did_c
        |FROM tm CROSS JOIN vm ORDER BY ALL""".stripMargin,
    "q_srm" ->
      """WITH dt AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    event_type, CAST(count(*) AS BIGINT) AS obs
        |  FROM events GROUP BY 1, 2),
        |tyt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS ty_n
        |        FROM dt GROUP BY 1),
        |g AS (SELECT CAST(sum(ty_n) AS BIGINT) AS g_n FROM tyt),
        |dayt AS (SELECT day, CAST(sum(obs) AS BIGINT) AS day_n
        |         FROM dt GROUP BY 1),
        |x AS (SELECT dt.day, day_n, obs,
        |        day_n * ty_n * 1000 // g_n AS exp_m
        |      FROM dt JOIN tyt USING (event_type)
        |        JOIN dayt USING (day) CROSS JOIN g)
        |SELECT day, CAST(max(day_n) AS BIGINT) AS n_day,
        |       CAST(sum((obs * 1000 - exp_m) * (obs * 1000 - exp_m)
        |                // exp_m) AS BIGINT) AS chi2_e3,
        |       CAST(sum((obs * 1000 - exp_m) * (obs * 1000 - exp_m)
        |                // exp_m) AS BIGINT) > 18467 AS srm_flag
        |FROM x GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_cramers_v" ->
      """WITH cell AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS obs
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS r_n
        |       FROM cell GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(obs) AS BIGINT) AS c_n
        |       FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(sum(r_n) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS r FROM rt),
        |cc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM ct),
        |x AS (SELECT obs, r_n * c_n * 1000 // n AS exp_m, n, r, c
        |      FROM cell JOIN rt USING (event_type)
        |        JOIN ct USING (dow) CROSS JOIN tot CROSS JOIN cc)
        |SELECT n, r, c,
        |       CAST(sum((obs * 1000 - exp_m) * (obs * 1000 - exp_m)
        |                // exp_m) AS BIGINT) AS chi2_e3,
        |       CAST(sum((obs * 1000 - exp_m) * (obs * 1000 - exp_m)
        |                // exp_m) * 10000
        |            // (1000 * n * least(r - 1, c - 1)) AS BIGINT)
        |         AS v2_bp
        |FROM x GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,

    // ---- §2.41 privacy / memorization audits ----
    "q_ldiversity" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       c_mktsegment AS mktsegment,
        |       CAST(count(*) AS BIGINT) AS k,
        |       CAST(count(DISTINCT
        |         CAST(round(c_acctbal) AS BIGINT) // 1000) AS BIGINT)
        |         AS l,
        |       count(DISTINCT
        |         CAST(round(c_acctbal) AS BIGINT) // 1000) < 3
        |         AS risk_flag
        |FROM customer GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_dup_spans" ->
      """WITH t AS (SELECT doc_id, source,
        |             string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |sp AS (SELECT doc_id, source,
        |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
        |         toks[i+6] || ' ' || toks[i+7] AS span
        |       FROM (SELECT doc_id, source,
        |               unnest(generate_series(1, len(toks) - 7)) AS i,
        |               toks FROM t)),
        |df AS (SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        |       FROM sp GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS dup_spans,
        |       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 10000
        |            // count(*) AS BIGINT) AS dup_bp
        |FROM sp JOIN df USING (span)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.42 graph structure metrics ----
    "q_graph_modularity" ->
      s"""$graphCte,
         |l1 AS (SELECT u, least(u, min(v)) AS lbl FROM un GROUP BY u),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |ein AS (SELECT la.lbl, CAST(count(*) AS BIGINT) AS e_in
         |        FROM ed JOIN l1 la ON ed.a_id = la.u
         |          JOIN l1 lb ON ed.b_id = lb.u
         |        WHERE la.lbl = lb.lbl GROUP BY 1),
         |dsum8 AS (SELECT l1.lbl, CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(dg.deg) AS BIGINT) AS d_tot
         |       FROM l1 JOIN dg ON l1.u = dg.u GROUP BY 1)
         |SELECT dsum8.lbl AS label1, n_nodes,
         |       coalesce(e_in, 0) AS e_in, d_tot,
         |       CAST((4 * m * coalesce(e_in, 0) - d_tot * d_tot)
         |            * 1000000 // (4 * m * m) AS BIGINT) AS contrib_e6
         |FROM dsum8 LEFT JOIN ein ON dsum8.lbl = ein.lbl CROSS JOIN mm
         |ORDER BY ALL""".stripMargin,
    "q_assortativity" ->
      s"""$graphCte,
         |p AS (SELECT du.deg AS x, dv.deg AS y
         |      FROM un JOIN dg du ON un.u = du.u
         |        JOIN dg dv ON un.v = dv.u),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x) AS BIGINT) AS sx,
         |        CAST(sum(x * x) AS BIGINT) AS sxx,
         |        CAST(sum(x * y) AS BIGINT) AS sxy
         |      FROM p)
         |SELECT n, sx, sxx, sxy,
         |       CAST((n * sxy - sx * sx) * 1000 //
         |            (n * sxx - sx * sx) AS BIGINT) AS slope_milli
         |FROM m ORDER BY ALL""".stripMargin,
    "q_rich_club" ->
      s"""$graphCte,
         |rk AS (SELECT u, deg,
         |         row_number() OVER (ORDER BY deg DESC, u ASC) AS rn
         |       FROM dg),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM dg),
         |rich AS (SELECT u FROM rk CROSS JOIN nn
         |         WHERE rn <= (n_nodes + 9) // 10),
         |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rich FROM rich),
         |er AS (SELECT CAST(count(*) AS BIGINT) AS e_rich
         |       FROM ed JOIN rich a ON ed.a_id = a.u
         |         JOIN rich b ON ed.b_id = b.u)
         |SELECT n_nodes, n_rich, e_rich,
         |       n_rich * (n_rich - 1) // 2 AS possible,
         |       CAST(e_rich * 10000 // (n_rich * (n_rich - 1) // 2)
         |            AS BIGINT) AS phi_bp
         |FROM nn CROSS JOIN nr CROSS JOIN er ORDER BY ALL""".stripMargin,

    // ---- §2.43 time-series diagnostics ----
    // Shared recipe: per-(type, day) series in whole DOLLARS
    // (sum(cents) // 100, one declared truncation point), windows only
    // over the collapsed ≤|days| daily table.
    "q_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      // 100 AS v
        |  FROM events GROUP BY 1, 2),
        |ix AS (SELECT event_type, day, v,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS idx,
        |    CAST(sum(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM daily),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(v) AS BIGINT) AS tot
        |        FROM daily GROUP BY 1),
        |sc AS (SELECT ix.event_type, day, n * cum - idx * tot AS s_n
        |       FROM ix JOIN tot USING (event_type)),
        |rk AS (SELECT event_type, day, s_n,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY abs(s_n) DESC, day ASC) AS rn
        |       FROM sc)
        |SELECT event_type, day AS cp_day,
        |       CAST(abs(s_n) AS BIGINT) AS s_abs,
        |       CAST(CASE WHEN s_n > 0 THEN 1 WHEN s_n < 0 THEN -1
        |            ELSE 0 END AS BIGINT) AS direction
        |FROM rk WHERE rn = 1 ORDER BY ALL""".stripMargin,
    "q_drawdown" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      // 100 AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day,
        |        CAST(sum(v) OVER w AS BIGINT) AS cum
        |      FROM daily WINDOW w AS (PARTITION BY event_type
        |        ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (SELECT event_type, day, cum,
        |        CAST(max(cum) OVER (PARTITION BY event_type ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS peak
        |      FROM c),
        |rk AS (SELECT event_type, day, peak, peak - cum AS dd,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY peak - cum DESC, day ASC) AS rn
        |       FROM p)
        |SELECT event_type, day AS trough_day, peak,
        |       CAST(dd AS BIGINT) AS max_dd
        |FROM rk WHERE rn = 1 ORDER BY ALL""".stripMargin,
    "q_seasonal_strength" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      // 100 AS v
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(v) AS BIGINT) AS tot
        |        FROM daily GROUP BY 1),
        |dev AS (SELECT daily.event_type, (day + 3) % 7 AS dow, v, n,
        |          tot * 1000 // n AS mean_milli,
        |          v * 1000 - tot * 1000 // n AS dd
        |        FROM daily JOIN tot USING (event_type)),
        |sst AS (SELECT event_type, CAST(sum(dd * dd) AS BIGINT) AS sst,
        |          CAST(max(n) AS BIGINT) AS n_days
        |        FROM dev GROUP BY 1),
        |wg AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS m_w,
        |         CAST(sum(v) AS BIGINT) AS s_w,
        |         CAST(max(mean_milli) AS BIGINT) AS mmw
        |       FROM dev GROUP BY 1, 2),
        |sb AS (SELECT event_type,
        |         CAST(sum(m_w * (s_w * 1000 // m_w - mmw)
        |                  * (s_w * 1000 // m_w - mmw)) AS BIGINT) AS ssb
        |       FROM wg GROUP BY 1)
        |SELECT event_type, n_days, ssb, sst,
        |       CAST(ssb * 10000 // sst AS BIGINT) AS ss_bp
        |FROM sst JOIN sb USING (event_type) ORDER BY ALL""".stripMargin,

    // ---- §2.44 ranking-quality metrics (the q_ndcg retrieval run) ----
    "q_map_at_k" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe,
         |             label AS plabel
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS nid, embedding AS e, label
         |      FROM embeddings),
         |s AS (SELECT pid, plabel, nid, label,
         |        $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON nid <> pid),
         |r AS (SELECT pid,
         |        CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s),
         |tp AS (SELECT pid, rel, rn,
         |         CAST(sum(rel) OVER (PARTITION BY pid ORDER BY rn
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |       FROM r WHERE rn <= 10),
         |g AS (SELECT pid, CAST(sum(rel) AS BIGINT) AS n_rel,
         |        CAST(sum(CASE WHEN rel = 1
         |             THEN cum * 1000000 // rn ELSE 0 END) AS BIGINT)
         |          AS ap_sum_u
         |      FROM tp GROUP BY 1)
         |SELECT pid, n_rel, ap_sum_u,
         |       CAST(CASE WHEN n_rel > 0 THEN ap_sum_u // n_rel
         |            ELSE 0 END AS BIGINT) AS ap_u
         |FROM g ORDER BY ALL""".stripMargin,
    "q_precision_at_k" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe,
         |             label AS plabel
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS nid, embedding AS e, label
         |      FROM embeddings),
         |s AS (SELECT pid, plabel, nid, label,
         |        $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON nid <> pid),
         |r AS (SELECT pid,
         |        CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s),
         |tp AS (SELECT pid, rel, rn FROM r WHERE rn <= 10),
         |ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k)
         |SELECT k, CAST(count(DISTINCT pid) AS BIGINT) AS n_probes,
         |       CAST(sum(rel) AS BIGINT) AS tot_rel,
         |       CAST(sum(rel) * 10000 //
         |            (k * count(DISTINCT pid)) AS BIGINT) AS prec_bp
         |FROM tp CROSS JOIN ks WHERE rn <= k
         |GROUP BY k ORDER BY ALL""".stripMargin,

    // ---- §2.45 set-op / aggregate / window dialect completeness ----
    "q_except_all" ->
      """WITH r AS (SELECT l_suppkey AS suppkey FROM lineitem
        |           WHERE l_returnflag = 'R'
        |           EXCEPT ALL
        |           SELECT l_suppkey FROM lineitem
        |           WHERE l_returnflag = 'A')
        |SELECT suppkey, CAST(count(*) AS BIGINT) AS excess_r
        |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_intersect_all" ->
      """WITH r AS (SELECT l_suppkey AS suppkey FROM lineitem
        |           WHERE l_returnflag = 'R'
        |           INTERSECT ALL
        |           SELECT l_suppkey FROM lineitem
        |           WHERE l_returnflag = 'A')
        |SELECT suppkey, CAST(count(*) AS BIGINT) AS matched_r
        |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_agg_bools" ->
      """SELECT event_type,
        |       bool_and(CAST(round(value * 100) AS BIGINT) > 1000)
        |         AS all_over_10,
        |       bool_or(CAST(round(value * 100) AS BIGINT) > 40000)
        |         AS any_over_400,
        |       CAST(count_if(CAST(round(value * 100) AS BIGINT) > 10000)
        |            AS BIGINT) AS n_over_100,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_window_locf" ->
      """SELECT event_id, user_id,
        |       last_value(CASE WHEN event_type = 'purchase'
        |           THEN CAST(round(value * 100) AS BIGINT) END
        |         IGNORE NULLS) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_purchase_c
        |FROM events ORDER BY ALL""".stripMargin,

    // ---- §2.46 storage-encoding audits ----
    "q_rle_audit" ->
      """WITH r AS (SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (SELECT event_type,
        |        CASE WHEN prev IS NULL OR prev <> event_type
        |             THEN 1 ELSE 0 END AS run_start
        |      FROM r)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(run_start) AS BIGINT) AS n_runs,
        |       CAST(count(*) * 1000 // sum(run_start) AS BIGINT)
        |         AS avg_run_e3
        |FROM f GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_dict_audit" -> {
      def profile(table: String, c: String): String =
        s"""SELECT '$c' AS col_name, n_rows, n_distinct, bits_pv,
           |  raw_bytes, dict_bytes,
           |  dict_bytes + (n_rows * bits_pv + 7) // 8 AS encoded_bytes
           |FROM (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
           |        CAST(count(*) AS BIGINT) AS n_distinct,
           |        CAST(sum(length(v) * cnt) AS BIGINT) AS raw_bytes,
           |        CAST(sum(length(v)) AS BIGINT) AS dict_bytes,
           |        CAST(CASE WHEN count(*) <= 1 THEN 1
           |             ELSE length(bin(count(*) - 1)) END AS BIGINT)
           |          AS bits_pv
           |      FROM (SELECT $c AS v, count(*) AS cnt
           |            FROM $table GROUP BY 1))""".stripMargin
      Seq(profile("lineitem", "l_returnflag"),
        profile("lineitem", "l_linestatus"),
        profile("orders", "o_orderstatus"),
        profile("orders", "o_orderpriority"))
        .mkString("", "\nUNION ALL BY NAME\n", "\nORDER BY ALL")
    },

    // ---- §2.47 pivot / as-of / percentile dialect ----
    "q_pivot_multi" -> {
      val cols = Seq("click", "error", "purchase", "signup", "view")
        .map { t =>
          s"""  CAST(count_if(event_type = '$t') AS BIGINT) AS ${t}_n,
             |  CAST(coalesce(sum(CASE WHEN event_type = '$t'
             |    THEN cents END), 0) AS BIGINT) AS ${t}_c""".stripMargin
        }.mkString(",\n")
      s"""SELECT user_id,
         |$cols
         |FROM (SELECT user_id, event_type,
         |        CAST(round(value * 100) AS BIGINT) AS cents
         |      FROM events)
         |GROUP BY 1 ORDER BY ALL""".stripMargin
    },
    "q_percentile_disc" ->
      """WITH h AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |tot AS (SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.o_orderpriority, cents, n,
        |        CAST(sum(cnt) OVER (PARTITION BY h.o_orderpriority
        |          ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM h JOIN tot USING (o_orderpriority)),
        |p50 AS (SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
        |          CAST(min(cents) AS BIGINT) AS p50
        |        FROM c WHERE cum * 100 >= n * 50 GROUP BY 1),
        |p90 AS (SELECT o_orderpriority, CAST(min(cents) AS BIGINT) AS p90
        |        FROM c WHERE cum * 100 >= n * 90 GROUP BY 1),
        |p99 AS (SELECT o_orderpriority, CAST(min(cents) AS BIGINT) AS p99
        |        FROM c WHERE cum * 100 >= n * 99 GROUP BY 1)
        |SELECT o_orderpriority, n, p50, p90, p99
        |FROM p50 JOIN p90 USING (o_orderpriority)
        |  JOIN p99 USING (o_orderpriority) ORDER BY ALL""".stripMargin,
    "q_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(ts) AS us
        |           FROM events),
        |w AS (SELECT event_id, user_id, us,
        |        max(CASE WHEN event_type = 'signup' THEN us END)
        |          OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS prev_signup_us,
        |        min(CASE WHEN event_type = 'error' THEN us END)
        |          OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |          AS next_error_us
        |      FROM e)
        |SELECT event_id, user_id,
        |       CASE WHEN us - prev_signup_us <= 86400000000
        |            THEN prev_signup_us END AS signup_24h_us,
        |       CASE WHEN next_error_us - us <= 3600000000
        |            THEN next_error_us END AS error_1h_us
        |FROM w ORDER BY ALL""".stripMargin,

    // ---- §2.48 curation funnels / predictability ----
    "q_filter_funnel" -> {
      val stops = Seq("the", "a", "of", "and", "to", "in", "is", "for")
      val nStop = stops.map(w =>
        s"CAST(list_contains(toks, '$w') AS BIGINT)").mkString(" + ")
      s"""WITH d AS (SELECT source, n_chars,
         |    string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |f AS (SELECT source,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |    n_chars - (CAST(len(toks) AS BIGINT) - 1) AS tok_chars,
         |    $nStop AS n_stop
         |  FROM d),
         |g AS (SELECT source,
         |    n_toks >= 50 AND n_toks <= 100000 AS g_len,
         |    tok_chars >= n_toks * 3 AND tok_chars <= n_toks * 10
         |      AS g_wordlen,
         |    n_distinct * 10 >= n_toks * 3 AS g_ttr,
         |    n_stop >= 2 AS g_stop
         |  FROM f)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count_if(g_len) AS BIGINT) AS pass_len,
         |  CAST(count_if(g_wordlen) AS BIGINT) AS pass_wordlen,
         |  CAST(count_if(g_ttr) AS BIGINT) AS pass_ttr,
         |  CAST(count_if(g_stop) AS BIGINT) AS pass_stop,
         |  CAST(count_if(g_len AND g_wordlen AND g_ttr AND g_stop)
         |       AS BIGINT) AS pass_all
         |FROM g GROUP BY 1 ORDER BY ALL""".stripMargin
    },
    "q_dedup_cascade" ->
      """WITH d AS (SELECT source, text,
        |    array_to_string(string_split(lower(text), ' ')[1:8], ' ')
        |      AS pkey
        |  FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(count(DISTINCT text) AS BIGINT) AS n_exact,
        |        CAST(count(DISTINCT pkey) AS BIGINT) AS n_prefix
        |      FROM d GROUP BY 1)
        |SELECT source, n_docs, n_exact, n_prefix,
        |       (n_docs - n_exact) * 10000 // n_docs AS exact_removed_bp,
        |       (n_exact - n_prefix) * 10000 // n_exact
        |         AS prefix_removed_bp
        |FROM a ORDER BY ALL""".stripMargin,
    "q_bigram_entropy" ->
      """WITH t AS (SELECT source, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |bg AS (SELECT source, toks[i] AS a, toks[i + 1] AS b
        |       FROM (SELECT source, toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i
        |             FROM t)),
        |bi AS (SELECT source, a, b, CAST(count(*) AS BIGINT) AS n_ab
        |       FROM bg GROUP BY 1, 2, 3),
        |hd AS (SELECT source, a, CAST(sum(n_ab) AS BIGINT) AS n_a
        |       FROM bi GROUP BY 1, 2),
        |m AS (SELECT bi.source, CAST(sum(n_ab) AS BIGINT) AS n_bigrams,
        |        CAST(count(*) AS BIGINT) AS n_distinct_bg,
        |        CAST(sum(n_ab * CAST(round(ln(CAST(n_a AS DOUBLE)
        |             / n_ab) * 1000000) AS BIGINT)) AS BIGINT)
        |          AS h_sum_u
        |      FROM bi JOIN hd USING (source, a) GROUP BY 1)
        |SELECT source, n_bigrams, n_distinct_bg, h_sum_u,
        |       CAST(h_sum_u // n_bigrams AS BIGINT) AS h_u
        |FROM m ORDER BY ALL""".stripMargin,

    // ---- §2.49 remaining expressible TPC-H twins ----
    "q_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  ${dsumExact("CAST(l_extendedprice AS DECIMAL(15,2))")}
         |    AS sum_base_price,
         |  ${dsumExact(discPrice)} AS sum_disc_price,
         |  ${dsumExact(charge)} AS sum_charge,
         |  CAST(count(*) AS BIGINT) AS count_order,
         |  round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         |        / count(*), 4) AS avg_qty,
         |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)))
         |        AS DOUBLE) / count(*), 4) AS avg_price,
         |  round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
         |        / count(*), 4) AS avg_disc
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_tpch_q6" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
        |        * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2)
        |         AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2))
        |        BETWEEN CAST(0.05 AS DECIMAL(4,2))
        |            AND CAST(0.07 AS DECIMAL(4,2))
        |  AND l_quantity < 24 ORDER BY ALL""".stripMargin,
    "q_tpch_q19" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
         |       ${dsumExact(discPrice)} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
         |        AND p_size BETWEEN 1 AND 5)
         |   OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20
         |        AND p_size BETWEEN 1 AND 10)
         |   OR (p_brand = 'Brand#20' AND l_quantity BETWEEN 20 AND 30
         |        AND p_size BETWEEN 1 AND 15)
         |ORDER BY ALL""".stripMargin,

    // ---- §2.50 engagement analytics ----
    "q_type_affinity" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nm
        |      FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        CAST(count(*) AS BIGINT) AS n_both
        |      FROM ut a JOIN ut b ON a.user_id = b.user_id
        |        AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, ma.nm AS n_a, mb.nm AS n_b,
        |       CAST(n_both * 10000 // (ma.nm + mb.nm - n_both)
        |            AS BIGINT) AS jaccard_bp
        |FROM p JOIN m ma ON p.type_a = ma.event_type
        |       JOIN m mb ON p.type_b = mb.event_type
        |ORDER BY ALL""".stripMargin,
    "q_active_days" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |              epoch_us(ts) // 86400000000 AS day
        |            FROM events),
        |pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS days_active
        |       FROM ud GROUP BY 1)
        |SELECT days_active, CAST(count(*) AS BIGINT) AS n_users
        |FROM pu GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_stickiness" ->
      """WITH tdu AS (SELECT DISTINCT event_type,
        |               epoch_us(ts) // 86400000000 AS day, user_id
        |             FROM events),
        |d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sum_dau,
        |        CAST(count(DISTINCT day) AS BIGINT) AS n_days
        |      FROM tdu GROUP BY 1),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS actives
        |      FROM (SELECT DISTINCT event_type, user_id FROM tdu)
        |      GROUP BY 1)
        |SELECT event_type, n_days, sum_dau, actives,
        |       CAST(sum_dau * 10000 // (n_days * actives) AS BIGINT)
        |         AS stickiness_bp
        |FROM d JOIN m USING (event_type) ORDER BY ALL""".stripMargin,

    // ---- §2.51 BI decomposition ----
    "q_qq_deciles" ->
      """WITH h AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.event_type, cents, n,
        |        CAST(sum(cnt) OVER (PARTITION BY h.event_type
        |          ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM h JOIN tot USING (event_type)),
        |g AS (SELECT CAST(unnest(generate_series(1, 9)) * 10 AS BIGINT)
        |        AS d),
        |q AS (SELECT event_type, d, CAST(min(cents) AS BIGINT) AS q
        |      FROM c CROSS JOIN g WHERE cum * 100 >= n * d
        |      GROUP BY 1, 2)
        |SELECT t.event_type AS tt, t.d, t.q AS q_t, v.q AS q_v,
        |       t.q - v.q AS gap_c
        |FROM q t JOIN q v ON t.d = v.d AND v.event_type = 'view'
        |WHERE t.event_type <> 'view' ORDER BY ALL""".stripMargin,
    "q_abc_class" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round((1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS rev10k
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev10k) AS BIGINT) AS tot FROM rev),
        |c AS (SELECT rev10k,
        |        CAST(coalesce(sum(rev10k) OVER (
        |          ORDER BY rev10k DESC, l_partkey ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS BIGINT) AS cum_before
        |      FROM rev),
        |k AS (SELECT rev10k,
        |        CASE WHEN cum_before * 5 < tot * 4 THEN 'A'
        |             WHEN cum_before * 20 < tot * 19 THEN 'B'
        |             ELSE 'C' END AS cls
        |      FROM c CROSS JOIN tot)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(rev10k) AS BIGINT) AS rev_10k,
        |       CAST(sum(rev10k) * 10000 // tot AS BIGINT) AS share_bp
        |FROM k CROSS JOIN tot GROUP BY cls, tot ORDER BY ALL""".stripMargin,
    "q_price_volume_mix" ->
      """WITH li AS (SELECT p_brand, year(l_shipdate) AS yr,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round((1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS rev10k,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE year(l_shipdate) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |y1 AS (SELECT p_brand, rev10k AS rev1, qty AS q1 FROM li
        |       WHERE yr = 1996),
        |y2 AS (SELECT p_brand, rev10k AS rev2, qty AS q2 FROM li
        |       WHERE yr = 1997),
        |j AS (SELECT p_brand, rev1, rev2, q1, q2,
        |        rev1 // q1 AS p1, rev2 // q2 AS p2
        |      FROM y1 JOIN y2 USING (p_brand))
        |SELECT p_brand, rev1, rev2,
        |       (q2 - q1) * p1 AS vol_eff,
        |       (p2 - p1) * q2 AS price_eff,
        |       rev2 - rev1 - (q2 - q1) * p1 - (p2 - p1) * q2 AS resid
        |FROM j ORDER BY ALL""".stripMargin,

    // ---- §2.52 IR / search primitives ----
    "q_phrase_search" ->
      """WITH p AS (SELECT doc_id,
        |    unnest(generate_series(1, len(toks))) AS pos, toks
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |        FROM documents))
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos
        |FROM p WHERE toks[pos] = 'merge' AND toks[pos + 1] = 'join'
        |ORDER BY ALL""".stripMargin,
    "q_boolean_search" ->
      """WITH post AS (SELECT DISTINCT doc_id, unnest(
        |    string_split(lower(text), ' ')) AS token
        |  FROM documents)
        |SELECT d.doc_id, d.source
        |FROM documents d
        |WHERE EXISTS (SELECT 1 FROM post
        |              WHERE doc_id = d.doc_id AND token = 'hash')
        |  AND EXISTS (SELECT 1 FROM post
        |              WHERE doc_id = d.doc_id AND token = 'join')
        |  AND NOT EXISTS (SELECT 1 FROM post
        |              WHERE doc_id = d.doc_id AND token = 'stream')
        |ORDER BY ALL""".stripMargin,

    // ---- §2.53 temporal profiling ----
    "q_rolling_beta" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'view'
        |         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |         AS BIGINT) // 100000 AS x1,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |         AS BIGINT) // 100000 AS x2
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |r AS (SELECT day,
        |        CAST(count(*) OVER w AS BIGINT) AS nw,
        |        CAST(sum(x1) OVER w AS BIGINT) AS sx,
        |        CAST(sum(x2) OVER w AS BIGINT) AS sy,
        |        CAST(sum(x1 * x1) OVER w AS BIGINT) AS sxx,
        |        CAST(sum(x1 * x2) OVER w AS BIGINT) AS sxy
        |      FROM daily WINDOW w AS (ORDER BY day
        |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, nw,
        |       CAST(CASE WHEN nw * sxx - sx * sx = 0 THEN NULL
        |            ELSE (nw * sxy - sx * sy) * 1000 //
        |                 (nw * sxx - sx * sx) END AS BIGINT)
        |         AS beta_milli
        |FROM r ORDER BY ALL""".stripMargin,
    "q_log_histogram" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, CAST(length(bin(cents)) AS BIGINT) AS nbits,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(cents) AS BIGINT) AS lo,
        |       CAST(max(cents) AS BIGINT) AS hi
        |FROM e WHERE cents > 0
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_peak_hour" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
        |        FROM h GROUP BY 1),
        |rk AS (SELECT event_type, hour, n,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY n DESC, hour ASC) AS rn
        |       FROM h)
        |SELECT rk.event_type, CAST(hour AS BIGINT) AS peak_hour,
        |       n AS n_peak, CAST(n * 10000 // tot AS BIGINT) AS share_bp
        |FROM rk JOIN tot USING (event_type)
        |WHERE rn = 1 ORDER BY ALL""".stripMargin,

    // ---- §2.54 survey-sampling estimator audits ----
    "q_ht_estimate" ->
      """WITH e AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 1) = '0' AS ina
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS true_cents,
        |       CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_sample,
        |       CAST(sum(CASE WHEN ina THEN cents ELSE 0 END) * 16
        |            AS BIGINT) AS ht_cents,
        |       CAST(abs(sum(CASE WHEN ina THEN cents ELSE 0 END) * 16
        |            - sum(cents)) * 10000 // sum(cents) AS BIGINT)
        |         AS err_bp
        |FROM e GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_capture_recapture" ->
      """WITH u AS (SELECT event_type, user_id,
        |    max(substring(md5(CAST(user_id AS VARCHAR) || ':cra'), 1, 1)
        |        IN ('0', '1', '2', '3')) AS in_a,
        |    max(substring(md5(CAST(user_id AS VARCHAR) || ':crb'), 1, 1)
        |        IN ('0', '1', '2', '3')) AS in_b
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_users,
        |        CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n1,
        |        CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n2,
        |        CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
        |             AS BIGINT) AS m
        |      FROM u GROUP BY 1)
        |SELECT event_type, true_users, n1, n2, m,
        |       CAST(CASE WHEN m = 0 THEN NULL
        |            ELSE n1 * n2 // m END AS BIGINT) AS est_users,
        |       CAST(abs(CASE WHEN m = 0 THEN NULL
        |                ELSE n1 * n2 // m END - true_users) * 10000
        |            // true_users AS BIGINT) AS err_bp
        |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.55 vocabulary health / audience venn ----
    "q_hapax" ->
      """WITH c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT source,
        |          unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE token <> '' GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS hapax,
        |       CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS dis,
        |       CAST(sum(cnt) AS BIGINT) AS tokens,
        |       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 10000
        |            // count(*) AS BIGINT) AS hapax_bp
        |FROM c GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_venn3" ->
      """WITH u AS (SELECT user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) > 330000 AS a,
        |    count(DISTINCT epoch_us(ts) // 86400000000) >= 28 AS b,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 13 AS c
        |  FROM events GROUP BY 1)
        |SELECT a, b, c, CAST(count(*) AS BIGINT) AS n_users
        |FROM u GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,
    "q_doclen_disc" ->
      """WITH h AS (SELECT source, n_chars, CAST(count(*) AS BIGINT)
        |    AS cnt
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.source, n_chars, n,
        |        CAST(sum(cnt) OVER (PARTITION BY h.source
        |          ORDER BY n_chars
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM h JOIN tot USING (source)),
        |p50 AS (SELECT source, CAST(max(n) AS BIGINT) AS n,
        |          CAST(min(n_chars) AS BIGINT) AS p50
        |        FROM c WHERE cum * 100 >= n * 50 GROUP BY 1),
        |p90 AS (SELECT source, CAST(min(n_chars) AS BIGINT) AS p90
        |        FROM c WHERE cum * 100 >= n * 90 GROUP BY 1),
        |p99 AS (SELECT source, CAST(min(n_chars) AS BIGINT) AS p99
        |        FROM c WHERE cum * 100 >= n * 99 GROUP BY 1)
        |SELECT source, n, p50, p90, p99
        |FROM p50 JOIN p90 USING (source) JOIN p99 USING (source)
        |ORDER BY ALL""".stripMargin,

    // ---- §2.56 diversity / information-theory audits ----
    "q_simpson" ->
      """WITH c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source,
        |          unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE token <> '' GROUP BY 1, 2),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |        CAST(sum(c) AS BIGINT) AS n_tokens,
        |        CAST(sum(c * (c - 1)) AS BIGINT) AS coll
        |      FROM c GROUP BY 1)
        |SELECT source, vocab, n_tokens, coll,
        |       CAST(CASE WHEN n_tokens < 2 THEN NULL ELSE
        |         CAST(coll AS HUGEINT) * 1000000000
        |           // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) END
        |            AS BIGINT) AS simpson_ppb,
        |       CAST(CASE WHEN coll = 0 OR n_tokens < 2 THEN NULL ELSE
        |         CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 1000
        |           // coll END AS BIGINT)
        |         AS eff_vocab_milli
        |FROM g ORDER BY ALL""".stripMargin,
    "q_jsd_sources" ->
      """WITH st AS (SELECT source, token
        |  FROM (SELECT source,
        |          unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE token <> ''),
        |sc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c_st
        |       FROM st GROUP BY 1, 2),
        |ct AS (SELECT token, CAST(count(*) AS BIGINT) AS c_t
        |       FROM st GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |       FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS nn,
        |          CAST(count(*) AS BIGINT) AS vv FROM ct),
        |grid AS (SELECT ns.source, ns.n_s, ct.token, ct.c_t, nn, vv,
        |           COALESCE(sc.c_st, 0) + 1 AS c1,
        |           ct.c_t - COALESCE(sc.c_st, 0) + 1 AS c2,
        |           ns.n_s + vv AS d1, nn - ns.n_s + vv AS d2
        |         FROM ct CROSS JOIN ns CROSS JOIN tot
        |         LEFT JOIN sc ON sc.source = ns.source
        |                     AND sc.token = ct.token),
        |q AS (SELECT source, n_s, d1, d2,
        |        c1 * CAST(round(ln(CAST(2 * c1 * d2 AS DOUBLE) /
        |          CAST(c1 * d2 + c2 * d1 AS DOUBLE)) * 1000000)
        |          AS BIGINT) AS t1,
        |        c2 * CAST(round(ln(CAST(2 * c2 * d1 AS DOUBLE) /
        |          CAST(c1 * d2 + c2 * d1 AS DOUBLE)) * 1000000)
        |          AS BIGINT) AS t2
        |      FROM grid)
        |SELECT source, n_s AS n_tokens,
        |       CAST(((sum(t1) + d1) // d1 + (sum(t2) + d2) // d2) // 2
        |            - 1 AS BIGINT) AS jsd_u
        |FROM q GROUP BY source, n_s, d1, d2 ORDER BY ALL""".stripMargin,
    "q_mutual_info" ->
      """WITH cell AS (SELECT event_type AS x,
        |    (epoch_us(ts) // 3600000000) % 24 AS y,
        |    CAST(count(*) AS BIGINT) AS n_xy
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x
        |       FROM cell GROUP BY 1),
        |my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y
        |       FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nn FROM cell),
        |mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |         CAST(max(nn) AS BIGINT) AS n,
        |         CAST((sum(n_xy * CAST(round(ln(
        |           CAST(n_xy * nn AS DOUBLE) /
        |           CAST(n_x * n_y AS DOUBLE)) * 1000000) AS BIGINT))
        |           + max(nn)) // max(nn) - 1 AS BIGINT) AS mi_u
        |       FROM cell JOIN mx USING (x) JOIN my USING (y)
        |       CROSS JOIN tot),
        |h AS (SELECT CAST(sum(n_x * CAST(round(ln(
        |          CAST(nn AS DOUBLE) / n_x) * 1000000) AS BIGINT))
        |          // max(nn) AS BIGINT) AS h_type_u
        |      FROM mx CROSS JOIN tot)
        |SELECT n_cells, n, mi_u, h_type_u FROM mi CROSS JOIN h
        |ORDER BY ALL""".stripMargin,

    // ---- §2.57 classifier-agreement audits ----
    "q_cohens_kappa" ->
      """WITH f AS (SELECT source, n_chars >= 306 AS ra,
        |    list_contains(string_split(lower(text), ' '), 'join') AND
        |    list_contains(string_split(lower(text), ' '), 'query')
        |      AS rb
        |  FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_agree,
        |        CAST(sum(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT)
        |          AS a1,
        |        CAST(sum(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT)
        |          AS b1
        |      FROM f GROUP BY 1)
        |SELECT source, n,
        |       CAST(n_agree * 10000 // n AS BIGINT) AS po_bp,
        |       CAST((a1 * b1 + (n - a1) * (n - b1)) * 10000 // (n * n)
        |            AS BIGINT) AS pe_bp,
        |       CAST(CASE WHEN n * n = a1 * b1 + (n - a1) * (n - b1)
        |            THEN NULL
        |            ELSE ((n * n_agree - a1 * b1 - (n - a1) * (n - b1))
        |                  * 1000
        |                  + 1001 * (n * n - a1 * b1
        |                            - (n - a1) * (n - b1)))
        |                 // (n * n - a1 * b1 - (n - a1) * (n - b1))
        |                 - 1001 END AS BIGINT) AS kappa_milli
        |FROM g ORDER BY ALL""".stripMargin,
    "q_f1_class" ->
      s"""WITH ${sgnCte(110, 120)},
         |sc AS (SELECT vec_id, label, j,
         |         ${planeDot("embedding")} AS dot
         |       FROM embeddings CROSS JOIN sgn),
         |pr AS (SELECT CAST(label AS BIGINT) AS truth,
         |         CAST(j - 110 AS BIGINT) AS pred
         |       FROM (SELECT vec_id, label, j, ROW_NUMBER() OVER (
         |               PARTITION BY vec_id
         |               ORDER BY dot DESC, j ASC) AS rn
         |             FROM sc) WHERE rn = 1),
         |r AS (SELECT truth AS class, CAST(count(*) AS BIGINT)
         |        AS row_tot FROM pr GROUP BY 1),
         |c AS (SELECT pred AS class, CAST(count(*) AS BIGINT)
         |        AS col_tot FROM pr GROUP BY 1),
         |d AS (SELECT truth AS class, CAST(count(*) AS BIGINT) AS tp
         |      FROM pr WHERE truth = pred GROUP BY 1),
         |m AS (SELECT COALESCE(r.class, c.class) AS class,
         |        COALESCE(row_tot, 0) AS row_tot,
         |        COALESCE(col_tot, 0) AS col_tot
         |      FROM r FULL OUTER JOIN c ON r.class = c.class)
         |SELECT m.class, row_tot, col_tot,
         |       COALESCE(tp, 0) AS tp,
         |       CAST(CASE WHEN col_tot = 0 THEN NULL
         |            ELSE COALESCE(tp, 0) * 10000 // col_tot END
         |            AS BIGINT) AS precision_bp,
         |       CAST(CASE WHEN row_tot = 0 THEN NULL
         |            ELSE COALESCE(tp, 0) * 10000 // row_tot END
         |            AS BIGINT) AS recall_bp,
         |       CAST(CASE WHEN row_tot + col_tot = 0 THEN NULL
         |            ELSE 2 * COALESCE(tp, 0) * 10000
         |                 // (row_tot + col_tot) END AS BIGINT) AS f1_bp
         |FROM m LEFT JOIN d ON m.class = d.class
         |ORDER BY ALL""".stripMargin,
    "q_mcc" ->
      s"""WITH ${sgnCte(103, 104)},
         |f AS (SELECT ${planeDot("embedding")} >= 0 AS pred,
         |        label >= 5 AS truth
         |      FROM embeddings CROSS JOIN sgn),
         |g AS (SELECT
         |    CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END)
         |         AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0
         |             END) AS BIGINT) AS tn
         |  FROM f)
         |SELECT tp, fp, fn, tn,
         |       CAST(CASE WHEN (tp + fp) * (tp + fn) * (tn + fp)
         |                      * (tn + fn) = 0 THEN NULL
         |            ELSE round(CAST(tp * tn - fp * fn AS DOUBLE) * 1000
         |                 / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
         |                        * (tn + fp) * (tn + fn)))
         |            END AS BIGINT) AS mcc_milli
         |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.58 concentration / inequality readouts ----
    "q_lorenz" ->
      """WITH sp AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS sp
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sp),
        |d AS (SELECT (ROW_NUMBER() OVER (ORDER BY sp, o_custkey) - 1)
        |          * 10 // n AS decile, sp
        |      FROM sp CROSS JOIN n),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |        CAST(sum(sp) AS BIGINT) AS cents
        |      FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, n_cust, cents,
        |       CAST(cents * 10000 // tot AS BIGINT) AS share_bp,
        |       CAST(CAST(sum(cents) OVER (ORDER BY decile
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) * 10000 // tot AS BIGINT)
        |         AS cum_share_bp
        |FROM g CROSS JOIN tot ORDER BY ALL""".stripMargin,
    "q_hhi" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT n_name, rev FROM rev
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |       CAST(sum(rev) AS BIGINT) AS tot_cents,
        |       CAST(sum(CAST(rev AS HUGEINT) * rev) * 1000000
        |            // (CAST(sum(rev) AS HUGEINT) * sum(rev))
        |            AS BIGINT) AS hhi_ppm
        |FROM j GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_crk_share" ->
      """WITH rb AS (SELECT r_name, p_brand,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT r_name, rev, ROW_NUMBER() OVER (
        |         PARTITION BY r_name ORDER BY rev DESC, p_brand ASC)
        |         AS rk
        |       FROM rb),
        |g AS (SELECT r_name, CAST(count(*) AS BIGINT) AS n_brands,
        |        CAST(sum(rev) AS BIGINT) AS tot_cents,
        |        CAST(sum(CASE WHEN rk <= 1 THEN rev ELSE 0 END)
        |             AS BIGINT) AS top1,
        |        CAST(sum(CASE WHEN rk <= 4 THEN rev ELSE 0 END)
        |             AS BIGINT) AS top4,
        |        CAST(sum(CASE WHEN rk <= 8 THEN rev ELSE 0 END)
        |             AS BIGINT) AS top8
        |      FROM rk GROUP BY 1)
        |SELECT r_name, n_brands, tot_cents,
        |       CAST(top1 * 10000 // tot_cents AS BIGINT) AS cr1_bp,
        |       CAST(top4 * 10000 // tot_cents AS BIGINT) AS cr4_bp,
        |       CAST(top8 * 10000 // tot_cents AS BIGINT) AS cr8_bp
        |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.59 distribution-shape diagnostics ----
    "q_anova" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g,
        |        CAST(sum(n_chars) AS BIGINT) AS s_g,
        |        CAST(sum(n_chars * n_chars) AS BIGINT) AS q_g
        |      FROM documents GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(n_g) AS BIGINT) AS n,
        |        CAST(sum(s_g) AS BIGINT) AS s,
        |        CAST(sum(q_g) AS BIGINT) AS q,
        |        CAST(sum((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g)
        |             AS BIGINT) AS a_u
        |      FROM g),
        |b AS (SELECT k, n, s, q, a_u,
        |        a_u - CAST((CAST(s AS HUGEINT) * s * 1000000) // n
        |                   AS BIGINT) AS ssb_u,
        |        q * 1000000 - a_u AS ssw_u
        |      FROM a)
        |SELECT k, n, ssb_u, ssw_u,
        |       CAST(CASE WHEN ssw_u = 0 OR k <= 1 THEN NULL
        |            ELSE round(CAST(ssb_u AS DOUBLE) * (n - k) * 1000
        |                 / (CAST(ssw_u AS DOUBLE) * (k - 1))) END
        |            AS BIGINT) AS f_milli
        |FROM b ORDER BY ALL""".stripMargin,
    "q_tukey_fences" ->
      """WITH h AS (SELECT event_type AS grp,
        |    CAST(round(value * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.grp, v, cnt, n,
        |        CAST(sum(cnt) OVER (PARTITION BY h.grp ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM h JOIN tot USING (grp)),
        |q1 AS (SELECT grp, CAST(min(v) AS BIGINT) AS q1 FROM c
        |       WHERE cum * 100 >= n * 25 GROUP BY 1),
        |q3 AS (SELECT grp, CAST(min(v) AS BIGINT) AS q3 FROM c
        |       WHERE cum * 100 >= n * 75 GROUP BY 1),
        |f AS (SELECT grp, q1, q3,
        |        q1 - (3 * (q3 - q1)) // 2 AS lo,
        |        q3 + (3 * (q3 - q1)) // 2 AS hi
        |      FROM q1 JOIN q3 USING (grp))
        |SELECT c.grp AS event_type, CAST(max(n) AS BIGINT) AS n,
        |       q1, q3, lo, hi,
        |       CAST(sum(CASE WHEN v < lo THEN cnt ELSE 0 END)
        |            AS BIGINT) AS n_out_lo,
        |       CAST(sum(CASE WHEN v > hi THEN cnt ELSE 0 END)
        |            AS BIGINT) AS n_out_hi
        |FROM c JOIN f USING (grp)
        |GROUP BY c.grp, q1, q3, lo, hi ORDER BY ALL""".stripMargin,
    "q_bowley_skew" ->
      """WITH h AS (SELECT source AS grp, n_chars AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.grp, v, n,
        |        CAST(sum(cnt) OVER (PARTITION BY h.grp ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM h JOIN tot USING (grp)),
        |q1 AS (SELECT grp, CAST(min(v) AS BIGINT) AS q1 FROM c
        |       WHERE cum * 100 >= n * 25 GROUP BY 1),
        |q2 AS (SELECT grp, CAST(min(v) AS BIGINT) AS q2 FROM c
        |       WHERE cum * 100 >= n * 50 GROUP BY 1),
        |q3 AS (SELECT grp, CAST(min(v) AS BIGINT) AS q3 FROM c
        |       WHERE cum * 100 >= n * 75 GROUP BY 1)
        |SELECT grp AS source, q1, q2, q3,
        |       CAST(CASE WHEN q3 = q1 THEN NULL
        |            ELSE ((q1 + q3 - 2 * q2) * 1000
        |                  + 1001 * (q3 - q1)) // (q3 - q1) - 1001 END
        |            AS BIGINT) AS bowley_milli
        |FROM q1 JOIN q2 USING (grp) JOIN q3 USING (grp)
        |ORDER BY ALL""".stripMargin,

    // ---- §2.60 dataset-profile readouts ----
    "q_dup_profile" ->
      """WITH sz AS (SELECT text, CAST(count(*) AS BIGINT) AS k
        |  FROM documents GROUP BY 1),
        |h AS (SELECT k, CAST(count(*) AS BIGINT) AS n_clusters
        |      FROM sz GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
        |        FROM documents)
        |SELECT k, n_clusters,
        |       CAST(k * n_clusters AS BIGINT) AS docs,
        |       CAST((k - 1) * n_clusters AS BIGINT) AS redundant,
        |       CAST(k * n_clusters * 10000 // n_docs AS BIGINT)
        |         AS share_bp
        |FROM h CROSS JOIN tot ORDER BY ALL""".stripMargin,
    "q_effective_rank" ->
      """WITH x AS (SELECT CAST(i AS BIGINT) AS pos,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS x_u
        |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
        |g AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x_u) AS BIGINT) AS s_u,
        |        CAST(sum(x_u * x_u) AS BIGINT) AS q_u
        |      FROM x GROUP BY 1),
        |v AS (SELECT pos,
        |        CAST((CAST(n AS HUGEINT) * q_u
        |              - CAST(s_u AS HUGEINT) * s_u)
        |             // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_cu
        |      FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS dims,
        |       CAST(sum(var_cu) AS BIGINT) AS var_sum_cu,
        |       CASE WHEN sum(CAST(var_cu AS HUGEINT) * var_cu) = 0
        |         THEN NULL ELSE
        |         CAST(CAST(sum(var_cu) AS HUGEINT) * sum(var_cu) * 1000
        |           // sum(CAST(var_cu AS HUGEINT) * var_cu) AS BIGINT)
        |         END AS pr_milli
        |FROM v ORDER BY ALL""".stripMargin,

    "q_embed_variance" ->
      """WITH x AS (SELECT CAST(i AS BIGINT) AS pos,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS x_u
        |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
        |g AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x_u) AS BIGINT) AS s_u,
        |        CAST(sum(x_u * x_u) AS BIGINT) AS q_u
        |      FROM x GROUP BY 1)
        |SELECT pos, n, s_u, q_u,
        |       CAST((CAST(n AS HUGEINT) * q_u
        |             - CAST(s_u AS HUGEINT) * s_u)
        |            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_cu
        |FROM g ORDER BY ALL""".stripMargin,
    "q_order_profile" ->
      """WITH per AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM per)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS rev_cents,
        |       CAST(sum(cents) * 10000 // tot AS BIGINT)
        |         AS rev_share_bp
        |FROM per CROSS JOIN tot GROUP BY k, tot ORDER BY ALL""".stripMargin,

    // ---- §2.61 distribution-shift audits ----
    "q_psi" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) // 1000 AS bin,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |             THEN 0 ELSE 1 END) AS BIGINT) AS n_post
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n_pre) AS BIGINT) AS tp,
        |          CAST(sum(n_post) AS BIGINT) AS tq,
        |          CAST(count(*) AS BIGINT) AS bb
        |        FROM b GROUP BY 1),
        |g AS (SELECT b.event_type, n_pre + 1 AS c1, n_post + 1 AS c2,
        |        tp + bb AS d1, tq + bb AS d2, tp, tq
        |      FROM b JOIN tot USING (event_type)),
        |q AS (SELECT event_type, d1, d2, tp, tq,
        |        c1 * CAST(round(ln(CAST(c1 * d2 AS DOUBLE) /
        |          CAST(c2 * d1 AS DOUBLE)) * 1000000) AS BIGINT) AS t1,
        |        c2 * CAST(round(ln(CAST(c1 * d2 AS DOUBLE) /
        |          CAST(c2 * d1 AS DOUBLE)) * 1000000) AS BIGINT) AS t2
        |      FROM g)
        |SELECT event_type, tp AS n_pre, tq AS n_post,
        |       CAST(count(*) AS BIGINT) AS n_bins,
        |       CAST(((sum(t1) + 100000000 * d1) // d1 - 100000000)
        |            - ((sum(t2) + 100000000 * d2) // d2 - 100000000)
        |            AS BIGINT) AS psi_u
        |FROM q GROUP BY event_type, d1, d2, tp, tq
        |ORDER BY ALL""".stripMargin,
    "q_bhattacharyya" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) // 1000 AS bin,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |             THEN 0 ELSE 1 END) AS BIGINT) AS n_post
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n_pre) AS BIGINT) AS tp,
        |          CAST(sum(n_post) AS BIGINT) AS tq,
        |          CAST(count(*) AS BIGINT) AS bb
        |        FROM b GROUP BY 1),
        |g AS (SELECT b.event_type, tp, tq,
        |        CAST(round(sqrt(
        |          CAST((n_pre + 1) * (n_post + 1) AS DOUBLE) /
        |          (CAST(tp + bb AS DOUBLE) * (tq + bb))) * 1000000)
        |          AS BIGINT) AS bc_term_u
        |      FROM b JOIN tot USING (event_type)),
        |a AS (SELECT event_type, tp AS n_pre, tq AS n_post,
        |        CAST(count(*) AS BIGINT) AS n_bins,
        |        CAST(sum(bc_term_u) AS BIGINT) AS bc_u
        |      FROM g GROUP BY 1, 2, 3)
        |SELECT event_type, n_pre, n_post, n_bins, bc_u,
        |       CAST(round(-ln(CAST(bc_u AS DOUBLE) / 1000000)
        |            * 1000000) AS BIGINT) AS bd_u
        |FROM a ORDER BY ALL""".stripMargin,
    "q_tail_ratio" ->
      """WITH h AS (SELECT event_type AS grp,
        |    CAST(round(value * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.grp, v, n,
        |        CAST(sum(cnt) OVER (PARTITION BY h.grp ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM h JOIN tot USING (grp)),
        |p50 AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
        |          CAST(min(v) AS BIGINT) AS p50
        |        FROM c WHERE cum * 100 >= n * 50 GROUP BY 1),
        |p99 AS (SELECT grp, CAST(min(v) AS BIGINT) AS p99
        |        FROM c WHERE cum * 100 >= n * 99 GROUP BY 1)
        |SELECT grp AS event_type, n, p50, p99,
        |       CAST(CASE WHEN p50 = 0 THEN NULL
        |            ELSE p99 * 1000 // p50 END AS BIGINT)
        |         AS ratio_milli
        |FROM p50 JOIN p99 USING (grp) ORDER BY ALL""".stripMargin,

    // ---- §2.62 session analytics ----
    "q_session_depth" ->
      s"""WITH $sessCte,
         |d AS (SELECT depth AS k, CAST(count(*) AS BIGINT)
         |        AS n_sessions
         |      FROM sess GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS tot FROM d)
         |SELECT k, n_sessions,
         |       CAST(n_sessions * 10000 // tot AS BIGINT) AS share_bp
         |FROM d CROSS JOIN tot ORDER BY ALL""".stripMargin,
    "q_bounce_rate" ->
      s"""WITH $sessCte
         |SELECT entry_type,
         |       CAST(count(*) AS BIGINT) AS n_sessions,
         |       CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_bounce,
         |       CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END)
         |            * 10000 // count(*) AS BIGINT) AS bounce_bp
         |FROM sess GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_entry_exit" ->
      s"""WITH $sessCte,
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM sess),
         |en AS (SELECT entry_type AS event_type,
         |         CAST(count(*) AS BIGINT) AS n_entry
         |       FROM sess GROUP BY 1),
         |ex AS (SELECT exit_type AS event_type,
         |         CAST(count(*) AS BIGINT) AS n_exit
         |       FROM sess GROUP BY 1)
         |SELECT COALESCE(en.event_type, ex.event_type) AS event_type,
         |       COALESCE(n_entry, 0) AS n_entry,
         |       COALESCE(n_exit, 0) AS n_exit,
         |       CAST(COALESCE(n_entry, 0) * 10000 // tot AS BIGINT)
         |         AS entry_share_bp
         |FROM en FULL OUTER JOIN ex ON en.event_type = ex.event_type
         |CROSS JOIN tot ORDER BY ALL""".stripMargin,

    // ---- §2.63 commerce-calendar analytics ----
    "q_discount_lift" ->
      """WITH b AS (SELECT
        |    CAST(round(l_discount * 100) AS BIGINT) AS band,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS gross_c,
        |    CAST(round(CAST(l_extendedprice AS DECIMAL(15,2)) *
        |         CAST(1.0 - l_discount AS DECIMAL(4,2)) * 100, 0)
        |         AS BIGINT) AS disc_c,
        |    CAST(round(l_quantity) AS BIGINT) AS q
        |  FROM lineitem)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(q) AS BIGINT) AS qty,
        |       CAST(sum(gross_c) AS BIGINT) AS gross_cents,
        |       CAST(sum(disc_c) AS BIGINT) AS net_cents,
        |       CAST(sum(q) * 1000 // count(*) AS BIGINT)
        |         AS avg_qty_milli
        |FROM b GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_interpurchase" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    epoch_us(o_orderdate) // 86400000000 AS d
        |  FROM orders),
        |l AS (SELECT o_custkey, d, lag(d) OVER (PARTITION BY o_custkey
        |        ORDER BY d, o_orderkey) AS prev_d
        |      FROM o),
        |g AS (SELECT c_mktsegment AS grp, d - prev_d AS v
        |      FROM l JOIN customer ON o_custkey = c_custkey
        |      WHERE prev_d IS NOT NULL),
        |h AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM g GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.grp, v, n,
        |        CAST(sum(cnt) OVER (PARTITION BY h.grp ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |      FROM h JOIN tot USING (grp)),
        |p50 AS (SELECT grp, CAST(max(n) AS BIGINT) AS n_gaps,
        |          CAST(min(v) AS BIGINT) AS p50
        |        FROM c WHERE cum * 100 >= n * 50 GROUP BY 1),
        |p90 AS (SELECT grp, CAST(min(v) AS BIGINT) AS p90
        |        FROM c WHERE cum * 100 >= n * 90 GROUP BY 1)
        |SELECT grp AS c_mktsegment, n_gaps, p50, p90
        |FROM p50 JOIN p90 USING (grp) ORDER BY ALL""".stripMargin,
    "q_dow_profile" ->
      """WITH d AS (SELECT
        |    (epoch_us(o_orderdate) // 86400000000 + 3) % 7 + 1 AS dow,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_orders,
        |        CAST(sum(cents) AS BIGINT) AS rev_cents
        |      FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS tot FROM g)
        |SELECT CAST(dow AS BIGINT) AS dow, n_orders, rev_cents,
        |       CAST(rev_cents * 10000 // tot AS BIGINT)
        |         AS rev_share_bp
        |FROM g CROSS JOIN tot ORDER BY ALL""".stripMargin,

    // ---- §2.64 embedding-space audits ----
    "q_centroid_shift" ->
      """WITH lane AS (SELECT label, vec_id % 2 = 0 AS even, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS x_u
        |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
        |c AS (SELECT label, even, i, CAST(sum(x_u) AS BIGINT) AS s_u,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM lane GROUP BY 1, 2, 3),
        |v AS (SELECT label, even, CAST(max(n) AS BIGINT) AS n,
        |        list(CAST(s_u AS DOUBLE) / n ORDER BY i) AS cv
        |      FROM c GROUP BY 1, 2),
        |j AS (SELECT e.label, e.n AS n_even, o.n AS n_odd,
        |        e.cv AS ca, o.cv AS cb
        |      FROM v e JOIN v o ON e.label = o.label
        |      WHERE e.even AND NOT o.even)
        |SELECT CAST(label AS BIGINT) AS label, n_even, n_odd,
        |       CAST(round(
        |         list_sum(list_transform(generate_series(1, 64),
        |           k -> ca[k] * cb[k])) /
        |         sqrt(list_sum(list_transform(generate_series(1, 64),
        |             k -> ca[k] * ca[k])) *
        |           list_sum(list_transform(generate_series(1, 64),
        |             k -> cb[k] * cb[k]))) * 10000) AS BIGINT) AS cos_u
        |FROM j ORDER BY ALL""".stripMargin,
    "q_pq_distortion" ->
      """WITH lane AS (SELECT (i - 1) // 8 + 1 AS subspace,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS x_u
        |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
        |e AS (SELECT subspace,
        |        x_u - (((x_u + 500500) // 1000) * 1000 - 500000)
        |          AS err
        |      FROM lane)
        |SELECT CAST(subspace AS BIGINT) AS subspace,
        |       CAST(count(*) AS BIGINT) AS n_lanes,
        |       CAST(sum(err * err) AS BIGINT) AS sse,
        |       CAST(sum(err * err) // count(*) AS BIGINT) AS mse_u,
        |       CAST(max(abs(err)) AS BIGINT) AS max_err
        |FROM e GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_dim_corr" ->
      """WITH xu AS (SELECT vec_id,
        |    list_transform(embedding,
        |      v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT))
        |      AS xs
        |  FROM embeddings),
        |p AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |        xs[i] AS x, xs[j] AS y
        |      FROM xu CROSS JOIN range(1, 65) a(i)
        |      CROSS JOIN range(1, 65) b(j)
        |      WHERE i < j),
        |m AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS qx,
        |        CAST(sum(y * y) AS BIGINT) AS qy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM p GROUP BY 1, 2),
        |sc AS (SELECT i, j, n,
        |         CASE WHEN n * qx - sx * sx = 0 OR n * qy - sy * sy = 0
        |         THEN NULL
        |         ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |              * 1000 / sqrt(CAST(n * qx - sx * sx AS DOUBLE)
        |              * CAST(n * qy - sy * sy AS DOUBLE))) AS BIGINT)
        |         END AS corr_milli
        |       FROM m),
        |rk AS (SELECT *, ROW_NUMBER() OVER (
        |         ORDER BY abs(corr_milli) DESC, i, j) AS rk
        |       FROM sc WHERE corr_milli IS NOT NULL)
        |SELECT i, j, n, corr_milli FROM rk WHERE rk <= 10
        |ORDER BY ALL""".stripMargin,

    // ---- §2.65 experiment-design audits ----
    "q_power_mde" ->
      s"""WITH $powerMomentsCte
         |SELECT event_type, n1, n2,
         |  CAST(round(sqrt((CAST(q1 + q2 AS DOUBLE) * (n1 + n2)
         |       - CAST(s1 + s2 AS DOUBLE) * (s1 + s2)) /
         |       (CAST(n1 + n2 AS DOUBLE) * (n1 + n2))) * 1000)
         |       AS BIGINT) AS sd_milli,
         |  CAST(round(28016 * CAST(CAST(round(sqrt(
         |       (CAST(q1 + q2 AS DOUBLE) * (n1 + n2)
         |        - CAST(s1 + s2 AS DOUBLE) * (s1 + s2)) /
         |       (CAST(n1 + n2 AS DOUBLE) * (n1 + n2))) * 1000)
         |       AS BIGINT) AS DOUBLE) / 10000 *
         |       sqrt(2.0 / least(n1, n2))) AS BIGINT) AS mde_milli,
         |  CASE WHEN s1 + s2 = 0 THEN NULL ELSE
         |  CAST(ceil(2.0 * pow(28016.0 / 10000 * CAST(round(sqrt(
         |       (CAST(q1 + q2 AS DOUBLE) * (n1 + n2)
         |        - CAST(s1 + s2 AS DOUBLE) * (s1 + s2)) /
         |       (CAST(n1 + n2 AS DOUBLE) * (n1 + n2))) * 1000)
         |       AS BIGINT) /
         |       (0.05 * (CAST(s1 + s2 AS DOUBLE) * 1000 / (n1 + n2))),
         |       2)) AS BIGINT) END AS req_n_per_arm
         |FROM m ORDER BY ALL""".stripMargin,
    "q_cohens_d" ->
      s"""WITH $powerMomentsCte
         |SELECT event_type, n1, n2,
         |  CAST(CASE WHEN n1 < 2 OR n2 < 2 THEN NULL ELSE
         |    round((CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1)
         |      * 1000 / sqrt(
         |      ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) +
         |       (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)) /
         |      (n1 + n2 - 2))) END AS BIGINT) AS d_milli
         |FROM m ORDER BY ALL""".stripMargin,
    "q_variance_ratio" ->
      s"""WITH $powerMomentsCte
         |SELECT event_type, n1, n2,
         |  CAST(CASE WHEN n1 < 2 OR n2 < 2 OR
         |      CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1 = 0.0
         |    THEN NULL ELSE
         |    round(((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
         |        / (n2 - 1)) * 1000 /
         |      ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
         |        / (n1 - 1))) END AS BIGINT) AS ratio_milli
         |FROM m ORDER BY ALL""".stripMargin,

    // Welch's t (§2.112): se1/se2 named once in a CTE so every double
    // expression is spelled identically to the Spark side.
    "q_welch_ttest" ->
      s"""WITH $powerMomentsCte,
         |w AS (SELECT event_type, n1, n2, s1, s2,
         |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
         |      / (n1 - 1) / n1 AS se1,
         |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
         |      / (n2 - 1) / n2 AS se2
         |  FROM m)
         |SELECT event_type, n1, n2,
         |  CAST(CASE WHEN n1 < 2 OR n2 < 2 OR se1 + se2 = 0.0 THEN NULL
         |    ELSE round((CAST(s2 AS DOUBLE) / n2 - CAST(s1 AS DOUBLE) / n1)
         |      * 1000 / sqrt(se1 + se2)) END AS BIGINT) AS t_milli,
         |  CAST(CASE WHEN n1 < 2 OR n2 < 2 OR se1 + se2 = 0.0 THEN NULL
         |    ELSE round((se1 + se2) * (se1 + se2) * 10 /
         |      (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)))
         |    END AS BIGINT) AS df_deci
         |FROM w ORDER BY ALL""".stripMargin,

    // DPP twin (§2.113): the dim join is 1:1 on event_type, so the
    // runtime-pruned star join collapses to the IN filter the pruning
    // must reconstruct at runtime — a dropped or duplicated partition
    // cannot hash-match.
    "q_join_dpp" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS users, round(sum(value), 4) AS sv
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // Sorted-layout twin (§2.113): l_shipdate is date-valued, so the
    // copy's DATE cast loses nothing and timestamp-literal bounds on
    // the original select the identical window.
    "q_scan_sorted" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${dsum("l_extendedprice")} AS revenue,
         |  ${dsum("l_quantity")} AS qty
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.66 policy-lexicon / vocabulary-structure audits ----
    "q_lexicon_filter" ->
      """WITH d AS (SELECT source,
        |    string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |terms AS (SELECT unnest(['slow', 'dup', 'deprecated'])
        |            AS term),
        |pt AS (SELECT source, term,
        |         CAST(sum(CASE WHEN list_contains(toks, term)
        |              THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
        |         CAST(sum(len(list_filter(toks, x -> x = term)))
        |              AS BIGINT) AS occurrences
        |       FROM d CROSS JOIN terms GROUP BY 1, 2),
        |bs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN list_contains(toks, 'slow')
        |              OR list_contains(toks, 'dup')
        |              OR list_contains(toks, 'deprecated')
        |              THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed
        |       FROM d GROUP BY 1)
        |SELECT source, term, docs_hit, occurrences, n_docs,
        |       docs_removed,
        |       CAST(docs_removed * 10000 // n_docs AS BIGINT)
        |         AS removal_bp
        |FROM pt JOIN bs USING (source) ORDER BY ALL""".stripMargin,
    "q_vocab_overlap" ->
      """WITH st AS (SELECT DISTINCT source, token
        |  FROM (SELECT source,
        |          unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE token <> ''),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
        |       FROM st GROUP BY 1),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b,
        |            CAST(count(*) AS BIGINT) AS inter
        |          FROM st a JOIN st b ON a.token = b.token
        |                             AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT src_a, src_b,
        |       za.sz AS size_a, zb.sz AS size_b, inter,
        |       CAST(inter * 10000 // (za.sz + zb.sz - inter)
        |            AS BIGINT) AS jaccard_bp
        |FROM inter
        |JOIN sz za ON src_a = za.source
        |JOIN sz zb ON src_b = zb.source ORDER BY ALL""".stripMargin,
    "q_char_trigrams" ->
      """WITH g AS (SELECT lang,
        |    substring(text, i, 3) AS g,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
        |    length(text) - 2)) AS i) r
        |  GROUP BY 1, 2),
        |rk AS (SELECT lang, g, cnt, ROW_NUMBER() OVER (
        |         PARTITION BY lang ORDER BY cnt DESC, g ASC) AS rk
        |       FROM g)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, g, cnt
        |FROM rk WHERE rk <= 10 ORDER BY ALL""".stripMargin,

    // ---- §2.67 ranking-fusion / time-weighted readouts ----
    "q_rrf" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe
         |           FROM embeddings WHERE vec_id < 20),
         |sc AS (SELECT pid, vec_id,
         |         list_sum(list_transform(generate_series(1, 64),
         |           i -> CAST(pe[i] AS DOUBLE)
         |                * CAST(embedding[i] AS DOUBLE))) /
         |         sqrt(list_sum(list_transform(generate_series(1, 64),
         |             i -> CAST(pe[i] AS DOUBLE) * pe[i])) *
         |           list_sum(list_transform(generate_series(1, 64),
         |             i -> CAST(embedding[i] AS DOUBLE) * embedding[i])))
         |           AS cos,
         |         list_sum(list_transform(generate_series(1, 64),
         |           i -> CAST(pe[i] AS DOUBLE)
         |                * CAST(embedding[i] AS DOUBLE))) AS dot
         |       FROM embeddings CROSS JOIN p WHERE vec_id <> pid),
         |rk AS (SELECT pid, vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY pid
         |           ORDER BY cos DESC, vec_id ASC) AS ra,
         |         ROW_NUMBER() OVER (PARTITION BY pid
         |           ORDER BY dot DESC, vec_id ASC) AS rb
         |       FROM sc),
         |f AS (SELECT pid, vec_id,
         |        CAST(${rrfCase("ra")} + ${rrfCase("rb")} AS BIGINT)
         |          AS rrf_u
         |      FROM rk WHERE ra <= 10 OR rb <= 10),
         |ff AS (SELECT pid, vec_id, rrf_u, ROW_NUMBER() OVER (
         |         PARTITION BY pid ORDER BY rrf_u DESC, vec_id ASC)
         |         AS fused_rank
         |       FROM f)
         |SELECT pid, CAST(fused_rank AS BIGINT) AS fused_rank,
         |       vec_id, rrf_u
         |FROM ff WHERE fused_rank <= 5 ORDER BY ALL""".stripMargin,
    "q_vwap" ->
      """WITH b AS (SELECT
        |    epoch_us(l_shipdate) // 86400000000 // 30 AS bucket,
        |    CAST(round(l_quantity) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(q) AS BIGINT) AS qty,
        |       CAST(sum(c * q) AS BIGINT) AS pq_cents,
        |       CAST(sum(c * q) * 1000 // sum(q) AS BIGINT) AS vwap_cm
        |FROM b GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_decay_score" ->
      """WITH e AS (SELECT user_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    19753 - epoch_us(ts) // 86400000000 AS age
        |  FROM events),
        |w AS (SELECT user_id, cents,
        |        CAST(round(pow(0.5, CAST(age AS DOUBLE) / 7.0)
        |             * 1000000) AS BIGINT) AS w_u
        |      FROM e),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(sum(cents * w_u) AS BIGINT) AS raw
        |      FROM w GROUP BY 1),
        |rk AS (SELECT user_id, n_events, raw // 1000000 AS score_u,
        |         ROW_NUMBER() OVER (ORDER BY raw // 1000000 DESC,
        |           user_id ASC) AS rk
        |       FROM g)
        |SELECT CAST(rk AS BIGINT) AS rk, user_id, n_events,
        |       CAST(score_u AS BIGINT) AS score_u
        |FROM rk WHERE rk <= 20 ORDER BY ALL""".stripMargin,

    // ---- §2.68 retail-quality readouts ----
    "q_return_rates" ->
      """WITH j AS (SELECT p_brand, l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
        |            END) AS BIGINT) AS n_returned,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
        |            END) * 10000 // count(*) AS BIGINT) AS return_bp,
        |       CAST(sum(c) AS BIGINT) AS cents,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN c ELSE 0
        |            END) AS BIGINT) AS returned_cents
        |FROM j GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_price_dispersion" ->
      """WITH j AS (SELECT p_brand,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) * 1000
        |      // CAST(round(l_quantity) AS BIGINT) AS up_mc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE CAST(round(l_quantity) AS BIGINT) > 0),
        |g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        |        CAST(min(up_mc) AS BIGINT) AS min_up,
        |        CAST(max(up_mc) AS BIGINT) AS max_up
        |      FROM j GROUP BY 1)
        |SELECT p_brand, n_lines, min_up, max_up,
        |       max_up - min_up AS spread,
        |       CAST(CASE WHEN min_up = 0 THEN NULL
        |            ELSE (max_up - min_up) * 10000 // min_up END
        |            AS BIGINT) AS spread_bp
        |FROM g ORDER BY ALL""".stripMargin,
    "q_customer_migration" ->
      """WITH s96 AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS sp
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1),
        |n96 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s96),
        |a AS (SELECT o_custkey AS ck,
        |        (ROW_NUMBER() OVER (ORDER BY sp, o_custkey) - 1)
        |          * 4 // n + 1 AS seg_pre
        |      FROM s96 CROSS JOIN n96),
        |s97 AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS sp
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1),
        |n97 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s97),
        |b AS (SELECT o_custkey AS ck,
        |        (ROW_NUMBER() OVER (ORDER BY sp, o_custkey) - 1)
        |          * 4 // n + 1 AS seg_post
        |      FROM s97 CROSS JOIN n97)
        |SELECT CAST(COALESCE(seg_pre, 0) AS BIGINT) AS seg_pre,
        |       CAST(COALESCE(seg_post, 0) AS BIGINT) AS seg_post,
        |       CAST(count(*) AS BIGINT) AS n_customers
        |FROM a FULL OUTER JOIN b ON a.ck = b.ck
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,

    // ---- §2.69 dedup-calibration audits ----
    "q_dedup_sweep" ->
      s"""WITH $candPairsCte,
         |cuts AS (SELECT unnest([5000, 7000, 8000, 9000]) AS cut_bp)
         |SELECT CAST(cut_bp AS BIGINT) AS cut_bp,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(count(DISTINCT a_id) AS BIGINT) AS n_left_docs
         |FROM cand CROSS JOIN cuts
         |WHERE j_bp >= cut_bp GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_minhash_accuracy" ->
      s"""WITH $candPairsCte,
         |tok2 AS (SELECT doc_id, unnest(list_distinct(list_filter(
         |           string_split(lower(text), ' '), x -> x <> '')))
         |           AS token
         |         FROM documents WHERE lang = 'en'),
         |lanes AS (SELECT doc_id, j,
         |    min(substring(md5(CAST(j AS VARCHAR) || ':' || token),
         |        1, 15)) AS mh
         |  FROM tok2 CROSS JOIN range(16) t(j) GROUP BY 1, 2),
         |est AS (SELECT a.doc_id AS ea, b.doc_id AS eb,
         |          CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
         |               * 10000 // 16 AS BIGINT) AS est_bp
         |        FROM lanes a JOIN lanes b ON a.j = b.j
         |                                 AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |q AS (SELECT j_bp // 1000 AS band,
         |        abs(est_bp - j_bp) AS err
         |      FROM cand JOIN est ON a_id = ea AND b_id = eb)
         |SELECT CAST(band AS BIGINT) AS band,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(err) // count(*) AS BIGINT) AS mean_err_bp,
         |       CAST(max(err) AS BIGINT) AS max_err_bp
         |FROM q GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_component_profile" ->
      """WITH RECURSIVE dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' '))
        |         AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         count(*) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM pr
        |          JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id
        |          WHERE common * 9 >= (sa.nt + sb.nt) * 4),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |      UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node),
        |lab AS (SELECT node AS doc_id, min(r) AS cluster_id
        |        FROM reach GROUP BY 1),
        |ks AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS k
        |       FROM lab GROUP BY 1)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_components,
        |       CAST(k * count(*) AS BIGINT) AS docs
        |FROM ks GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.70 source formats, second batch ----
    "q_source_xml" ->
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n,
        |       min(n_name) AS min_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_source_text" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM documents GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_schema_evolution" ->
      """WITH u AS (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         CAST(NULL AS VARCHAR) AS o_orderpriority
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  UNION ALL
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         o_orderpriority
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM u GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.71 sampling-quality audits ----
    "q_sample_bias" ->
      """WITH e AS (SELECT event_type,
        |    substring(md5(CAST(event_id AS VARCHAR) || ':bias'), 1, 1)
        |      = '0' AS ing
        |  FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN ing THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_sample
        |      FROM e GROUP BY 1)
        |SELECT event_type, n, n_sample,
        |       CAST(n_sample * 10000 // n AS BIGINT) AS share_bp,
        |       CAST(n_sample * 10000 // n - 625 AS BIGINT) AS dev_bp
        |FROM g ORDER BY ALL""".stripMargin,
    "q_stratified_gain" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    substring(md5(CAST(event_id AS VARCHAR) || ':strat'), 1, 1)
        |      = '0' AS ing
        |  FROM events),
        |st AS (SELECT event_type,
        |         CAST(count(*) AS BIGINT) AS n_h,
        |         CAST(sum(cents) AS BIGINT) AS truth_t,
        |         CAST(sum(CASE WHEN ing THEN 1 ELSE 0 END) AS BIGINT)
        |           AS m_h,
        |         CAST(sum(CASE WHEN ing THEN cents ELSE 0 END)
        |              AS BIGINT) AS samp_t
        |       FROM e GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |        CAST(sum(truth_t) AS BIGINT) AS truth,
        |        CAST(sum(samp_t) * 16 AS BIGINT) AS est_srs,
        |        CAST(sum(CASE WHEN m_h > 0 THEN
        |          CAST(n_h AS HUGEINT) * samp_t // m_h ELSE 0 END)
        |          AS BIGINT) AS est_strat
        |      FROM st)
        |SELECT n_strata, truth, est_srs, est_strat,
        |       CAST(abs(est_srs - truth) * 10000 // truth AS BIGINT)
        |         AS err_srs_bp,
        |       CAST(abs(est_strat - truth) * 10000 // truth AS BIGINT)
        |         AS err_strat_bp
        |FROM a ORDER BY ALL""".stripMargin,
    "q_sample_ci" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    substring(md5(CAST(event_id AS VARCHAR) || ':ci'), 1, 1)
        |      = '0' AS ing
        |  FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pop,
        |        CAST(sum(CASE WHEN ing THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n,
        |        CAST(sum(CASE WHEN ing THEN cents ELSE 0 END)
        |             AS BIGINT) AS sx,
        |        CAST(sum(CASE WHEN ing THEN cents * cents ELSE 0 END)
        |             AS BIGINT) AS qx
        |      FROM e GROUP BY 1)
        |SELECT event_type, n_pop, n,
        |       CAST(CASE WHEN n = 0 THEN NULL
        |            ELSE sx * 1000 // n END AS BIGINT) AS mean_milli,
        |       CAST(CASE WHEN n < 2 THEN NULL ELSE
        |         round(1.96 * sqrt(
        |           ((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |            / (n - 1)) / n *
        |           (CAST(n_pop - n AS DOUBLE) / (n_pop - 1))) * 1000)
        |         END AS BIGINT) AS hw_milli
        |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.72 cross-modal alignment audits ----
    "q_embed_coverage" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN vec_id IS NOT NULL THEN 1 ELSE 0
        |            END) AS BIGINT) AS n_embedded,
        |       CAST(sum(CASE WHEN vec_id IS NOT NULL THEN 1 ELSE 0
        |            END) * 10000 // count(*) AS BIGINT) AS coverage_bp
        |FROM documents
        |LEFT JOIN (SELECT vec_id FROM embeddings) e
        |  ON doc_id = vec_id
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_len_norm_corr" ->
      s"""WITH nu AS (SELECT vec_id,
         |    CAST(round(sqrt(CAST($laneSqSum AS DOUBLE))) AS BIGINT)
         |      AS nu
         |  FROM embeddings),
         |j AS (SELECT n_chars AS x, nu AS y
         |      FROM documents JOIN nu ON doc_id = vec_id),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x) AS BIGINT) AS sx,
         |        CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(x * x) AS BIGINT) AS qx,
         |        CAST(sum(y * y) AS BIGINT) AS qy,
         |        CAST(sum(x * y) AS BIGINT) AS sxy
         |      FROM j)
         |SELECT n,
         |       CAST(CASE WHEN n * qx - sx * sx = 0
         |                   OR n * qy - sy * sy = 0 THEN NULL
         |            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
         |              * 1000 / sqrt(CAST(n * qx - sx * sx AS DOUBLE)
         |              * CAST(n * qy - sy * sy AS DOUBLE))) END
         |            AS BIGINT) AS corr_milli
         |FROM m ORDER BY ALL""".stripMargin,
    "q_norm_by_label" ->
      s"""WITH nu AS (SELECT CAST(label AS BIGINT) AS label,
         |    CAST(round(sqrt(CAST($laneSqSum AS DOUBLE))) AS BIGINT)
         |      AS nu
         |  FROM embeddings),
         |g AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(nu) AS BIGINT) AS s_u,
         |        CAST(sum(nu * nu) AS BIGINT) AS q_u
         |      FROM nu GROUP BY 1)
         |SELECT label, n,
         |       CAST(s_u * 1000 // n AS BIGINT) AS mean_milli,
         |       CAST((CAST(n AS HUGEINT) * q_u
         |             - CAST(s_u AS HUGEINT) * s_u)
         |            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_u
         |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.73 pipeline-tuning sweeps ----
    "q_chunk_sweep" ->
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS tok FROM documents),
        |sizes AS (SELECT unnest([128, 256, 512]) AS chunk),
        |g AS (SELECT CAST(chunk AS BIGINT) AS chunk,
        |        CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(tok) AS BIGINT) AS tokens,
        |        CAST(sum((tok + chunk - 1) // chunk) AS BIGINT)
        |          AS n_chunks
        |      FROM d CROSS JOIN sizes GROUP BY 1)
        |SELECT chunk, n_docs, tokens, n_chunks,
        |       CAST(n_chunks * chunk - tokens AS BIGINT) AS waste,
        |       CAST((n_chunks * chunk - tokens) * 10000
        |            // (n_chunks * chunk) AS BIGINT) AS waste_bp
        |FROM g ORDER BY ALL""".stripMargin,
    "q_watermark_sweep" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
        |    md5(CAST(event_id AS VARCHAR)) AS arrival
        |  FROM events),
        |l AS (SELECT event_type,
        |        greatest(COALESCE(max(us) OVER (
        |          PARTITION BY event_type ORDER BY arrival, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - us, 0), 0) AS late_us
        |      FROM e),
        |delays AS (SELECT unnest([60000000, 600000000, 3600000000])
        |             AS delay_us)
        |SELECT event_type, CAST(delay_us AS BIGINT) AS delay_us,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN late_us > delay_us THEN 1 ELSE 0
        |            END) AS BIGINT) AS n_dropped,
        |       CAST(sum(CASE WHEN late_us > delay_us THEN 1 ELSE 0
        |            END) * 10000 // count(*) AS BIGINT) AS drop_bp
        |FROM l CROSS JOIN delays GROUP BY 1, 2
        |ORDER BY ALL""".stripMargin,
    "q_gap_hours" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |    epoch_us(ts) // 3600000000 AS h
        |  FROM events),
        |l AS (SELECT event_type, h, lag(h) OVER (
        |        PARTITION BY event_type ORDER BY h) AS prev_h
        |      FROM h),
        |g AS (SELECT event_type,
        |        CAST(count(*) AS BIGINT) AS active_hours,
        |        CAST(max(h) - min(h) + 1 AS BIGINT) AS span_hours,
        |        CAST(max(COALESCE(h - prev_h - 1, 0)) AS BIGINT)
        |          AS max_gap
        |      FROM l GROUP BY 1)
        |SELECT event_type, span_hours, active_hours,
        |       span_hours - active_hours AS gap_hours,
        |       CAST((span_hours - active_hours) * 10000 // span_hours
        |            AS BIGINT) AS gap_bp,
        |       max_gap
        |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.74 cohort economics ----
    "q_cohort_ltv" ->
      s"""WITH $ltvGridCte
         |SELECT cohort_week, week_offset, n_users, n_purchases,
         |       rev_cents,
         |       CAST(CAST(sum(rev_cents) OVER (
         |              PARTITION BY cohort_week ORDER BY week_offset
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND
         |              CURRENT ROW) AS BIGINT) * 1000 // n_users
         |            AS BIGINT) AS ltv_milli
         |FROM grid ORDER BY ALL""".stripMargin,
    "q_arpu" ->
      """WITH u AS (SELECT epoch_us(ts) // 2592000000000 AS month,
        |    user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |         AS BIGINT) AS rev,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |         END) AS BIGINT) AS bought
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT CAST(month AS BIGINT) AS month,
        |        CAST(count(*) AS BIGINT) AS active_users,
        |        CAST(sum(bought) AS BIGINT) AS purchasers,
        |        CAST(sum(rev) AS BIGINT) AS rev_cents
        |      FROM u GROUP BY 1)
        |SELECT month, active_users, purchasers, rev_cents,
        |       CAST(rev_cents * 1000 // active_users AS BIGINT)
        |         AS arpu_milli,
        |       CAST(purchasers * 10000 // active_users AS BIGINT)
        |         AS conversion_bp
        |FROM g ORDER BY ALL""".stripMargin,
    "q_payback" ->
      s"""WITH $ltvGridCte,
         |c AS (SELECT cohort_week, week_offset, n_users,
         |        CAST(CAST(sum(rev_cents) OVER (
         |               PARTITION BY cohort_week ORDER BY week_offset
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND
         |               CURRENT ROW) AS BIGINT) * 1000 // n_users
         |             AS BIGINT) AS ltv_milli
         |      FROM grid)
         |SELECT cohort_week, CAST(max(n_users) AS BIGINT) AS n_users,
         |       CAST(max(ltv_milli) AS BIGINT) AS final_ltv_milli,
         |       CAST(min(CASE WHEN ltv_milli >= 1000000
         |            THEN week_offset END) AS BIGINT) AS payback_week
         |FROM c GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.75 metric-robustness audits ----
    "q_srm_segments" ->
      """WITH c AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |seg AS (SELECT user_id, event_type AS segment
        |        FROM (SELECT user_id, event_type, ROW_NUMBER() OVER (
        |                PARTITION BY user_id
        |                ORDER BY cnt DESC, event_type ASC) AS rn
        |              FROM c) WHERE rn = 1),
        |a AS (SELECT segment,
        |        substring(md5(CAST(user_id AS VARCHAR) || ':srmseg'),
        |          1, 1) < '8' AS arm_a
        |      FROM seg),
        |g AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
        |        CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_a
        |      FROM a GROUP BY 1)
        |SELECT segment, n_users, n_a,
        |       CAST(n_a * 10000 // n_users AS BIGINT) AS share_a_bp,
        |       CAST(n_a * 10000 // n_users - 5000 AS BIGINT)
        |         AS dev_bp
        |FROM g ORDER BY ALL""".stripMargin,
    "q_winsor_sensitivity" ->
      s"""WITH $valueHistCte
         |SELECT grp AS event_type, CAST(max(n) AS BIGINT) AS n, p99,
         |       CAST(sum(v * cnt) * 1000 // max(n) AS BIGINT)
         |         AS mean_raw_milli,
         |       CAST(sum(least(v, p99) * cnt) * 1000 // max(n)
         |            AS BIGINT) AS mean_win_milli,
         |       CAST((sum(v * cnt) - sum(least(v, p99) * cnt)) * 10000
         |            // sum(v * cnt) AS BIGINT) AS shift_bp
         |FROM cum JOIN p99 USING (grp)
         |GROUP BY grp, p99 ORDER BY ALL""".stripMargin,
    "q_whale_share" ->
      s"""WITH $valueHistCte
         |SELECT grp AS event_type, CAST(max(n) AS BIGINT) AS n, p99,
         |       CAST(sum(CASE WHEN v >= p99 THEN cnt ELSE 0 END)
         |            AS BIGINT) AS whale_rows,
         |       CAST(sum(CASE WHEN v >= p99 THEN v * cnt ELSE 0 END)
         |            AS BIGINT) AS whale_cents,
         |       CAST(sum(v * cnt) AS BIGINT) AS total_cents,
         |       CAST(sum(CASE WHEN v >= p99 THEN v * cnt ELSE 0 END)
         |            * 10000 // sum(v * cnt) AS BIGINT)
         |         AS whale_share_bp
         |FROM cum JOIN p99 USING (grp)
         |GROUP BY grp, p99 ORDER BY ALL""".stripMargin,

    // ---- §2.76 tokenizer-design profiles ----
    "q_token_len_profile" ->
      """WITH tl AS (SELECT lang, CAST(length(token) AS BIGINT) AS len,
        |    CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM (SELECT lang,
        |          unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  WHERE token <> '' GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tot
        |        FROM tl GROUP BY 1)
        |SELECT lang, len, n_tokens,
        |       CAST(n_tokens * 10000 // tot AS BIGINT) AS share_bp
        |FROM tl JOIN tot USING (lang) ORDER BY ALL""".stripMargin,
    "q_bytes_per_token" ->
      """WITH d AS (SELECT source,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS bytes,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(bytes) AS BIGINT) AS bytes,
        |        CAST(sum(chars) AS BIGINT) AS chars,
        |        CAST(sum(toks) AS BIGINT) AS tokens
        |      FROM d GROUP BY 1)
        |SELECT source, n_docs, bytes, chars, tokens,
        |       CAST(bytes * 1000 // tokens AS BIGINT)
        |         AS bytes_per_tok_milli,
        |       CAST(chars * 1000 // tokens AS BIGINT)
        |         AS chars_per_tok_milli
        |FROM g ORDER BY ALL""".stripMargin,
    "q_prefix_vocab" ->
      """WITH v AS (SELECT DISTINCT token
        |  FROM (SELECT unnest(string_split(lower(text), ' '))
        |          AS token FROM documents)
        |  WHERE token <> ''),
        |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
        |p AS (SELECT CAST(k AS BIGINT) AS k,
        |        substring(token, 1, k) AS prefix,
        |        CAST(count(*) AS BIGINT) AS bucket
        |      FROM v CROSS JOIN ks WHERE length(token) >= k
        |      GROUP BY 1, 2)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_prefixes,
        |       CAST(sum(bucket) AS BIGINT) AS n_tokens,
        |       CAST(max(bucket) AS BIGINT) AS max_bucket
        |FROM p GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.77 forensic-accounting audits ----
    "q_benford2" ->
      s"""WITH d AS (SELECT o_orderstatus AS status,
         |    CAST(substring(CAST(CAST(round(o_totalprice * 100)
         |      AS BIGINT) AS VARCHAR), 2, 1) AS BIGINT) AS digit
         |  FROM orders
         |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 10),
         |g AS (SELECT status, digit, CAST(count(*) AS BIGINT) AS n
         |      FROM d GROUP BY 1, 2),
         |t2 AS (SELECT status, CAST(sum(n) AS BIGINT) AS status_n
         |       FROM g GROUP BY 1)
         |SELECT status, digit, n,
         |       CAST(n * 10000 // status_n AS BIGINT) AS share_bp,
         |       CAST(n * 10000 // status_n - (${benford2Case})
         |            AS BIGINT) AS dev_bp
         |FROM g JOIN t2 USING (status) ORDER BY ALL""".stripMargin,
    "q_round_bias" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) % 100 AS c2
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN c2 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_00,
        |       CAST(sum(CASE WHEN c2 = 50 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_50,
        |       CAST(sum(CASE WHEN c2 = 99 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_99,
        |       CAST((sum(CASE WHEN c2 = 0 THEN 1 ELSE 0 END)
        |             + sum(CASE WHEN c2 = 50 THEN 1 ELSE 0 END)
        |             + sum(CASE WHEN c2 = 99 THEN 1 ELSE 0 END))
        |            * 10000 // count(*) - 300 AS BIGINT) AS bias_bp
        |FROM e GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_dup_payments" ->
      """WITH k AS (SELECT event_type, user_id,
        |    CAST(round(value * 100) AS BIGINT) // 100 AS dollars,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2, 3, 4)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(k - 1) AS BIGINT) AS n_dupes,
        |       CAST(sum((k - 1) * dollars) AS BIGINT)
        |         AS dollars_at_risk
        |FROM k WHERE k >= 2 GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.78 supply-chain risk readouts ----
    "q_single_source" ->
      """WITH pp AS (SELECT l_partkey,
        |    CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS single_sourced,
        |       CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END)
        |            * 10000 // count(*) AS BIGINT) AS single_bp,
        |       CAST(sum(CASE WHEN n_supp = 1 THEN cents ELSE 0 END)
        |            AS BIGINT) AS single_cents,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM pp JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_supplier_dependency" ->
      """WITH sb AS (SELECT l_suppkey, p_brand,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT l_suppkey, p_brand, rev, ROW_NUMBER() OVER (
        |         PARTITION BY l_suppkey
        |         ORDER BY rev DESC, p_brand ASC) AS rk
        |       FROM sb),
        |g AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_brands,
        |        CAST(sum(rev) AS BIGINT) AS tot_cents,
        |        max(CASE WHEN rk = 1 THEN p_brand END) AS top_brand,
        |        CAST(sum(CASE WHEN rk = 1 THEN rev ELSE 0 END)
        |             AS BIGINT) AS top_cents
        |      FROM rk GROUP BY 1)
        |SELECT l_suppkey, n_brands, tot_cents, top_brand,
        |       CAST(top_cents * 10000 // tot_cents AS BIGINT)
        |         AS dep_bp,
        |       top_cents * 10000 // tot_cents >= 5000 AS concentrated
        |FROM g ORDER BY ALL""".stripMargin,
    "q_cross_nation" ->
      """WITH geo AS (SELECT c_custkey, c_nationkey AS cust_nation,
        |    r_name
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |go AS (SELECT o_orderkey, cust_nation, r_name
        |       FROM orders JOIN geo ON o_custkey = c_custkey),
        |j AS (SELECT r_name,
        |        s_nationkey <> cust_nation AS xb,
        |        CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |      FROM lineitem
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN go ON l_orderkey = o_orderkey)
        |SELECT r_name, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(cents) AS BIGINT) AS cents,
        |       CAST(sum(CASE WHEN xb THEN cents ELSE 0 END) AS BIGINT)
        |         AS xborder_cents,
        |       CAST(sum(CASE WHEN xb THEN cents ELSE 0 END) * 10000
        |            // sum(cents) AS BIGINT) AS xborder_bp
        |FROM j GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.79 volatility diagnostics ----
    "q_realized_vol" ->
      s"""WITH $dailyDeltaCte,
         |r AS (SELECT event_type,
         |        CAST(round(ln(CAST(cents AS DOUBLE) / prev_cents)
         |             * 1000000) AS BIGINT) AS r_u
         |      FROM dd),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |        CAST(sum(r_u) AS BIGINT) AS sr,
         |        CAST(sum(r_u * r_u) AS BIGINT) AS qr
         |      FROM r GROUP BY 1)
         |SELECT event_type, n_days, sr,
         |       CAST(CASE WHEN n_days < 2 THEN NULL ELSE
         |         round(sqrt((CAST(qr AS DOUBLE)
         |           - CAST(sr AS DOUBLE) * sr / n_days)
         |           / (n_days - 1))) END AS BIGINT) AS vol_u
         |FROM g ORDER BY ALL""".stripMargin,
    "q_var95" ->
      s"""WITH $dailyDeltaCte,
         |h AS (SELECT event_type AS grp, cents - prev_cents AS v,
         |        CAST(count(*) AS BIGINT) AS cnt
         |      FROM dd GROUP BY 1, 2),
         |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
         |        FROM h GROUP BY 1),
         |c AS (SELECT h.grp, v, n,
         |        CAST(sum(cnt) OVER (PARTITION BY h.grp ORDER BY v
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM h JOIN tot USING (grp)),
         |p AS (SELECT grp, CAST(max(n) AS BIGINT) AS n_days,
         |        CAST(min(v) AS BIGINT) AS var95_cents
         |      FROM c WHERE cum * 100 >= n * 5 GROUP BY 1),
         |w AS (SELECT grp, CAST(min(v) AS BIGINT) AS worst
         |      FROM h GROUP BY 1)
         |SELECT grp AS event_type, n_days, var95_cents, worst
         |FROM p JOIN w USING (grp) ORDER BY ALL""".stripMargin,
    "q_streaks" ->
      s"""WITH $dailyDeltaCte,
         |sg AS (SELECT event_type, day,
         |         CASE WHEN cents > prev_cents THEN 1
         |              WHEN cents < prev_cents THEN -1 ELSE 0 END
         |           AS sign
         |       FROM dd),
         |i AS (SELECT event_type, sign,
         |        ROW_NUMBER() OVER (PARTITION BY event_type
         |          ORDER BY day)
         |        - ROW_NUMBER() OVER (PARTITION BY event_type, sign
         |          ORDER BY day) AS grp_id
         |      FROM sg),
         |runs AS (SELECT event_type, sign,
         |           CAST(count(*) AS BIGINT) AS len
         |         FROM i GROUP BY event_type, sign, grp_id)
         |SELECT event_type,
         |       CAST(sum(CASE WHEN sign = 1 THEN len ELSE 0 END)
         |            AS BIGINT) AS up_days,
         |       CAST(sum(CASE WHEN sign = -1 THEN len ELSE 0 END)
         |            AS BIGINT) AS down_days,
         |       CAST(max(CASE WHEN sign = 1 THEN len ELSE 0 END)
         |            AS BIGINT) AS max_up_streak,
         |       CAST(max(CASE WHEN sign = -1 THEN len ELSE 0 END)
         |            AS BIGINT) AS max_down_streak
         |FROM runs GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.80 curation-policy deltas ----
    "q_rep_choice" ->
      """WITH c AS (SELECT text, CAST(count(*) AS BIGINT) AS k,
        |    CAST(min(doc_id) AS BIGINT) AS first_id
        |  FROM documents GROUP BY 1),
        |c2 AS (SELECT text, k, first_id,
        |         (SELECT d.doc_id FROM documents d
        |          WHERE d.text = c.text
        |          ORDER BY d.n_chars DESC, d.doc_id ASC LIMIT 1)
        |           AS longest_id
        |       FROM c WHERE k >= 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(sum(k) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN first_id <> longest_id THEN 1
        |            ELSE 0 END) AS BIGINT) AS n_differ,
        |       CAST(CASE WHEN count(*) = 0 THEN NULL
        |            ELSE sum(CASE WHEN first_id <> longest_id THEN 1
        |                 ELSE 0 END) * 10000 // count(*) END
        |            AS BIGINT) AS differ_bp
        |FROM c2 ORDER BY ALL""".stripMargin,
    "q_split_balance" ->
      """WITH d AS (SELECT lang,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)
        |           || ':split'), 1, 2) < '1a' THEN 'val'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)
        |           || ':split'), 1, 2) < '34' THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents),
        |g AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1, 2),
        |st AS (SELECT split, CAST(sum(n) AS BIGINT) AS n_split
        |       FROM g GROUP BY 1),
        |co AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_corpus
        |       FROM g GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM g)
        |SELECT split, lang, n,
        |       CAST(n * 10000 // n_split AS BIGINT) AS share_bp,
        |       CAST(n_corpus * 10000 // nn AS BIGINT) AS corpus_bp,
        |       CAST(n * 10000 // n_split
        |            - n_corpus * 10000 // nn AS BIGINT) AS dev_bp
        |FROM g JOIN st USING (split) JOIN co USING (lang)
        |CROSS JOIN tot ORDER BY ALL""".stripMargin,
    "q_filter_overlap" ->
      """WITH f AS (SELECT
        |    list_filter(string_split(lower(text), ' '), x -> x <> '')
        |      AS toks, n_chars
        |  FROM documents),
        |fl AS (SELECT
        |    NOT (len(toks) >= 50 AND len(toks) <= 100000) AS r_len,
        |    NOT (n_chars - (len(toks) - 1) >= len(toks) * 3 AND
        |         n_chars - (len(toks) - 1) <= len(toks) * 10)
        |      AS r_wordlen,
        |    NOT (10 * len(list_distinct(toks)) >= 3 * len(toks))
        |      AS r_ttr,
        |    (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(toks, 'is') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(toks, 'for') THEN 1 ELSE 0 END)
        |      < 2 AS r_stop
        |  FROM f),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN r_len THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_len,
        |    CAST(sum(CASE WHEN r_wordlen THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_wordlen,
        |    CAST(sum(CASE WHEN r_ttr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ttr,
        |    CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_stop,
        |    CAST(sum(CASE WHEN r_len AND r_wordlen THEN 1 ELSE 0 END)
        |         AS BIGINT) AS b12,
        |    CAST(sum(CASE WHEN r_len AND r_ttr THEN 1 ELSE 0 END)
        |         AS BIGINT) AS b13,
        |    CAST(sum(CASE WHEN r_len AND r_stop THEN 1 ELSE 0 END)
        |         AS BIGINT) AS b14,
        |    CAST(sum(CASE WHEN r_wordlen AND r_ttr THEN 1 ELSE 0 END)
        |         AS BIGINT) AS b23,
        |    CAST(sum(CASE WHEN r_wordlen AND r_stop THEN 1 ELSE 0
        |         END) AS BIGINT) AS b24,
        |    CAST(sum(CASE WHEN r_ttr AND r_stop THEN 1 ELSE 0 END)
        |         AS BIGINT) AS b34
        |  FROM fl),
        |p AS (
        |  SELECT 'r_len' AS filter_a, 'r_wordlen' AS filter_b,
        |         n_len AS rej_a, n_wordlen AS rej_b, b12 AS rej_both
        |  FROM a
        |  UNION ALL SELECT 'r_len', 'r_ttr', n_len, n_ttr, b13 FROM a
        |  UNION ALL SELECT 'r_len', 'r_stop', n_len, n_stop, b14
        |  FROM a
        |  UNION ALL SELECT 'r_wordlen', 'r_ttr', n_wordlen, n_ttr,
        |    b23 FROM a
        |  UNION ALL SELECT 'r_wordlen', 'r_stop', n_wordlen, n_stop,
        |    b24 FROM a
        |  UNION ALL SELECT 'r_ttr', 'r_stop', n_ttr, n_stop, b34
        |  FROM a)
        |SELECT filter_a, filter_b, rej_a, rej_b, rej_both,
        |       CAST(CASE WHEN rej_a + rej_b - rej_both = 0 THEN NULL
        |            ELSE rej_both * 10000
        |                 // (rej_a + rej_b - rej_both) END AS BIGINT)
        |         AS jaccard_bp
        |FROM p ORDER BY ALL""".stripMargin,

    // ---- §2.81 optimizer-statistics audits ----
    "q_join_card_audit" ->
      """WITH ol AS (
        |  SELECT 'orders_lineitem' AS rel,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n1,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n2,
        |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |     FROM orders) AS d1,
        |    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |     FROM lineitem) AS d2,
        |    (SELECT CAST(sum(na * nb) AS BIGINT) FROM
        |      (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS na
        |       FROM orders GROUP BY 1) a
        |      JOIN
        |      (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nb
        |       FROM lineitem GROUP BY 1) b USING (k)) AS actual),
        |co AS (
        |  SELECT 'customer_orders' AS rel,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n1,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n2,
        |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |     FROM customer) AS d1,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |     FROM orders) AS d2,
        |    (SELECT CAST(sum(na * nb) AS BIGINT) FROM
        |      (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS na
        |       FROM customer GROUP BY 1) a
        |      JOIN
        |      (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS nb
        |       FROM orders GROUP BY 1) b USING (k)) AS actual),
        |u AS (SELECT * FROM ol UNION ALL SELECT * FROM co)
        |SELECT rel, n1, n2,
        |       CAST(greatest(d1, d2) AS BIGINT) AS max_ndv,
        |       CAST(n1 * n2 // greatest(d1, d2) AS BIGINT) AS est,
        |       actual,
        |       CAST(abs(n1 * n2 // greatest(d1, d2) - actual) * 10000
        |            // actual AS BIGINT) AS err_bp
        |FROM u ORDER BY ALL""".stripMargin,
    "q_selectivity_audit" ->
      """WITH b AS (SELECT epoch_us(l_shipdate) // 86400000000 AS d
        |  FROM lineitem),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(min(d) AS BIGINT) AS lo,
        |         CAST(max(d) AS BIGINT) AS hi
        |       FROM b),
        |w AS (SELECT unnest([30, 180, 365]) AS win),
        |g AS (SELECT CAST(win AS BIGINT) AS win,
        |        CAST(sum(CASE WHEN d >= 9131 AND d < 9131 + win
        |             THEN 1 ELSE 0 END) AS BIGINT) AS actual
        |      FROM b CROSS JOIN w GROUP BY 1)
        |SELECT win, n, actual,
        |       CAST(n * win // (hi - lo + 1) AS BIGINT) AS est,
        |       CAST(CASE WHEN actual = 0 THEN NULL
        |            ELSE abs(n * win // (hi - lo + 1) - actual)
        |                 * 10000 // actual END AS BIGINT) AS err_bp
        |FROM g CROSS JOIN st ORDER BY ALL""".stripMargin,
    "q_fd_strength" ->
      """WITH o AS (SELECT o_orderstatus, o_orderpriority,
        |    CAST((epoch_us(o_orderdate) // 86400000000 + 3) % 7 + 1
        |         AS VARCHAR) AS dow
        |  FROM orders),
        |f1 AS (SELECT 'status_to_priority' AS fd,
        |         o_orderstatus AS av, o_orderpriority AS bv FROM o),
        |f2 AS (SELECT 'priority_to_status', o_orderpriority,
        |         o_orderstatus FROM o),
        |f3 AS (SELECT 'status_to_dow', o_orderstatus, dow FROM o),
        |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |      UNION ALL SELECT * FROM f3),
        |cells AS (SELECT fd, av, bv, CAST(count(*) AS BIGINT) AS n
        |          FROM u GROUP BY 1, 2, 3),
        |m AS (SELECT fd, av, CAST(max(n) AS BIGINT) AS modal_n,
        |        CAST(sum(n) AS BIGINT) AS n_rows
        |      FROM cells GROUP BY 1, 2),
        |g AS (SELECT fd, CAST(count(*) AS BIGINT) AS n_determinants,
        |        CAST(sum(n_rows) AS BIGINT) AS n,
        |        CAST(sum(modal_n) AS BIGINT) AS explained
        |      FROM m GROUP BY 1)
        |SELECT fd, n_determinants, n, explained,
        |       CAST(explained * 10000 // n AS BIGINT) AS strength_bp
        |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.82 seasonal-mix readouts ----
    "q_weekend_effect" ->
      """WITH d AS (SELECT c_mktsegment,
        |    epoch_us(o_orderdate) // 86400000000 AS day,
        |    (epoch_us(o_orderdate) // 86400000000 + 3) % 7 + 1 >= 6
        |      AS wknd,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT c_mktsegment,
        |    CAST(count(DISTINCT CASE WHEN NOT wknd THEN day END)
        |         AS BIGINT) AS wd_days,
        |    CAST(count(DISTINCT CASE WHEN wknd THEN day END)
        |         AS BIGINT) AS we_days,
        |    CAST(sum(CASE WHEN NOT wknd THEN cents ELSE 0 END)
        |         AS BIGINT) AS wd_cents,
        |    CAST(sum(CASE WHEN wknd THEN cents ELSE 0 END)
        |         AS BIGINT) AS we_cents
        |  FROM d GROUP BY 1)
        |SELECT c_mktsegment, wd_days, we_days, wd_cents, we_cents,
        |       CAST(CASE WHEN wd_days = 0 THEN NULL
        |            ELSE wd_cents * 1000 // wd_days END AS BIGINT)
        |         AS wd_rate_milli,
        |       CAST(CASE WHEN we_days = 0 THEN NULL
        |            ELSE we_cents * 1000 // we_days END AS BIGINT)
        |         AS we_rate_milli,
        |       CAST(CASE WHEN wd_days = 0 OR we_days = 0
        |            OR wd_cents * 1000 // wd_days = 0 THEN NULL
        |            ELSE ((we_cents * 1000 // we_days
        |                   - wd_cents * 1000 // wd_days) * 10000
        |                  + 10001 * (wd_cents * 1000 // wd_days))
        |                 // (wd_cents * 1000 // wd_days) - 10001 END
        |            AS BIGINT) AS lift_bp
        |FROM g ORDER BY ALL""".stripMargin,
    "q_mix_shift" ->
      """WITH a AS (SELECT c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS c_a
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1),
        |b AS (SELECT c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS c_b
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1),
        |j AS (SELECT c_mktsegment, n_a, n_b,
        |        c_a * 1000 // n_a AS rate_a_u,
        |        c_b * 1000 // n_b AS rate_b_u, c_a, c_b
        |      FROM a JOIN b USING (c_mktsegment))
        |SELECT c_mktsegment, n_a, n_b,
        |       CAST(rate_a_u AS BIGINT) AS rate_a_u,
        |       CAST(rate_b_u AS BIGINT) AS rate_b_u,
        |       CAST((rate_b_u - rate_a_u) * n_a AS BIGINT)
        |         AS rate_effect_u,
        |       CAST((n_b - n_a) * rate_b_u AS BIGINT) AS mix_effect_u,
        |       CAST((c_b - c_a) * 1000 - ((rate_b_u - rate_a_u) * n_a
        |            + (n_b - n_a) * rate_b_u) AS BIGINT)
        |         AS residual_u
        |FROM j ORDER BY ALL""".stripMargin,
    "q_heat_grid" ->
      """WITH g AS (SELECT
        |    (epoch_us(ts) // 86400000000 + 3) % 7 + 1 AS dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g)
        |SELECT CAST(dow AS BIGINT) AS dow,
        |       CAST(hour AS BIGINT) AS hour, n,
        |       CAST(n * 10000 // tot AS BIGINT) AS share_bp
        |FROM g CROSS JOIN tot ORDER BY ALL""".stripMargin,

    // ---- §2.83 operational-SLO readouts ----
    "q_freshness" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |hw AS (SELECT CAST(max(us) AS BIGINT) AS hw_us,
        |         CAST(max(day) AS BIGINT) AS hw_day FROM e),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(max(us) AS BIGINT) AS last_us,
        |        CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |        CAST(sum(CASE WHEN day = hw_day THEN 1 ELSE 0 END)
        |             AS BIGINT) AS last_day_n,
        |        CAST(max(hw_us) AS BIGINT) AS hw_us2
        |      FROM e CROSS JOIN hw GROUP BY 1)
        |SELECT event_type, n, n_days,
        |       CAST(hw_us2 - last_us AS BIGINT) AS lag_us,
        |       last_day_n,
        |       CAST(last_day_n * n_days * 10000 // n AS BIGINT)
        |         AS last_day_vs_mean_bp
        |FROM g ORDER BY ALL""".stripMargin,
    "q_ingest_rate" ->
      """WITH h AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS h,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type,
        |        CAST(count(*) AS BIGINT) AS active_hours,
        |        CAST(sum(n) AS BIGINT) AS n_events,
        |        CAST(max(n) AS BIGINT) AS peak_hour_n
        |      FROM h GROUP BY 1)
        |SELECT event_type, active_hours, n_events,
        |       CAST(n_events * 1000 // active_hours AS BIGINT)
        |         AS mean_rate_milli,
        |       peak_hour_n,
        |       CAST(peak_hour_n * 1000 * active_hours // n_events
        |            AS BIGINT) AS peak_to_mean_milli
        |FROM g ORDER BY ALL""".stripMargin,
    "q_sla_attainment" ->
      """WITH j AS (SELECT o_orderpriority,
        |    epoch_us(l_shipdate) // 86400000000
        |      - epoch_us(o_orderdate) // 86400000000 AS lat
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN lat <= 7 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS within7,
        |       CAST(sum(CASE WHEN lat <= 30 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS within30,
        |       CAST(sum(CASE WHEN lat <= 7 THEN 1 ELSE 0 END)
        |            * 10000 // count(*) AS BIGINT) AS within7_bp,
        |       CAST(sum(CASE WHEN lat <= 30 THEN 1 ELSE 0 END)
        |            * 10000 // count(*) AS BIGINT) AS within30_bp
        |FROM j GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.84 market-basket analytics (round 9) ----
    "q_basket_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT x.l_partkey AS p1, y.l_partkey AS p2,
        |        CAST(count(*) AS BIGINT) AS n_ab
        |      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
        |        AND x.l_partkey < y.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 3),
        |m AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_p
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
        |      FROM b)
        |SELECT p1, p2, n_ab, ma.n_p AS n_a, mb.n_p AS n_b,
        |       CAST(CAST(n_ab AS HUGEINT) * n * 1000000
        |            // (CAST(ma.n_p AS HUGEINT) * mb.n_p) AS BIGINT)
        |         AS lift_e6
        |FROM p JOIN m ma ON p.p1 = ma.l_partkey
        |       JOIN m mb ON p.p2 = mb.l_partkey
        |       CROSS JOIN t ORDER BY ALL""".stripMargin,
    "q_cross_sell" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (SELECT x.l_partkey AS anchor, y.l_partkey AS co_part,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |       FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
        |         AND x.l_partkey <> y.l_partkey
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |r AS (SELECT anchor, co_part, n_ab,
        |        CAST(row_number() OVER (PARTITION BY anchor
        |          ORDER BY n_ab DESC, co_part ASC) AS BIGINT) AS rk
        |      FROM co)
        |SELECT anchor, rk, co_part, n_ab
        |FROM r WHERE rk <= 3 ORDER BY ALL""".stripMargin,
    "q_segment_mix" ->
      """WITH l AS (SELECT c_mktsegment AS segment, p_brand AS brand
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN part ON l_partkey = p_partkey),
        |c AS (SELECT segment, brand, CAST(count(*) AS BIGINT) AS n_sb
        |      FROM l GROUP BY 1, 2),
        |sN AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_s
        |       FROM l GROUP BY 1),
        |bN AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_b
        |       FROM l GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l)
        |SELECT segment, brand, n_sb, n_s, n_b,
        |       CAST(CAST(n_sb AS HUGEINT) * n * 10000
        |            // (CAST(n_s AS HUGEINT) * n_b) AS BIGINT) AS index_bp
        |FROM c JOIN sN USING (segment) JOIN bN USING (brand)
        |       CROSS JOIN t ORDER BY ALL""".stripMargin,

    // ---- §2.85 nonparametric statistics (round 9) ----
    "q_kendall" ->
      """WITH cells AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_discount * 100) AS BIGINT) AS y,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |p AS (SELECT a.flag,
        |    CAST(sum(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * b.c
        |             ELSE 0 END) AS BIGINT) AS concordant,
        |    CAST(sum(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * b.c
        |             ELSE 0 END) AS BIGINT) AS discordant
        |  FROM cells a JOIN cells b
        |    ON a.flag = b.flag AND a.x < b.x
        |  GROUP BY 1)
        |SELECT flag, concordant, discordant,
        |       CASE WHEN concordant + discordant = 0 THEN NULL ELSE
        |         (concordant - discordant) * 1000
        |           // (concordant + discordant) END AS gamma_milli
        |FROM p ORDER BY ALL""".stripMargin,
    "q_runs_test" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS BIGINT) AS s
        |      FROM e GROUP BY 1),
        |f AS (SELECT e.event_type, us, event_id, n,
        |        CASE WHEN CAST(cents AS HUGEINT) * n >
        |          CAST(s AS HUGEINT) THEN 1 ELSE 0 END AS above
        |      FROM e JOIN g USING (event_type)),
        |l AS (SELECT event_type, n, above,
        |        lag(above) OVER (PARTITION BY event_type
        |          ORDER BY us, event_id) AS prev
        |      FROM f)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |       CAST(sum(above) AS BIGINT) AS n_above,
        |       CAST(max(n) - sum(above) AS BIGINT) AS n_below,
        |       CAST(sum(CASE WHEN prev IS NULL OR above <> prev
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
        |       CAST(1000 + CAST(2000 AS HUGEINT) * sum(above)
        |            * (max(n) - sum(above)) // max(n) AS BIGINT)
        |         AS expected_milli,
        |       CAST(sum(CASE WHEN prev IS NULL OR above <> prev
        |              THEN 1 ELSE 0 END) * 1000
        |            - (1000 + CAST(2000 AS HUGEINT) * sum(above)
        |               * (max(n) - sum(above)) // max(n)) AS BIGINT)
        |         AS excess_milli
        |FROM l GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_jackknife" ->
      """WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_h
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_h) AS BIGINT) AS n,
        |        CAST(sum(s_h) AS BIGINT) AS s FROM st)
        |SELECT event_type, n_h,
        |       CAST(CAST(s AS HUGEINT) * 1000 // n AS BIGINT)
        |         AS mean_full_milli,
        |       CAST(CAST(s - s_h AS HUGEINT) * 1000 // (n - n_h)
        |            AS BIGINT) AS mean_loo_milli,
        |       CAST(n * (CAST(s AS HUGEINT) * 1000 // n)
        |            - (n - n_h) * (CAST(s - s_h AS HUGEINT) * 1000
        |                           // (n - n_h)) AS BIGINT)
        |         AS pseudo_milli
        |FROM st CROSS JOIN t ORDER BY ALL""".stripMargin,

    // ---- §2.86 privacy-risk audits (round 9) ----
    "q_tcloseness" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |    c_mktsegment AS mktsegment,
        |    CAST(round(c_acctbal) AS BIGINT) // 1000 AS band
        |  FROM customer),
        |bands AS (SELECT DISTINCT band FROM c),
        |grp AS (SELECT nationkey, mktsegment,
        |          CAST(count(*) AS BIGINT) AS k
        |        FROM c GROUP BY 1, 2),
        |cell AS (SELECT nationkey, mktsegment, band,
        |           CAST(count(*) AS BIGINT) AS cc
        |         FROM c GROUP BY 1, 2, 3),
        |gl AS (SELECT band, CAST(count(*) AS BIGINT) AS g
        |       FROM c GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bands FROM bands),
        |grid AS (SELECT grp.nationkey, grp.mktsegment, grp.k,
        |    bands.band,
        |    COALESCE(cell.cc, 0) * 10000 // grp.k AS sh_g_bp,
        |    gl.g * 10000 // t.n AS sh_all_bp
        |  FROM grp CROSS JOIN bands
        |  LEFT JOIN cell ON cell.nationkey = grp.nationkey
        |    AND cell.mktsegment = grp.mktsegment
        |    AND cell.band = bands.band
        |  JOIN gl ON gl.band = bands.band CROSS JOIN t),
        |cum AS (SELECT nationkey, mktsegment, k,
        |    sum(sh_g_bp) OVER (PARTITION BY nationkey, mktsegment
        |      ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_g,
        |    sum(sh_all_bp) OVER (PARTITION BY nationkey, mktsegment
        |      ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_all
        |  FROM grid)
        |SELECT nationkey, mktsegment, CAST(max(k) AS BIGINT) AS k,
        |       CAST(sum(abs(cum_g - cum_all))
        |            // (max(n_bands) - 1) AS BIGINT) AS emd_bp
        |FROM cum CROSS JOIN nb
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_quasi_width" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |    c_mktsegment AS mktsegment,
        |    CAST(round(c_acctbal) AS BIGINT) // 1000 AS band
        |  FROM customer),
        |l1 AS (SELECT count(*) AS k FROM c GROUP BY nationkey),
        |l2 AS (SELECT count(*) AS k FROM c
        |       GROUP BY nationkey, mktsegment),
        |l3 AS (SELECT count(*) AS k FROM c
        |       GROUP BY nationkey, mktsegment, band),
        |u AS (
        |  SELECT CAST(1 AS BIGINT) AS width,
        |    CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unique,
        |    CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |      AS rows_at_risk,
        |    CAST(sum(k) AS BIGINT) AS n_rows FROM l1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT),
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT),
        |    CAST(sum(k) AS BIGINT) FROM l2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT),
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT),
        |    CAST(sum(k) AS BIGINT) FROM l3)
        |SELECT width, n_groups, n_unique, rows_at_risk,
        |       CAST(rows_at_risk * 10000 // n_rows AS BIGINT) AS risk_bp
        |FROM u ORDER BY ALL""".stripMargin,
    "q_suppression_cost" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |    c_mktsegment AS mktsegment,
        |    CAST(round(c_acctbal) AS BIGINT) // 1000 AS band
        |  FROM customer),
        |g AS (SELECT nationkey, mktsegment, band,
        |        CAST(count(*) AS BIGINT) AS k
        |      FROM c GROUP BY 1, 2, 3)
        |SELECT nationkey, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS groups_lost,
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |         AS rows_lost,
        |       CAST(sum(k) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 10000
        |            // sum(k) AS BIGINT) AS cost_bp
        |FROM g GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.87 graph structure diagnostics (round 9) ----
    "q_bridge_edges" ->
      s"""$graphCte,
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_tri_edges FROM (
        |    SELECT DISTINCT x, y FROM wg
        |    WHERE EXISTS (SELECT 1 FROM ed
        |                  WHERE a_id = x AND b_id = y))),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed)
        |SELECT n_edges, n_tri_edges,
        |       CAST(n_edges - n_tri_edges AS BIGINT) AS n_bridge_edges,
        |       CASE WHEN n_edges = 0 THEN NULL ELSE
        |         CAST((n_edges - n_tri_edges) * 10000 // n_edges
        |              AS BIGINT) END AS bridge_bp
        |FROM ne CROSS JOIN tri ORDER BY ALL""".stripMargin,
    "q_degree_hist" ->
      s"""$graphCte,
        |b AS (SELECT CAST(CASE WHEN deg < 2 THEN 0 WHEN deg < 4 THEN 1
        |        WHEN deg < 8 THEN 2 WHEN deg < 16 THEN 3
        |        WHEN deg < 32 THEN 4 ELSE 5 END AS BIGINT) AS band,
        |        CAST(count(*) AS BIGINT) AS n_nodes,
        |        CAST(sum(deg) AS BIGINT) AS sum_deg
        |      FROM dg GROUP BY 1),
        |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS nn,
        |        CAST(sum(sum_deg) AS BIGINT) AS ends FROM b)
        |SELECT band, n_nodes, sum_deg,
        |       CAST(n_nodes * 10000 // nn AS BIGINT) AS node_bp,
        |       CAST(sum_deg * 10000 // ends AS BIGINT) AS end_bp
        |FROM b CROSS JOIN t ORDER BY ALL""".stripMargin,
    "q_closure_by_degree" ->
      s"""$graphCte,
        |wd AS (SELECT wg.c,
        |         CASE WHEN EXISTS (SELECT 1 FROM ed
        |           WHERE a_id = wg.x AND b_id = wg.y)
        |           THEN 1 ELSE 0 END AS closed
        |       FROM wg),
        |g AS (SELECT CAST(CASE WHEN deg < 2 THEN 0 WHEN deg < 4 THEN 1
        |        WHEN deg < 8 THEN 2 WHEN deg < 16 THEN 3
        |        WHEN deg < 32 THEN 4 ELSE 5 END AS BIGINT) AS band,
        |        CAST(count(*) AS BIGINT) AS n_wedges,
        |        CAST(sum(closed) AS BIGINT) AS n_closed
        |      FROM wd JOIN dg ON wd.c = dg.u GROUP BY 1)
        |SELECT band, n_wedges, n_closed,
        |       CAST(n_closed * 10000 // n_wedges AS BIGINT) AS closure_bp
        |FROM g ORDER BY ALL""".stripMargin,

    // ---- §2.88 threshold sweeps / score-quality readouts (round 9) ----
    "q_pr_curve" ->
      s"""WITH ${sgnCte(100, 101)},
         |sc AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos,
         |    CAST(round(${planeDot("embedding")} * 10000) AS BIGINT)
         |      AS score_u
         |  FROM embeddings CROSS JOIN sgn),
         |th AS (SELECT CAST(unnest([-20000, -15000, -10000, -5000, 0,
         |    5000, 10000, 15000, 20000]) AS BIGINT) AS t),
         |g AS (SELECT t,
         |    CAST(sum(CASE WHEN score_u >= t THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_pred,
         |    CAST(sum(CASE WHEN score_u >= t THEN pos ELSE 0 END)
         |         AS BIGINT) AS tp,
         |    CAST(sum(pos) AS BIGINT) AS n_pos
         |  FROM sc CROSS JOIN th GROUP BY 1)
         |SELECT t, n_pred, tp, n_pos,
         |       CASE WHEN n_pred = 0 THEN NULL ELSE
         |         CAST(tp * 10000 // n_pred AS BIGINT) END
         |         AS precision_bp,
         |       CAST(tp * 10000 // n_pos AS BIGINT) AS recall_bp,
         |       CASE WHEN n_pred + n_pos = 0 THEN NULL ELSE
         |         CAST(2 * tp * 10000 // (n_pred + n_pos) AS BIGINT) END
         |         AS f1_bp
         |FROM g ORDER BY ALL""".stripMargin,
    "q_log_loss" ->
      s"""WITH ${sgnCte(100, 103)},
         |sc AS (SELECT j - 100 AS plane,
         |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos,
         |    CAST(round(${planeDot("embedding")} * 10000) AS BIGINT)
         |      AS score_u
         |  FROM embeddings CROSS JOIN sgn),
         |p AS (SELECT plane, pos,
         |    least(greatest((score_u + 10000) // 20, 1), 999) AS p_milli
         |  FROM sc),
         |r AS (SELECT plane, pos, p_milli,
         |    -CAST(round(ln(CAST(CASE WHEN pos = 1 THEN p_milli
         |        ELSE 1000 - p_milli END AS DOUBLE) / 1000.0)
         |      * 1000000) AS BIGINT) AS loss_u,
         |    (p_milli - pos * 1000) * (p_milli - pos * 1000) AS brier_sq
         |  FROM p)
         |SELECT CAST(plane AS BIGINT) AS plane,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(loss_u) // count(*) AS BIGINT) AS mean_loss_u,
         |       CAST(sum(brier_sq) // count(*) AS BIGINT) AS mean_brier_u
         |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_rank_overlap" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe
         |           FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
         |s AS (SELECT pid, nid, $dot64 AS dot, $pn64 AS na2, $en64 AS nb2,
         |    list_sum(list_transform(generate_series(1, 32), i ->
         |      CAST(pe[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))) AS dot32,
         |    list_sum(list_transform(generate_series(1, 32), i ->
         |      CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS na32,
         |    list_sum(list_transform(generate_series(1, 32), i ->
         |      CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))) AS nb32
         |      FROM p JOIN c ON nid <> pid),
         |r AS (SELECT pid, nid,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rc,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY dot32 / sqrt(na32 * nb32) DESC, nid) AS rd,
         |    count(*) OVER (PARTITION BY pid) AS ncand
         |  FROM s),
         |o AS (SELECT pid,
         |    CAST(sum(CASE WHEN rc <= 10 AND rd <= 10 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS overlap,
         |    CAST(max(least(10, ncand)) AS BIGINT) AS ls
         |  FROM r WHERE rc <= 10 OR rd <= 10 GROUP BY 1)
         |SELECT pid, overlap,
         |       CAST(overlap * 10000 // (2 * ls - overlap) AS BIGINT)
         |         AS jaccard_bp
         |FROM o ORDER BY ALL""".stripMargin,

    // ---- §2.89 event-sequence dynamics (round 9) ----
    "q_switch_rate" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev
        |  FROM e),
        |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN prev IS NOT NULL
        |      AND prev <> event_type THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_switch
        |  FROM l GROUP BY 1),
        |b AS (SELECT *, n_events - 1 AS n_trans,
        |    CAST(CASE WHEN n_events - 1 = 0 THEN -1 ELSE
        |      least(n_switch * 10000 // (n_events - 1), 9999) // 2000
        |      END AS BIGINT) AS band
        |  FROM u)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(n_trans) AS BIGINT) AS n_trans,
        |       CAST(sum(n_switch) AS BIGINT) AS n_switch
        |FROM b GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_dwell_bins" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |g AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS gap
        |  FROM e),
        |f AS (SELECT event_type,
        |    CAST(CASE WHEN gap < 1000000 THEN 0
        |      WHEN gap < 10000000 THEN 1 WHEN gap < 60000000 THEN 2
        |      WHEN gap < 600000000 THEN 3 WHEN gap < 3600000000 THEN 4
        |      ELSE 5 END AS BIGINT) AS band
        |  FROM g WHERE gap IS NOT NULL),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps
        |       FROM f GROUP BY 1)
        |SELECT event_type, band, CAST(count(*) AS BIGINT) AS n, n_gaps,
        |       CAST(count(*) * 10000 // n_gaps AS BIGINT) AS share_bp
        |FROM f JOIN pt USING (event_type)
        |GROUP BY 1, 2, n_gaps ORDER BY ALL""".stripMargin,
    "q_ping_pong" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS p1,
        |    lag(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS p2
        |  FROM e)
        |SELECT event_type AS a, p1 AS b,
        |       CAST(count(*) AS BIGINT) AS n_pingpong,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM l
        |WHERE p2 IS NOT NULL AND p2 = event_type AND p1 <> event_type
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,

    // ---- §2.90 warehouse staples (round 9) ----
    "q_time_grain_rollup" ->
      """WITH b AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |    CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |    CAST(month(o_orderdate) AS BIGINT) AS m,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT COALESCE(y, -1) AS y, COALESCE(q, -1) AS q,
        |       COALESCE(m, -1) AS m,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM b GROUP BY ROLLUP (y, q, m) ORDER BY ALL""".stripMargin,
    "q_pk_audit" ->
      """WITH u AS (
        |  SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT)
        |      AS n_rows,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
        |  FROM orders
        |  UNION ALL SELECT 'customer', count(*),
        |    count(DISTINCT c_custkey) FROM customer
        |  UNION ALL SELECT 'part', count(*),
        |    count(DISTINCT p_partkey) FROM part
        |  UNION ALL SELECT 'supplier', count(*),
        |    count(DISTINCT s_suppkey) FROM supplier
        |  UNION ALL SELECT 'events', count(*),
        |    count(DISTINCT event_id) FROM events
        |  UNION ALL SELECT 'lineitem', count(*),
        |    count(DISTINCT concat(l_orderkey, ':', l_linenumber))
        |  FROM lineitem)
        |SELECT table_name, n_rows, n_keys,
        |       CAST(n_rows - n_keys AS BIGINT) AS n_dup_rows
        |FROM u ORDER BY ALL""".stripMargin,
    "q_tail_mass" ->
      """WITH h AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |hv AS (SELECT *, cents * cnt AS vsum FROM h),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(vsum) AS BIGINT) AS total FROM hv GROUP BY 1),
        |c AS (SELECT hv.event_type, cents, n,
        |    CAST(sum(cnt) OVER (PARTITION BY hv.event_type
        |      ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM hv JOIN tot USING (event_type)),
        |p50 AS (SELECT event_type, CAST(min(cents) AS BIGINT) AS p50
        |  FROM c WHERE cum * 100 >= n * 50 GROUP BY 1),
        |p90 AS (SELECT event_type, CAST(min(cents) AS BIGINT) AS p90
        |  FROM c WHERE cum * 100 >= n * 90 GROUP BY 1),
        |p99 AS (SELECT event_type, CAST(min(cents) AS BIGINT) AS p99
        |  FROM c WHERE cum * 100 >= n * 99 GROUP BY 1),
        |mk AS (SELECT * FROM p50 JOIN p90 USING (event_type)
        |       JOIN p99 USING (event_type)),
        |ms AS (SELECT hv.event_type,
        |    CAST(sum(CASE WHEN cents > p50 THEN vsum ELSE 0 END)
        |         AS BIGINT) AS mass50,
        |    CAST(sum(CASE WHEN cents > p90 THEN vsum ELSE 0 END)
        |         AS BIGINT) AS mass90,
        |    CAST(sum(CASE WHEN cents > p99 THEN vsum ELSE 0 END)
        |         AS BIGINT) AS mass99
        |  FROM hv JOIN mk USING (event_type) GROUP BY 1)
        |SELECT event_type, n, total AS total_cents, p50, p90, p99,
        |       CAST(mass50 * 10000 // total AS BIGINT) AS above_p50_bp,
        |       CAST(mass90 * 10000 // total AS BIGINT) AS above_p90_bp,
        |       CAST(mass99 * 10000 // total AS BIGINT) AS above_p99_bp
        |FROM tot JOIN mk USING (event_type) JOIN ms USING (event_type)
        |ORDER BY ALL""".stripMargin,

    // ---- §2.91 data-mixing policy (round 9) ----
    "q_temperature_mix" ->
      """WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |pt AS (SELECT tau_milli, source, n_docs, n_tokens,
        |    CAST(round(exp(ln(CAST(n_tokens AS DOUBLE))
        |      * tau_milli / 1000.0) * 1000) AS BIGINT) AS w_u
        |  FROM st CROSS JOIN (SELECT CAST(unnest([500, 700, 1000])
        |    AS BIGINT) AS tau_milli)),
        |tot AS (SELECT tau_milli, CAST(sum(w_u) AS BIGINT) AS w_tot
        |        FROM pt GROUP BY 1)
        |SELECT tau_milli, source, n_docs, n_tokens, w_u,
        |       CAST(w_u * 10000 // w_tot AS BIGINT) AS share_bp
        |FROM pt JOIN tot USING (tau_milli) ORDER BY ALL""".stripMargin,
    "q_mix_entropy" ->
      """WITH st AS (SELECT source,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |pt AS (SELECT tau_milli, source,
        |    CAST(round(exp(ln(CAST(n_tokens AS DOUBLE))
        |      * tau_milli / 1000.0) * 1000) AS BIGINT) AS w_u
        |  FROM st CROSS JOIN (SELECT CAST(unnest([500, 700, 1000])
        |    AS BIGINT) AS tau_milli)),
        |tot AS (SELECT tau_milli, CAST(sum(w_u) AS BIGINT) AS w_tot,
        |    CAST(count(*) AS BIGINT) AS n_sources
        |  FROM pt GROUP BY 1),
        |sh AS (SELECT pt.tau_milli, n_sources,
        |    w_u * 10000 // w_tot AS share_bp
        |  FROM pt JOIN tot USING (tau_milli)),
        |tm AS (SELECT tau_milli, n_sources,
        |    CASE WHEN share_bp = 0 THEN 0 ELSE
        |      share_bp * -CAST(round(ln(CAST(share_bp AS DOUBLE)
        |        / 10000.0) * 1000000) AS BIGINT) END AS term_u
        |  FROM sh)
        |SELECT tau_milli, CAST(max(n_sources) AS BIGINT) AS n_sources,
        |       CAST(sum(term_u) // 10000 AS BIGINT)
        |         AS entropy_micro_nats
        |FROM tm GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_epoch_plan" ->
      """WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_tokens,
        |    CAST(round(exp(ln(CAST(n_tokens AS DOUBLE)) * 700 / 1000.0)
        |      * 1000) AS BIGINT) AS w_u
        |  FROM st),
        |tot AS (SELECT CAST(sum(w_u) AS BIGINT) AS w_tot FROM w)
        |SELECT source, n_tokens, w_u,
        |       CAST(CAST(1000000 AS HUGEINT) * w_u // w_tot AS BIGINT)
        |         AS alloc_tokens,
        |       CAST((CAST(1000000 AS HUGEINT) * w_u // w_tot) * 1000
        |            // n_tokens AS BIGINT) AS epochs_milli
        |FROM w CROSS JOIN tot ORDER BY ALL""".stripMargin,

    // ---- §2.92 cross-source contamination (round 9) ----
    "q_cross_source_dupes" ->
      """WITH g AS (SELECT
        |    md5(array_to_string(
        |      list_slice(string_split(lower(text), ' '), 1, 8), ' ')) AS h,
        |    source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       CAST(count(*) AS BIGINT) AS n_shared_hashes,
        |       CAST(sum(a.c * b.c) AS BIGINT) AS n_dup_pairs
        |FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_source_span_matrix" ->
      """WITH t AS (SELECT source,
        |             string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |sp AS (SELECT DISTINCT source,
        |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
        |         toks[i+6] || ' ' || toks[i+7] AS span
        |       FROM (SELECT source,
        |               unnest(generate_series(1, len(toks) - 7)) AS i,
        |               toks FROM t))
        |SELECT a.source AS source_a, b.source AS source_b,
        |       CAST(count(*) AS BIGINT) AS n_shared_spans
        |FROM sp a JOIN sp b
        |  ON a.span = b.span AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,
    "q_near_dup_sources" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' '))
        |         AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         count(*) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pe AS (SELECT a_id, b_id FROM pr
        |       JOIN sz sa ON a_id = sa.doc_id
        |       JOIN sz sb ON b_id = sb.doc_id
        |       WHERE common * 9 >= (sa.nt + sb.nt) * 4)
        |SELECT least(da.source, db.source) AS source_a,
        |       greatest(da.source, db.source) AS source_b,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       least(da.source, db.source)
        |         <> greatest(da.source, db.source) AS cross_source
        |FROM pe JOIN documents da ON pe.a_id = da.doc_id
        |        JOIN documents db ON pe.b_id = db.doc_id
        |GROUP BY 1, 2, 4 ORDER BY ALL""".stripMargin,

    // ---- §2.93 remaining staples (round 9) ----
    "q_window_nth" ->
      """WITH o AS (SELECT o_orderpriority, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey < 500),
        |w AS (SELECT o_orderpriority, o_orderkey, cents,
        |    CAST(row_number() OVER pw AS BIGINT) AS rn,
        |    CAST(nth_value(cents, 3) OVER (PARTITION BY o_orderpriority
        |      ORDER BY cents DESC, o_orderkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS BIGINT) AS third_cents,
        |    lead(o_orderkey, 2) OVER pw AS lead2,
        |    lag(o_orderkey, 2) OVER pw AS lag2
        |  FROM o
        |  WINDOW pw AS (PARTITION BY o_orderpriority
        |    ORDER BY cents DESC, o_orderkey ASC))
        |SELECT o_orderpriority, rn, o_orderkey, cents, third_cents,
        |       lead2, lag2
        |FROM w WHERE rn <= 25 ORDER BY ALL""".stripMargin,
    "q_dup_quality" ->
      """WITH d AS (SELECT
        |    md5(array_to_string(
        |      list_slice(string_split(lower(text), ' '), 1, 8), ' '))
        |      AS h,
        |    n_chars,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_distinct(string_split(lower(text), ' ')))
        |      AS BIGINT) AS ndt
        |  FROM documents),
        |g AS (SELECT h, CAST(count(*) AS BIGINT) AS gs
        |      FROM d GROUP BY 1),
        |b AS (SELECT CAST(CASE WHEN gs = 1 THEN 0 WHEN gs <= 3 THEN 1
        |        ELSE 2 END AS BIGINT) AS band, n_chars,
        |        ndt * 10000 // nt AS ratio_bp
        |      FROM d JOIN g USING (h))
        |SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) * 1000 // count(*) AS BIGINT)
        |         AS mean_chars_milli,
        |       CAST(sum(ratio_bp) // count(*) AS BIGINT) AS mean_uniq_bp
        |FROM b GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_sharpe" ->
      """WITH d AS (SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |      // 86400000000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(cents) AS BIGINT) AS total,
        |    sum(CAST(cents AS HUGEINT) * cents) AS sq
        |  FROM d)
        |SELECT n_days, total,
        |       CAST(total // n_days AS BIGINT) AS mean_cents,
        |       CAST(round(sqrt((CAST(sq AS DOUBLE)
        |         - CAST(total AS DOUBLE) * total / n_days) / n_days))
        |         AS BIGINT) AS sd_cents,
        |       CASE WHEN round(sqrt((CAST(sq AS DOUBLE)
        |           - CAST(total AS DOUBLE) * total / n_days) / n_days))
        |           = 0 THEN NULL ELSE
        |         CAST(round(CAST(total AS DOUBLE) / n_days * 1000
        |           / round(sqrt((CAST(sq AS DOUBLE)
        |             - CAST(total AS DOUBLE) * total / n_days)
        |             / n_days))) AS BIGINT) END AS sharpe_milli
        |FROM m ORDER BY ALL""".stripMargin,

    // ---- §2.94 user-lifecycle readouts (round 9) ----
    "q_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day
        |      FROM ud GROUP BY 1)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_new,
        |       CAST(count(*) - sum(CASE WHEN day = first_day THEN 1
        |            ELSE 0 END) AS BIGINT) AS n_returning,
        |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |            * 10000 // count(*) AS BIGINT) AS new_share_bp
        |FROM ud JOIN f USING (user_id)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_lifespan_bands" ->
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |    max(day) - min(day) + 1 AS span
        |  FROM e GROUP BY 1),
        |d AS (SELECT *, n_days * 10000 // span AS density_bp FROM u)
        |SELECT CAST(CASE WHEN density_bp < 7000 THEN 0
        |         WHEN density_bp < 8000 THEN 1
        |         WHEN density_bp < 9000 THEN 2 ELSE 3 END AS BIGINT)
        |         AS band,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(n_days) AS BIGINT) AS active_days,
        |       CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM d GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_reactivation" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |l AS (SELECT day,
        |    day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
        |      AS gap
        |  FROM ud),
        |g AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN gap > 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_reactivated
        |  FROM l GROUP BY 1)
        |SELECT day, n_active, n_reactivated,
        |       CAST(n_reactivated * 10000 // n_active AS BIGINT)
        |         AS react_bp
        |FROM g WHERE n_reactivated > 0 ORDER BY ALL""".stripMargin
  )

  // ---- §2.95 round-10 extensions ----
  private def round10Sql: Map[String, String] = Map(
    // reuses the q_dedup_clusters recursive-CTE CC labels, folded into
    // the per-source before/after token accounting
    "q_dedup_impact" ->
      """WITH RECURSIVE dt AS (SELECT DISTINCT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' '))
        |         AS token
        |       FROM documents WHERE lang = 'en') WHERE token <> ''),
        |sz AS (SELECT doc_id, count(*) AS nt FROM dt GROUP BY 1),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         count(*) AS common
        |       FROM dt a JOIN dt b
        |       ON a.token = b.token AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM pr
        |          JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id
        |          WHERE common * 9 >= (sa.nt + sb.nt) * 4),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |      UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node),
        |lab AS (SELECT node AS doc_id, node = min(r) AS keep
        |        FROM reach GROUP BY 1),
        |d AS (SELECT doc_id, source,
        |        len(string_split(lower(text), ' ')) AS n_toks
        |      FROM documents WHERE lang = 'en'),
        |j AS (SELECT d.source, d.n_toks,
        |        CASE WHEN lab.keep IS NOT NULL AND NOT lab.keep
        |             THEN 1 ELSE 0 END AS dropped
        |      FROM d LEFT JOIN lab ON d.doc_id = lab.doc_id)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(dropped) AS BIGINT) AS n_dropped,
        |       CAST(sum(n_toks) AS BIGINT) AS toks_total,
        |       CAST(sum(CASE WHEN dropped = 1 THEN n_toks ELSE 0 END)
        |            AS BIGINT) AS toks_dropped,
        |       CAST(sum(CASE WHEN dropped = 1 THEN n_toks ELSE 0 END)
        |            * 10000 // sum(n_toks) AS BIGINT) AS reduction_bp
        |FROM j GROUP BY 1 ORDER BY ALL""".stripMargin,

    // the q_dedup_minhash lane CTE under three band layouts; configs
    // with zero candidates keep their row via the LEFT JOIN
    "q_band_sweep" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |lanes AS (SELECT doc_id, j,
        |    min(substring(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))
        |      AS mh
        |  FROM tok CROSS JOIN range(16) t(j) GROUP BY 1, 2),
        |cfg AS (SELECT * FROM (VALUES (8, 2), (4, 4), (2, 8)) c(b, r)),
        |bands AS (SELECT doc_id, b, r, j // r AS band,
        |    string_agg(mh, ':' ORDER BY j) AS bkey
        |  FROM lanes CROSS JOIN cfg GROUP BY doc_id, b, r, j // r),
        |cand AS (SELECT DISTINCT x.b, x.r, x.doc_id AS a_id,
        |    y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |    ON x.b = y.b AND x.r = y.r AND x.band = y.band
        |   AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |ends AS (SELECT b, r, a_id AS d FROM cand
        |         UNION ALL SELECT b, r, b_id AS d FROM cand),
        |agg AS (SELECT b, r, count(*) // 2 AS np,
        |    count(DISTINCT d) AS nd
        |  FROM ends GROUP BY 1, 2)
        |SELECT CAST(c.b AS BIGINT) AS b, CAST(c.r AS BIGINT) AS r,
        |       CAST(coalesce(a.np, 0) AS BIGINT) AS n_cand_pairs,
        |       CAST(coalesce(a.nd, 0) AS BIGINT) AS n_docs_touched,
        |       CAST(round((1 - pow(1 - pow(0.8, c.r), c.b)) * 10000)
        |            AS BIGINT) AS theo_recall_bp
        |FROM cfg c LEFT JOIN agg a ON c.b = a.b AND c.r = a.r
        |ORDER BY ALL""".stripMargin,

    // §2.110: the (8,2) slice of the band-sweep lane CTE — the bucketed
    // band join emits exactly that audit row (layout changes nothing).
    "q_dedup_band_bucketed" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |lanes AS (SELECT doc_id, j,
        |    min(substring(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))
        |      AS mh
        |  FROM tok CROSS JOIN range(16) t(j) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, j // 2 AS band,
        |    string_agg(mh, ':' ORDER BY j) AS bkey
        |  FROM lanes GROUP BY doc_id, j // 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey
        |   AND x.doc_id < y.doc_id),
        |ends AS (SELECT a_id AS dd FROM cand
        |         UNION ALL SELECT b_id FROM cand)
        |SELECT CAST(count(*) // 2 AS BIGINT) AS n_cand_pairs,
        |       CAST(count(DISTINCT dd) AS BIGINT) AS n_docs_touched
        |FROM ends ORDER BY ALL""".stripMargin,

    // Incremental dedup twin (§2.114): same lane/band CTE as
    // q_dedup_band_bucketed, split batch (doc_id % 10 = 7) vs rest.
    // n_batch_docs counts from BANDS, not d: a doc with zero non-empty
    // tokens yields no signature/band rows on the engine side, so
    // counting d would diverge the moment a batch doc's text is empty.
    "q_dedup_incremental" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |lanes AS (SELECT doc_id, j,
        |    min(substring(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))
        |      AS mh
        |  FROM tok CROSS JOIN range(16) t(j) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, j // 2 AS band,
        |    string_agg(mh, ':' ORDER BY j) AS bkey
        |  FROM lanes GROUP BY doc_id, j // 2),
        |cand AS (SELECT DISTINCT y.doc_id AS new_id, x.doc_id AS old_id
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey
        |  WHERE y.doc_id % 10 = 7 AND x.doc_id % 10 <> 7)
        |SELECT CAST(count(*) AS BIGINT) AS n_cand_pairs,
        |       CAST(count(DISTINCT new_id) AS BIGINT) AS n_batch_hit,
        |       (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM bands
        |        WHERE doc_id % 10 = 7) AS n_batch_docs
        |FROM cand ORDER BY ALL""".stripMargin,

    // §2.115 (round 14): the AQE coalesce twin — the mechanism is
    // runtime partition merging, so the oracle is just the plain
    // roll-up (the result must be partitioning-invariant).
    "q_shuffle_coalesce" ->
      s"""SELECT l_suppkey, count(*) AS n,
         |       ${dsum("l_extendedprice")} AS total
         |FROM lineitem GROUP BY 1 ORDER BY ALL""".stripMargin,

    // §2.116 (round 14): runtime Bloom-filter join pruning — a Bloom
    // filter only ever drops rows the join drops, so the oracle is the
    // plain filtered join.
    "q_join_runtime_filter" ->
      s"""SELECT p_brand, count(*) AS n,
         |       ${dsum("l_extendedprice")} AS total
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand IN ('Brand#13', 'Brand#21')
         |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // §2.117 (round 14): runtime broadcast promotion — the join
    // strategy is a physical choice, so the oracle is the plain
    // filtered join (strategy-invariant by construction).
    "q_join_runtime_bcast" ->
      s"""SELECT c_nationkey, count(*) AS n,
         |       ${dsum("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY 1 ORDER BY ALL""".stripMargin,

    "q_query_likelihood" ->
      """WITH occ AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |                       x -> x <> '')) AS token
        |  FROM documents WHERE lang = 'en'),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
        |         FROM occ GROUP BY 1),
        |terms AS (SELECT * FROM (VALUES ('merge'), ('vector'),
        |                                ('stream')) t(term)),
        |cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf
        |       FROM occ JOIN terms ON token = term GROUP BY 1),
        |ctot AS (SELECT CAST(count(*) AS BIGINT) AS c_tot FROM occ),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM occ JOIN terms ON token = term GROUP BY 1, 2),
        |grid AS (SELECT l.doc_id, c.term, c.cf, ct.c_tot, l.len,
        |    coalesce(tf.tf, 0) AS tf
        |  FROM lens l CROSS JOIN cf c CROSS JOIN ctot ct
        |  LEFT JOIN tf ON tf.doc_id = l.doc_id AND tf.term = c.term),
        |sc AS (SELECT doc_id, tf,
        |    CAST(round(ln(CAST(CAST(tf AS HUGEINT) * c_tot +
        |        2000 * CAST(cf AS HUGEINT) AS DOUBLE) /
        |      CAST(CAST(len + 2000 AS HUGEINT) * c_tot AS DOUBLE))
        |      * 1000000) AS BIGINT) AS lp_u
        |  FROM grid)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_matched,
        |       CAST(sum(lp_u) AS BIGINT) AS score_u
        |FROM sc GROUP BY 1
        |HAVING sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) >= 2
        |ORDER BY ALL""".stripMargin,

    "q_neyman_allocation" ->
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS s_h,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) *
        |        CAST(round(value * 100) AS BIGINT)) AS ss_h
        |  FROM events GROUP BY 1 HAVING count(*) >= 2),
        |q AS (SELECT event_type, n_h,
        |    CAST(round(sqrt(CAST(n_h * ss_h -
        |        CAST(s_h AS HUGEINT) * s_h AS DOUBLE) /
        |      (CAST(n_h AS DOUBLE) * (n_h - 1))) * 1000) AS BIGINT)
        |      AS sd_milli
        |  FROM m),
        |w AS (SELECT event_type, n_h, sd_milli,
        |        CAST(n_h AS HUGEINT) * sd_milli AS w
        |      FROM q WHERE sd_milli > 0),
        |tot AS (SELECT sum(w) AS w_tot FROM w)
        |SELECT event_type, n_h, sd_milli,
        |       CAST(w * 10000 // w_tot AS BIGINT) AS share_bp,
        |       CAST(w * 50000 // w_tot AS BIGINT) AS alloc_n
        |FROM w CROSS JOIN tot ORDER BY ALL""".stripMargin,

    "q_anderson_darling" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1, 2),
        |tagged AS (SELECT day, x,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag
        |  FROM daily),
        |ranked AS (SELECT tag,
        |    row_number() OVER (ORDER BY x, day, tag) AS j,
        |    sum(tag) OVER (ORDER BY x, day, tag
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mj
        |  FROM tagged),
        |tot AS (SELECT CAST(sum(tag) AS BIGINT) AS m,
        |          CAST(count(*) AS BIGINT) AS nn
        |        FROM tagged),
        |terms AS (SELECT
        |    (CAST(mj * nn - j * m AS HUGEINT) * (mj * nn - j * m)
        |      * 1000000) // (j * (nn - j)) AS term_u,
        |    m, nn
        |  FROM ranked CROSS JOIN tot WHERE j < nn)
        |SELECT m AS n_purchase, nn - m AS n_view,
        |       CAST(sum(term_u) // (m * (nn - m)) AS BIGINT)
        |         AS a2_micro
        |FROM terms GROUP BY m, nn ORDER BY ALL""".stripMargin,

    "q_gumbel_fit" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT event_type, day // 30 AS blk, max(x) AS m
        |       FROM daily GROUP BY 1, 2),
        |mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
        |         CAST(sum(m) AS BIGINT) AS s,
        |         sum(CAST(m AS HUGEINT) * m) AS ss
        |       FROM mx GROUP BY 1)
        |SELECT event_type, n_blocks,
        |  CASE WHEN n_blocks < 2
        |         OR n_blocks * ss = CAST(s AS HUGEINT) * s THEN NULL
        |    ELSE CAST(round(sqrt(CAST(n_blocks * ss -
        |        CAST(s AS HUGEINT) * s AS DOUBLE) /
        |      (CAST(n_blocks AS DOUBLE) * (n_blocks - 1)))
        |      * sqrt(6) / pi() * 1000) AS BIGINT) END AS beta_milli,
        |  CASE WHEN n_blocks < 2
        |         OR n_blocks * ss = CAST(s AS HUGEINT) * s THEN NULL
        |    ELSE CAST(round((CAST(s AS DOUBLE) / n_blocks -
        |      0.5772156649015329 * (sqrt(CAST(n_blocks * ss -
        |          CAST(s AS HUGEINT) * s AS DOUBLE) /
        |        (CAST(n_blocks AS DOUBLE) * (n_blocks - 1)))
        |        * sqrt(6) / pi())) * 1000) AS BIGINT) END AS mu_milli
        |FROM mo ORDER BY ALL""".stripMargin,

    "q_bartlett" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS s_i,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) *
        |        CAST(round(value * 100) AS BIGINT)) AS ss_i
        |  FROM events GROUP BY 1
        |  HAVING count(*) >= 2
        |     AND count(*) * sum(CAST(CAST(round(value * 100) AS BIGINT)
        |           AS HUGEINT) * CAST(round(value * 100) AS BIGINT)) >
        |         CAST(sum(CAST(round(value * 100) AS BIGINT))
        |           AS HUGEINT) *
        |         sum(CAST(round(value * 100) AS BIGINT))),
        |p AS (SELECT n_i,
        |    CAST(round(ln(CAST(n_i * ss_i -
        |        CAST(s_i AS HUGEINT) * s_i AS DOUBLE) /
        |      (CAST(n_i AS DOUBLE) * (n_i - 1))) * 1000000000)
        |      AS BIGINT) AS ln_i_u,
        |    (n_i * ss_i - CAST(s_i AS HUGEINT) * s_i) * 1000000 // n_i
        |      AS w_u,
        |    1000000000000000 // (n_i - 1) AS inv_u
        |  FROM g),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(n_i) AS BIGINT) AS n,
        |        sum(CAST(n_i - 1 AS HUGEINT) * ln_i_u) AS lnsum_u,
        |        sum(w_u) AS pool_u,
        |        CAST(sum(inv_u) AS BIGINT) AS invsum_u
        |      FROM p)
        |SELECT k, n,
        |  CASE WHEN k <= 1 OR n <= k OR pool_u = 0 THEN NULL ELSE
        |    CAST(round((CAST(n - k AS DOUBLE) *
        |      ln(CAST(pool_u AS DOUBLE) / 1e6 / (n - k)) -
        |      CAST(lnsum_u AS DOUBLE) / 1e9) /
        |      (1 + (CAST(invsum_u AS DOUBLE) / 1e15 -
        |        1.0 / (n - k)) / (3.0 * (k - 1))) * 1000) AS BIGINT)
        |    END AS chi2_milli
        |FROM a ORDER BY ALL""".stripMargin,

    "q_join_asof_forward" ->
      """SELECT event_id, user_id, event_type,
        |       min(CASE WHEN event_type = 'purchase'
        |                THEN epoch_us(ts) END)
        |         OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |         AS next_purchase_us
        |FROM events ORDER BY ALL""".stripMargin,

    "q_top_bottom" ->
      """WITH rev AS (SELECT l_suppkey AS suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT n.n_name AS nation, r.suppkey, r.cents
        |      FROM rev r JOIN supplier s ON r.suppkey = s.s_suppkey
        |      JOIN nation n ON s.s_nationkey = n.n_nationkey),
        |rk AS (SELECT nation, suppkey, cents,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY cents DESC, suppkey) AS rt,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY cents ASC, suppkey) AS rb
        |  FROM j)
        |SELECT * FROM (
        |  SELECT nation, 'top' AS side, CAST(rt AS BIGINT) AS rk,
        |         suppkey, cents FROM rk WHERE rt <= 3
        |  UNION ALL
        |  SELECT nation, 'bottom', CAST(rb AS BIGINT), suppkey, cents
        |  FROM rk WHERE rb <= 3)
        |ORDER BY ALL""".stripMargin,

    "q_dormancy" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |pu AS (SELECT user_id, count(*) AS n_events,
        |         count(DISTINCT day) AS n_days, max(day) AS last_day
        |       FROM e GROUP BY 1),
        |ref AS (SELECT max(last_day) AS ref_day FROM pu),
        |g AS (SELECT pu.*, ref.ref_day - pu.last_day AS gap FROM pu, ref)
        |SELECT CAST(CASE WHEN gap < 1 THEN 0 WHEN gap < 2 THEN 1
        |                 WHEN gap < 7 THEN 2 ELSE 3 END AS BIGINT)
        |         AS band,
        |       count(*) AS n_users,
        |       CAST(sum(n_days) // count(*) AS BIGINT)
        |         AS avg_active_days,
        |       CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM g GROUP BY 1 ORDER BY ALL""".stripMargin,

    // the q_vector_pq assignment CTE folded to per-block code occupancy
    "q_pq_balance" ->
      """WITH cb AS (SELECT vec_id AS cid, embedding AS ce
        |            FROM embeddings WHERE vec_id < 16),
        |blocks AS (SELECT unnest(generate_series(0, 7)) AS b),
        |dist AS (SELECT e.vec_id, b.b, cb.cid,
        |           list_sum(list_transform(generate_series(1, 8), i ->
        |             (CAST(e.embedding[b.b * 8 + i] AS DOUBLE) -
        |              CAST(cb.ce[b.b * 8 + i] AS DOUBLE)) *
        |             (CAST(e.embedding[b.b * 8 + i] AS DOUBLE) -
        |              CAST(cb.ce[b.b * 8 + i] AS DOUBLE)))) AS d2
        |         FROM embeddings e CROSS JOIN blocks b CROSS JOIN cb),
        |rk AS (SELECT vec_id, b, cid, row_number() OVER (
        |         PARTITION BY vec_id, b ORDER BY d2, cid) AS rn FROM dist),
        |occ AS (SELECT b AS block, cid AS code, count(*) AS c
        |        FROM rk WHERE rn = 1 GROUP BY 1, 2)
        |SELECT CAST(block AS BIGINT) AS block, count(*) AS codes_used,
        |       CAST(max(c) AS BIGINT) AS max_occ,
        |       CAST(min(c) AS BIGINT) AS min_occ,
        |       CAST(sum(c) AS BIGINT) AS n_vecs,
        |       CAST(max(c) * 16 * 10000 // sum(c) AS BIGINT)
        |         AS imbalance_bp
        |FROM occ GROUP BY 1 ORDER BY ALL""".stripMargin,

    // gaps-and-islands on token positions; the 1-based subscripts only
    // shift the island key by a constant
    "q_token_run" ->
      """WITH p AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
        |             unnest(toks) AS token
        |           FROM (SELECT doc_id, string_split(lower(text), ' ')
        |                   AS toks FROM documents)),
        |r AS (SELECT doc_id, token,
        |        pos - row_number() OVER (PARTITION BY doc_id, token
        |                                 ORDER BY pos) AS grp
        |      FROM p),
        |runs AS (SELECT doc_id, count(*) AS run FROM r
        |         GROUP BY doc_id, token, grp),
        |pd AS (SELECT doc_id, max(run) AS max_run FROM runs GROUP BY 1),
        |tot AS (SELECT count(*) AS n_all FROM pd)
        |SELECT CAST(max_run AS BIGINT) AS run_len, count(*) AS n_docs,
        |       CAST(count(*) * 10000 // n_all AS BIGINT) AS share_bp
        |FROM pd, tot GROUP BY max_run, n_all ORDER BY ALL""".stripMargin,

    "q_sample_systematic" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    ('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || ':sys'),
        |      1, 15))::BIGINT AS h
        |  FROM customer),
        |r AS (SELECT *, row_number() OVER (ORDER BY h, c_custkey) AS rn
        |      FROM c)
        |SELECT c_mktsegment AS mktsegment, count(*) AS n_pop,
        |       CAST(sum(CASE WHEN (rn - 1) % 20 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_samp,
        |       CAST(sum(cents) AS BIGINT) AS cents_pop,
        |       CAST(sum(CASE WHEN (rn - 1) % 20 = 0 THEN cents
        |                     ELSE 0 END) AS BIGINT) AS cents_samp
        |FROM r GROUP BY 1 ORDER BY ALL""".stripMargin,

    "q_rate_limit" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |           FROM events),
        |c AS (SELECT user_id, count(*) OVER (PARTITION BY user_id
        |        ORDER BY us
        |        RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
        |        AS cnt
        |      FROM e)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(max(cnt) AS BIGINT) AS max_burst,
        |       CAST(sum(CASE WHEN cnt > 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_violations
        |FROM c GROUP BY 1 HAVING max(cnt) > 2 ORDER BY ALL""".stripMargin,

    "q_knn_classify" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe,
         |             label AS true_label
         |           FROM embeddings WHERE vec_id < 30),
         |c AS (SELECT vec_id AS nid, embedding AS e, label
         |      FROM embeddings WHERE vec_id >= 30),
         |s AS (SELECT pid, true_label, nid, label, $dot64 AS dot,
         |        $pn64 AS na2, $en64 AS nb2
         |      FROM p, c),
         |r AS (SELECT pid, true_label, label,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s),
         |v AS (SELECT pid, true_label, label, count(*) AS v FROM r
         |      WHERE rn <= 5 GROUP BY 1, 2, 3),
         |w AS (SELECT pid, true_label, label,
         |        row_number() OVER (PARTITION BY pid
         |          ORDER BY v DESC, label) AS vr
         |      FROM v)
         |SELECT CAST(true_label AS BIGINT) AS true_label,
         |       count(*) AS n_probes,
         |       CAST(sum(CASE WHEN label = true_label THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_correct,
         |       CAST(sum(CASE WHEN label = true_label THEN 1 ELSE 0 END)
         |            * 10000 // count(*) AS BIGINT) AS acc_bp
         |FROM w WHERE vr = 1 GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.96 round-10 second batch ----
    // SimHash catch-rate vs exact Jaccard (DedupAudit.qSimhashAccuracy):
    // the signature CTE is the q_dedup_simhash recipe (lo/hi halves);
    // candidates are the shared loose candPairs CTE.
    "q_simhash_accuracy" ->
      s"""WITH $candPairsCte,
         |votes AS (SELECT doc_id, k,
         |    sum(CASE WHEN (((strpos('0123456789abcdef',
         |          substring(md5(token), k // 4 + 1, 1)) - 1)
         |          >> (k % 4)) & 1) = 1
         |        THEN 1 ELSE -1 END) AS v
         |  FROM dt CROSS JOIN range(64) t(k) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 AND k < 32
         |          THEN CAST(1 AS BIGINT) << CAST(k AS INT)
         |          ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN v > 0 AND k >= 32
         |          THEN CAST(1 AS BIGINT) << CAST(k - 32 AS INT)
         |          ELSE 0 END) AS BIGINT) AS hi
         |  FROM votes GROUP BY 1),
         |q AS (SELECT j_bp // 1000 AS band,
         |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
         |      AS ham
         |  FROM cand JOIN sig a ON a_id = a.doc_id
         |            JOIN sig b ON b_id = b.doc_id)
         |SELECT CAST(band AS BIGINT) AS band,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN ham <= 8 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_caught,
         |       CAST(sum(CASE WHEN ham <= 8 THEN 1 ELSE 0 END) * 10000
         |            // count(*) AS BIGINT) AS catch_bp,
         |       CAST(sum(ham) // count(*) AS BIGINT) AS mean_hamming,
         |       CAST(max(ham) AS BIGINT) AS max_hamming
         |FROM q GROUP BY 1 ORDER BY ALL""".stripMargin,

    // MA crossover (Volatility.qMaCross): 4·sum7 vs sum28 over calendar
    // RANGE frames clears the 7/28 denominators exactly.
    "q_ma_cross" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day,
        |    sum(cents) OVER (PARTITION BY event_type ORDER BY day
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) * 4
        |    - sum(cents) OVER (PARTITION BY event_type ORDER BY day
        |      RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS diff
        |  FROM d),
        |l AS (SELECT event_type, day, diff,
        |    lag(diff) OVER (PARTITION BY event_type ORDER BY day)
        |      AS prev_diff
        |  FROM w)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |       CASE WHEN diff > 0 THEN 'golden' ELSE 'death' END
        |         AS direction,
        |       CAST(diff AS BIGINT) AS diff,
        |       CAST(prev_diff AS BIGINT) AS prev_diff
        |FROM l
        |WHERE prev_diff IS NOT NULL
        |  AND ((diff > 0 AND prev_diff < 0)
        |    OR (diff < 0 AND prev_diff > 0))
        |ORDER BY ALL""".stripMargin,

    // Daily open-order backlog (Supply.qBacklog): day-grain ±1 deltas,
    // then one prefix sum over the day spine.
    "q_backlog" ->
      """WITH mx AS (SELECT l_orderkey,
        |    max(epoch_us(l_shipdate) // 86400000000) AS d1
        |  FROM lineitem GROUP BY 1),
        |sp AS (SELECT epoch_us(o_orderdate) // 86400000000 AS d0, d1
        |       FROM orders JOIN mx ON o_orderkey = l_orderkey),
        |dl AS (SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM (
        |    SELECT d0 AS day, 1 AS delta FROM sp
        |    UNION ALL
        |    SELECT greatest(d1, d0) + 1 AS day, -1 AS delta FROM sp)
        |  GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day, delta,
        |       CAST(sum(delta) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS open_orders
        |FROM dl ORDER BY ALL""".stripMargin,

    // Period-end balance (Warehouse.qPeriodEndBalance): per-(customer,
    // month) argmax on (o_orderdate, o_orderkey), month-dim fold.
    "q_period_end_balance" ->
      """WITH r AS (SELECT o_custkey,
        |    (year(o_orderdate) - 1990) * 12 + month(o_orderdate) - 1
        |      AS month_idx,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_custkey,
        |      (year(o_orderdate) - 1990) * 12 + month(o_orderdate) - 1
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT CAST(month_idx AS BIGINT) AS month_idx,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(cents) AS BIGINT) AS balance_cents
        |FROM r WHERE rn = 1 GROUP BY 1 ORDER BY ALL""".stripMargin,

    // Weighted quantiles (Warehouse.qWeightedQuantile): lower-bound
    // discrete definition, 100·cumw >= p·W all-integer.
    "q_weighted_quantile" ->
      """WITH g AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS gw
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, gw,
        |    sum(gw) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g),
        |tw AS (SELECT l_returnflag AS f2,
        |    CAST(sum(gw) AS BIGINT) AS tot_w FROM g GROUP BY 1),
        |ps AS (SELECT unnest([25, 50, 75, 90]) AS p)
        |SELECT l_returnflag, CAST(p AS BIGINT) AS p, tot_w,
        |       CAST(min(cents) AS BIGINT) AS wq_cents
        |FROM c JOIN tw ON l_returnflag = f2 CROSS JOIN ps
        |WHERE cum * 100 >= tot_w * p
        |GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,

    // Truncated RBO@10 (Evaluation.qRbo): the per-item weight CASE
    // embeds the SAME Scala-computed e9 literals as the engine
    // (Evaluation.rboWeightsE9 — the Forensic.benford2Bp pattern).
    "q_rbo" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe
         |           FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
         |s AS (SELECT pid, nid, $dot64 AS dot, $pn64 AS na2, $en64 AS nb2,
         |    list_sum(list_transform(generate_series(1, 32), i ->
         |      CAST(pe[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))) AS dot32,
         |    list_sum(list_transform(generate_series(1, 32), i ->
         |      CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS na32,
         |    list_sum(list_transform(generate_series(1, 32), i ->
         |      CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))) AS nb32
         |      FROM p JOIN c ON nid <> pid),
         |r AS (SELECT pid, nid,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rc,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY dot32 / sqrt(na32 * nb32) DESC, nid) AS rd
         |  FROM s)
         |SELECT pid,
         |    CAST(sum(CASE WHEN rc <= 10 AND rd <= 10 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_both,
         |    CAST(sum(CASE WHEN rc <= 10 AND rd <= 10 THEN
         |      ${rboWeightCase("greatest(rc, rd)")} ELSE 0 END)
         |         AS BIGINT) AS rbo_e9
         |FROM r WHERE rc <= 10 OR rd <= 10
         |GROUP BY 1 ORDER BY ALL""".stripMargin,

    // Tokenizer fertility (TokenStats.qFertility): word-piece-style
    // segmentation via the same RE2-compatible regex.
    "q_fertility" ->
      """WITH d AS (SELECT lang, source,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_pieces
        |  FROM documents)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_words) AS BIGINT) AS words,
        |       CAST(sum(n_pieces) AS BIGINT) AS pieces,
        |       CAST(CASE WHEN sum(n_words) = 0 THEN NULL
        |         ELSE sum(n_pieces) * 10000 // sum(n_words) END
        |         AS BIGINT) AS fertility_bp
        |FROM d GROUP BY 1, 2 ORDER BY ALL""".stripMargin,

    // Column profile (Integrity.qColProfile): one aggregate CTE, six
    // per-column rows unioned off it (the stack() mirror).
    "q_col_profile" ->
      """WITH o AS (SELECT *,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderdate AS DATE) AS odate FROM orders),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k_nulls,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS k_dist,
        |    CAST(min(o_orderkey) AS VARCHAR) AS k_min,
        |    CAST(max(o_orderkey) AS VARCHAR) AS k_max,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_nulls,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS c_dist,
        |    CAST(min(o_custkey) AS VARCHAR) AS c_min,
        |    CAST(max(o_custkey) AS VARCHAR) AS c_max,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s_nulls,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS s_dist,
        |    min(o_orderstatus) AS s_min, max(o_orderstatus) AS s_max,
        |    CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t_nulls,
        |    CAST(count(DISTINCT cents) AS BIGINT) AS t_dist,
        |    CAST(min(cents) AS VARCHAR) AS t_min,
        |    CAST(max(cents) AS VARCHAR) AS t_max,
        |    CAST(sum(CASE WHEN odate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_nulls,
        |    CAST(count(DISTINCT odate) AS BIGINT) AS d_dist,
        |    CAST(min(odate) AS VARCHAR) AS d_min,
        |    CAST(max(odate) AS VARCHAR) AS d_max,
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS p_nulls,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS p_dist,
        |    min(o_orderpriority) AS p_min, max(o_orderpriority) AS p_max
        |  FROM o)
        |SELECT 'o_orderkey' AS col_name, n_rows, k_nulls AS n_nulls,
        |       k_dist AS n_distinct, k_min AS min_v, k_max AS max_v
        |FROM a
        |UNION ALL SELECT 'o_custkey', n_rows, c_nulls, c_dist, c_min,
        |       c_max FROM a
        |UNION ALL SELECT 'o_orderstatus', n_rows, s_nulls, s_dist,
        |       s_min, s_max FROM a
        |UNION ALL SELECT 'o_totalprice_cents', n_rows, t_nulls, t_dist,
        |       t_min, t_max FROM a
        |UNION ALL SELECT 'o_orderdate', n_rows, d_nulls, d_dist, d_min,
        |       d_max FROM a
        |UNION ALL SELECT 'o_orderpriority', n_rows, p_nulls, p_dist,
        |       p_min, p_max FROM a
        |ORDER BY ALL""".stripMargin,

    // Exact z-score outliers (Spread.qZscoreOutliers): z² as a HUGEINT
    // rational — (n·x − s)² / (n·q − s²), no square root taken; the
    // 1.5σ bar (4·num² ≥ 9·den) suits bounded distributions.
    "q_zscore_outliers" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |m AS (SELECT c_mktsegment AS seg,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(cents) AS HUGEINT) AS ss,
        |    sum(CAST(cents AS HUGEINT) * cents) AS qq
        |  FROM c GROUP BY 1),
        |z AS (SELECT c_mktsegment, c_custkey, cents,
        |    n * cents - ss AS num, n * qq - ss * ss AS den
        |  FROM c JOIN m ON c_mktsegment = seg)
        |SELECT c_mktsegment, c_custkey, cents,
        |       CAST(num * num * 1000000 // den AS BIGINT) AS z2_e6
        |FROM z WHERE den > 0 AND 4 * num * num >= 9 * den
        |ORDER BY ALL""".stripMargin,

    // ---- §2.97 round-10 third batch ----
    // Daily value percentiles (Slo.qDailyPercentiles): the
    // percentile_disc recipe sharded by day.
    "q_daily_percentiles" ->
      """WITH h AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT day AS d2, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT day, v, n,
        |    sum(cnt) OVER (PARTITION BY day ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h JOIN tot ON day = d2),
        |p50 AS (SELECT day, n, min(v) AS p50_cents FROM c
        |        WHERE cum * 100 >= n * 50 GROUP BY 1, 2),
        |p95 AS (SELECT day AS d3, min(v) AS p95_cents FROM c
        |        WHERE cum * 100 >= n * 95 GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day, n, p50_cents, p95_cents
        |FROM p50 JOIN p95 ON day = d3 ORDER BY ALL""".stripMargin,

    // Monthly rank movers (Insights.qRankMovers).
    "q_rank_movers" ->
      """WITH rev AS (SELECT
        |    CAST((year(o_orderdate) - 1990) * 12 + month(o_orderdate)
        |      - 1 AS BIGINT) AS month_idx,
        |    n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |r AS (SELECT month_idx, n_name,
        |    CAST(row_number() OVER (PARTITION BY month_idx
        |      ORDER BY cents DESC, n_name) AS BIGINT) AS rk
        |  FROM rev),
        |l AS (SELECT month_idx, n_name, rk,
        |    lag(rk) OVER (PARTITION BY n_name ORDER BY month_idx)
        |      AS prev_rk
        |  FROM r)
        |SELECT month_idx, n_name, rk, prev_rk,
        |       CAST(prev_rk - rk AS BIGINT) AS delta
        |FROM l WHERE prev_rk IS NOT NULL AND abs(rk - prev_rk) >= 3
        |ORDER BY ALL""".stripMargin,

    // Nearest as-of (Windows.qJoinAsofNearest): strictly-back and
    // strictly-forward conditional extrema on one user ordering.
    "q_join_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_id, user_id, us,
        |    max(CASE WHEN event_type = 'purchase' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_us,
        |    min(CASE WHEN event_type = 'purchase' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_us
        |  FROM e)
        |SELECT event_id, user_id,
        |       CAST(least(us - prev_us, next_us - us) AS BIGINT)
        |         AS nearest_us,
        |       CASE WHEN prev_us IS NULL AND next_us IS NULL THEN NULL
        |         WHEN next_us IS NULL THEN 'prev'
        |         WHEN prev_us IS NULL THEN 'next'
        |         WHEN us - prev_us <= next_us - us THEN 'prev'
        |         ELSE 'next' END AS side
        |FROM w ORDER BY ALL""".stripMargin,

    // Cumulative user growth (Lifecycle.qCumulativeUsers).
    "q_cumulative_users" ->
      """WITH f AS (SELECT user_id,
        |    min(epoch_us(ts) // 86400000000) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |      FROM f GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day, new_users,
        |       CAST(sum(new_users) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_users
        |FROM d ORDER BY ALL""".stripMargin,

    // Per-SKU price changes (Retail.qPriceChanges): exact integer unit
    // cents (line cents // integer quantity), one lag per part.
    "q_price_changes" ->
      """WITH li AS (SELECT l_partkey, l_orderkey, l_linenumber,
        |    epoch_us(l_shipdate) AS us,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      // CAST(l_quantity AS BIGINT) AS unit_c
        |  FROM lineitem),
        |l AS (SELECT l_partkey, unit_c,
        |    lag(unit_c) OVER (PARTITION BY l_partkey
        |      ORDER BY us, l_orderkey, l_linenumber) AS prev_c
        |  FROM li)
        |SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_obs,
        |       CAST(sum(CASE WHEN prev_c IS NOT NULL
        |         AND prev_c <> unit_c THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_changes,
        |       CAST(min(unit_c) AS BIGINT) AS min_unit_c,
        |       CAST(max(unit_c) AS BIGINT) AS max_unit_c
        |FROM l GROUP BY 1 ORDER BY ALL""".stripMargin,

    // Label balance (EmbedAudit.qLabelBalance).
    "q_label_balance" ->
      """WITH l AS (SELECT CAST(label AS BIGINT) AS label,
        |    CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |             CAST(min(n_vecs) AS BIGINT) AS n_min FROM l)
        |SELECT label, n_vecs,
        |       CAST(n_vecs * 10000 // n_total AS BIGINT) AS share_bp,
        |       CAST(n_vecs * 1000 // n_min AS BIGINT) AS vs_min_milli
        |FROM l CROSS JOIN t ORDER BY ALL""".stripMargin,

    // kNN margin (Evaluation.qKnnMargin): top-2 cosine gap per probe.
    "q_knn_margin" ->
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe
         |           FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
         |s AS (SELECT pid, nid, $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON nid <> pid),
         |r AS (SELECT pid, nid, dot / sqrt(na2 * nb2) AS cos,
         |    row_number() OVER (PARTITION BY pid
         |      ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |  FROM s)
         |SELECT pid,
         |       CAST(min(CASE WHEN rn = 1 THEN nid END) AS BIGINT)
         |         AS n1,
         |       CAST(min(CASE WHEN rn = 2 THEN nid END) AS BIGINT)
         |         AS n2,
         |       CAST(round((max(CASE WHEN rn = 1 THEN cos END)
         |         - max(CASE WHEN rn = 2 THEN cos END)) * 10000)
         |         AS BIGINT) AS margin_e4
         |FROM r WHERE rn <= 2 GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.98 round-10 fourth batch ----
    // Point-in-time lookup (Warehouse.qPitLookup): the q_scd2 dimension
    // CTE + an as-of-(day − 30) interval stab, rolled to the
    // (prio_then, prio_now) transition matrix.
    "q_pit_lookup" ->
      """WITH v AS (SELECT o_custkey, o_orderkey,
        |    o_orderpriority AS prio,
        |    epoch_us(o_orderdate) // 86400000000 AS day,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY epoch_us(o_orderdate) // 86400000000, o_orderkey)
        |      AS prev
        |  FROM orders),
        |dim AS (SELECT o_custkey AS d_ck, prio AS prio_then, day
        |      AS valid_from,
        |    lead(day) OVER (PARTITION BY o_custkey ORDER BY day,
        |      o_orderkey) AS valid_to
        |  FROM v WHERE prev IS NULL OR prev <> prio),
        |f AS (SELECT o_custkey, o_orderpriority AS prio_now,
        |    epoch_us(o_orderdate) // 86400000000 - 30 AS asof_day
        |  FROM orders)
        |SELECT coalesce(prio_then, 'none') AS prio_then, prio_now,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM f LEFT JOIN dim ON o_custkey = d_ck
        |  AND valid_from <= asof_day
        |  AND (valid_to IS NULL OR valid_to > asof_day)
        |GROUP BY 1, 2 ORDER BY ALL""".stripMargin,

    // Multiprobe LSH ANN (Sketches.qAnnMultiprobe): the q_ann_lsh
    // bucket CTE; the probe side unnests its 9 Hamming<=1 buckets.
    "q_ann_multiprobe" ->
      s"""WITH sgn AS (SELECT j,
         |    list(CASE WHEN (strpos('0123456789abcdef',
         |        substring(md5(CAST(j * 64 + i AS VARCHAR)), 1, 1)) - 1)
         |        % 2 = 0
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
         |      ORDER BY i) AS sv
         |  FROM range(8) a(j) CROSS JOIN range(64) b(i) GROUP BY j),
         |bkt AS (SELECT vec_id, embedding,
         |    CAST(sum(CASE WHEN list_sum(list_transform(
         |        generate_series(1, 64),
         |        i -> CAST(embedding[i] AS DOUBLE) * sv[i])) > 0
         |      THEN 1 << j ELSE 0 END) AS INT) AS bucket
         |  FROM embeddings CROSS JOIN sgn GROUP BY 1, 2),
         |p AS (SELECT vec_id AS pid, embedding AS pe,
         |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |      xor(bucket, 4), xor(bucket, 8), xor(bucket, 16),
         |      xor(bucket, 32), xor(bucket, 64), xor(bucket, 128)])
         |      AS pb
         |  FROM bkt WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, embedding AS e, bucket AS cb
         |      FROM bkt),
         |s AS (SELECT pid, nid, $dot64 AS dot, $pn64 AS na2, $en64 AS nb2
         |      FROM p JOIN c ON cb = pb AND nid <> pid),
         |r AS (SELECT pid, nid, dot / sqrt(na2 * nb2) AS cos,
         |             row_number() OVER (PARTITION BY pid
         |               ORDER BY dot / sqrt(na2 * nb2) DESC, nid) AS rn
         |      FROM s)
         |SELECT pid, nid, rn, round(cos, 4) AS sim FROM r WHERE rn <= 5
         |ORDER BY ALL""".stripMargin,

    // Linear multi-touch attribution (Journeys.qLinearAttribution):
    // 4 conditional running counts on one user ordering.
    "q_linear_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |c AS (SELECT event_type,
        |    count(CASE WHEN event_type = 'click' THEN 1 END)
        |      OVER w AS c_click,
        |    count(CASE WHEN event_type = 'error' THEN 1 END)
        |      OVER w AS c_error,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END)
        |      OVER w AS c_signup,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)
        |      OVER w AS c_view
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |pur AS (SELECT c_click, c_error, c_signup, c_view,
        |    c_click + c_error + c_signup + c_view AS n
        |  FROM c WHERE event_type = 'purchase'
        |    AND c_click + c_error + c_signup + c_view > 0),
        |u AS (SELECT 'click' AS touch_type, c_click AS cnt, n FROM pur
        |  UNION ALL SELECT 'error', c_error, n FROM pur
        |  UNION ALL SELECT 'signup', c_signup, n FROM pur
        |  UNION ALL SELECT 'view', c_view, n FROM pur)
        |SELECT touch_type,
        |       CAST(count(CASE WHEN cnt > 0 THEN 1 END) AS BIGINT)
        |         AS n_purchases,
        |       CAST(sum(cnt * 1000000 // n) AS BIGINT) AS credit_e6
        |FROM u GROUP BY 1 ORDER BY ALL""".stripMargin,

    // New-product revenue ramp (Commerce.qItemRamp).
    "q_item_ramp" ->
      """WITH pm AS (SELECT l_partkey,
        |    CAST((year(l_shipdate) - 1990) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |f AS (SELECT l_partkey AS pk, min(m) AS m0 FROM pm GROUP BY 1),
        |r AS (SELECT m0, m - m0 AS off,
        |    CAST(sum(cents) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS n_selling_parts
        |  FROM pm JOIN f ON l_partkey = pk WHERE m - m0 <= 2
        |  GROUP BY 1, 2),
        |coh AS (SELECT m0 AS m0c, CAST(count(*) AS BIGINT) AS n_parts
        |        FROM f GROUP BY 1)
        |SELECT m0, CAST(off AS BIGINT) AS off, n_parts,
        |       n_selling_parts, cents
        |FROM r JOIN coh ON m0 = m0c ORDER BY ALL""".stripMargin,

    // Simpson's-paradox detector (Causal.qTrendReversal): exact
    // HUGEINT covariance numerators, signs only.
    "q_trend_reversal" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x, y
        |  FROM customer JOIN (
        |    SELECT o_custkey,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |        AS BIGINT) AS y
        |    FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
        |seg AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT)
        |      AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM cust GROUP BY 1),
        |pool AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT)
        |      AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM cust)
        |SELECT c_mktsegment, seg.n,
        |       CAST(sign(CAST(seg.n AS HUGEINT) * seg.sxy
        |         - seg.sx * seg.sy) AS BIGINT) AS sign,
        |       CAST(sign(pool.n * pool.sxy - pool.sx * pool.sy)
        |         AS BIGINT) AS pooled_sign,
        |       CAST(sign(CAST(seg.n AS HUGEINT) * seg.sxy
        |           - seg.sx * seg.sy) AS BIGINT)
        |         <> CAST(sign(pool.n * pool.sxy - pool.sx * pool.sy)
        |           AS BIGINT) AS reversal
        |FROM seg CROSS JOIN pool ORDER BY ALL""".stripMargin,

    // Hash-collision sweep (Learning.qHashCollisions): the shared
    // md5-prefix BIGINT hash, mod three literal table sizes.
    "q_hash_collisions" -> {
      // the 15-hex-char (60-bit) md5 prefix as a BIGINT via the nibble
      // positional sum — the h24 idiom of q_feature_hash, widened
      val h60 = (1 to 15).map(i =>
        s"(${nibSql("hx", i)}) * ${1L << (4 * (15 - i))}")
        .mkString(" + ")
      s"""WITH v AS (SELECT DISTINCT token FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS token
        |    FROM documents WHERE lang = 'en') WHERE token <> ''),
        |hh AS (SELECT token, md5(token) AS hx FROM v),
        |h AS (SELECT token, CAST($h60 AS BIGINT) AS hv FROM hh),
        |ks AS (SELECT unnest([8, 12, 16]) AS k),
        |b AS (SELECT k, CAST(1 AS BIGINT) << k AS m,
        |    hv % (CAST(1 AS BIGINT) << k) AS bucket,
        |    CAST(count(*) AS BIGINT) AS load
        |  FROM h CROSS JOIN ks GROUP BY 1, 2, 3)
        |SELECT CAST(k AS BIGINT) AS k, m,
        |       CAST(sum(load) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS buckets_used,
        |       CAST(sum(load) - count(*) AS BIGINT) AS collisions,
        |       CAST((sum(load) - count(*)) * 10000 // sum(load)
        |         AS BIGINT) AS coll_bp,
        |       CAST(max(load) AS BIGINT) AS max_load
        |FROM b GROUP BY 1, 2 ORDER BY ALL""".stripMargin
    },

    // Prefix autocomplete (Lexicon.qAutocomplete).
    "q_autocomplete" ->
      """WITH tok AS (SELECT unnest(string_split(lower(text), ' '))
        |      AS token
        |    FROM documents WHERE lang = 'en'),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok
        |      WHERE length(token) >= 3 GROUP BY 1 HAVING count(*) >= 5),
        |r AS (SELECT substring(token, 1, 2) AS prefix, token, n,
        |    CAST(row_number() OVER (PARTITION BY substring(token, 1, 2)
        |      ORDER BY n DESC, token) AS BIGINT) AS rk
        |  FROM c)
        |SELECT prefix, rk, token, n FROM r WHERE rk <= 3
        |ORDER BY ALL""".stripMargin,

    // Min-max scaling audit (Features.qMinmaxScale).
    "q_minmax_scale" ->
      """WITH p AS (SELECT p_brand,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS cents
        |  FROM part),
        |r AS (SELECT p_brand AS b2, min(cents) AS lo, max(cents) AS hi
        |      FROM p GROUP BY 1),
        |sc AS (SELECT p_brand,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE (cents - lo) * 10000 // (hi - lo) END AS scaled_bp
        |  FROM p JOIN r ON p_brand = b2)
        |SELECT p_brand, CAST(least(scaled_bp // 1000, 9) AS BIGINT)
        |         AS bin,
        |       CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(min(scaled_bp) AS BIGINT) AS min_bp,
        |       CAST(max(scaled_bp) AS BIGINT) AS max_bp
        |FROM sc GROUP BY 1, 2 ORDER BY ALL""".stripMargin,

    // ---- §2.99 distribution-comparison toolbox close-out ----
    // Mood's median test inputs (Nonparam.qMedianTest): global discrete
    // median pivot (the percentile_disc recipe), per-priority counts.
    "q_median_test" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |h AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt
        |      FROM o GROUP BY 1),
        |c AS (SELECT cents, cnt, sum(cnt) OVER (ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS cum, sum(cnt) OVER () AS n_all
        |      FROM h),
        |piv AS (SELECT min(cents) AS pivot_cents FROM c
        |        WHERE cum * 2 >= n_all)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN cents > pivot_cents THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_above,
        |       CAST(sum(CASE WHEN cents > pivot_cents THEN 1 ELSE 0 END)
        |         * 10000 // count(*) AS BIGINT) AS above_bp,
        |       pivot_cents
        |FROM o CROSS JOIN piv GROUP BY 1, 5 ORDER BY ALL""".stripMargin,

    // Brown–Forsythe Levene (Spread.qLevene): ANOVA on |v − median_g|,
    // whole-dollar values, whole-z² units, HUGEINT mirror of the
    // Spark DECIMAL(38,0) rails; W is the one double ratio in milli.
    "q_levene" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(round(o_totalprice) AS BIGINT) AS v
        |  FROM orders),
        |h AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM o GROUP BY 1, 2),
        |c AS (SELECT grp, v, cnt,
        |        sum(cnt) OVER (PARTITION BY grp ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum,
        |        sum(cnt) OVER (PARTITION BY grp) AS n
        |      FROM h),
        |med AS (SELECT grp, min(v) AS med FROM c
        |        WHERE cum * 100 >= n * 50 GROUP BY 1),
        |z AS (SELECT o.grp, abs(v - med) AS z
        |      FROM o JOIN med ON o.grp = med.grp),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
        |        CAST(sum(z) AS BIGINT) AS s_g,
        |        CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q_g
        |      FROM z GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(n_g) AS BIGINT) AS n,
        |        CAST(sum(s_g) AS BIGINT) AS s,
        |        CAST(sum(q_g) AS HUGEINT) AS q,
        |        CAST(sum((CAST(s_g AS HUGEINT) * s_g) // n_g)
        |             AS HUGEINT) AS a
        |      FROM g),
        |b AS (SELECT k, n,
        |        CAST(a - (CAST(s AS HUGEINT) * s) // n AS BIGINT)
        |          AS ssb,
        |        CAST(q - a AS BIGINT) AS ssw
        |      FROM a)
        |SELECT k, n, ssb, ssw,
        |       CAST(CASE WHEN ssw = 0 OR k <= 1 THEN NULL
        |            ELSE round(CAST(ssb AS DOUBLE) * (n - k) * 1000
        |                 / (CAST(ssw AS DOUBLE) * (k - 1))) END
        |            AS BIGINT) AS w_milli
        |FROM b ORDER BY ALL""".stripMargin,

    // Cochran's Q inputs (Nonparam.qCochranQ): (user, day) × type
    // presence matrix folds; exact integer Q in milli.
    "q_cochran_q" ->
      """WITH pres AS (SELECT DISTINCT user_id,
        |      epoch_us(ts) // 86400000000 AS day, event_type
        |    FROM events),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |        CAST(sum(r) AS BIGINT) AS sum_r,
        |        CAST(sum(r * r) AS BIGINT) AS sum_r2
        |      FROM (SELECT user_id, day, CAST(count(*) AS BIGINT) AS r
        |            FROM pres GROUP BY 1, 2)),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(c) AS BIGINT) AS sum_c,
        |        CAST(sum(c * c) AS BIGINT) AS sum_c2
        |      FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS c
        |            FROM pres GROUP BY 1))
        |SELECT k, n_blocks, sum_c, sum_c2, sum_r, sum_r2,
        |       CAST(CASE WHEN k * sum_r - sum_r2 = 0 THEN NULL
        |            ELSE (k - 1) * (k * sum_c2 - sum_c * sum_c) * 1000
        |                 // (k * sum_r - sum_r2) END AS BIGINT)
        |         AS q_milli
        |FROM c CROSS JOIN r ORDER BY ALL""".stripMargin,

    "q_fleiss_kappa" ->
      """WITH pres AS (SELECT DISTINCT user_id,
        |      epoch_us(ts) // 86400000000 AS day, event_type
        |    FROM events),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |        CAST(sum(r) AS BIGINT) AS s,
        |        CAST(sum(r * r) AS BIGINT) AS s2
        |      FROM (SELECT user_id, day, CAST(count(*) AS BIGINT) AS r
        |            FROM pres GROUP BY 1, 2)),
        |c AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
        |      FROM pres),
        |t AS (SELECT k, n_blocks, s, s2,
        |        2 * CAST(s2 AS HUGEINT) - 2 * k * s
        |          + n_blocks * k * (k - 1) AS a_num,
        |        CAST(n_blocks AS HUGEINT) * k * (k - 1) AS d_den,
        |        CAST(s AS HUGEINT) * s +
        |          (CAST(n_blocks AS HUGEINT) * k - s) *
        |          (CAST(n_blocks AS HUGEINT) * k - s) AS pe_num,
        |        CAST(n_blocks AS HUGEINT) * k * n_blocks * k AS m_den
        |      FROM r CROSS JOIN c),
        |f AS (SELECT k, n_blocks, s, s2,
        |        a_num * m_den - pe_num * d_den AS num,
        |        d_den * (m_den - pe_num) AS den
        |      FROM t)
        |SELECT k, n_blocks, s, s2,
        |       CAST(CASE WHEN den = 0 THEN NULL
        |         WHEN num >= 0 THEN num * 1000 // den
        |         ELSE -((-num) * 1000 // den) END AS BIGINT)
        |         AS kappa_milli
        |FROM f ORDER BY ALL""".stripMargin,

    // Murphy Brier decomposition (Evaluation.qBrierDecomp): plane-103
    // score min-max rescaled to p_u ∈ [0, 10⁴], 10 floor bins,
    // truncate-before-square reliability/resolution terms.
    "q_brier_decomp" ->
      s"""WITH ${sgnCte(103, 104)},
         |sc AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos,
         |    CAST(round(${planeDot("embedding")} * 10000) AS BIGINT)
         |      AS score_u
         |  FROM embeddings CROSS JOIN sgn),
         |rng AS (SELECT min(score_u) AS lo, max(score_u) AS hi,
         |        CAST(count(*) AS BIGINT) AS n_all,
         |        CAST(sum(pos) AS BIGINT) AS pos_all
         |      FROM sc),
         |p AS (SELECT pos,
         |        CASE WHEN hi = lo THEN 0
         |          ELSE (score_u - lo) * 10000 // (hi - lo) END AS p_u,
         |        n_all, pos_all
         |      FROM sc CROSS JOIN rng),
         |g AS (SELECT least(p_u // 1000, 9) AS bin,
         |        CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(p_u) AS BIGINT) AS p_sum,
         |        CAST(sum(pos) AS BIGINT) AS n_pos,
         |        max(n_all) AS n_all, max(pos_all) AS pos_all
         |      FROM p GROUP BY 1),
         |m AS (SELECT bin, n, p_sum // n AS pbar_u,
         |        n_pos * 10000 // n AS ybar_u,
         |        pos_all * 10000 // n_all AS ybar_all_u
         |      FROM g)
         |SELECT CAST(bin AS BIGINT) AS bin, n,
         |       CAST(pbar_u AS BIGINT) AS pbar_u,
         |       CAST(ybar_u AS BIGINT) AS ybar_u,
         |       CAST(ybar_all_u AS BIGINT) AS ybar_all_u,
         |       CAST(n * (pbar_u - ybar_u) * (pbar_u - ybar_u)
         |         AS BIGINT) AS rel_u,
         |       CAST(n * (ybar_u - ybar_all_u) * (ybar_u - ybar_all_u)
         |         AS BIGINT) AS res_u
         |FROM m ORDER BY ALL""".stripMargin,

    // ---- §2.100 paired-classifier and normality screens ----
    // McNemar inputs (Evaluation.qMcnemar): planes 104/105 as two
    // classifiers, discordant cells, exact integer χ² in milli.
    "q_mcnemar" -> {
      val dot = (j: Int) =>
        "list_sum(list_transform(generate_series(1, 64), i -> " +
          s"CAST(embedding[i] AS DOUBLE) * s$j.sv[i]))"
      s"""WITH ${sgnCte(104, 106)},
         |s104 AS (SELECT sv FROM sgn WHERE j = 104),
         |s105 AS (SELECT sv FROM sgn WHERE j = 105),
         |p AS (SELECT (label >= 5) AS pos,
         |        (${dot(104)} > 0) AS pa,
         |        (${dot(105)} > 0) AS pb
         |      FROM embeddings CROSS JOIN s104 CROSS JOIN s105),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(CASE WHEN pa = pos AND pb = pos
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |        CAST(sum(CASE WHEN pa = pos AND pb <> pos
         |              THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |        CAST(sum(CASE WHEN pa <> pos AND pb = pos
         |              THEN 1 ELSE 0 END) AS BIGINT) AS c,
         |        CAST(sum(CASE WHEN pa <> pos AND pb <> pos
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
         |      FROM p)
         |SELECT n, n_both, b, c, n_neither,
         |       CAST(CASE WHEN b + c = 0 THEN NULL
         |            ELSE (b - c) * (b - c) * 1000 // (b + c) END
         |            AS BIGINT) AS chi2_milli
         |FROM f ORDER BY ALL""".stripMargin
    },

    // Jarque–Bera inputs (Spread.qJarqueBera): whole-dollar central
    // power sums in HUGEINT, milli stats as the only double ops; JB is
    // assembled from the ROUNDED milli skew/kurt (both engines use the
    // identical integers, so no float drift can compound).
    "q_jarque_bera" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(round(o_totalprice) AS BIGINT) AS v
        |  FROM orders),
        |m AS (SELECT grp AS g2, sum(v) // count(*) AS mean_usd
        |      FROM o GROUP BY 1),
        |d AS (SELECT grp, mean_usd, v - mean_usd AS d
        |      FROM o JOIN m ON grp = g2),
        |g AS (SELECT grp, mean_usd, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS m2,
        |        CAST(sum(CAST(d AS HUGEINT) * d * d) AS HUGEINT) AS m3,
        |        CAST(sum(CAST(d AS HUGEINT) * d * d * d) AS HUGEINT)
        |          AS m4
        |      FROM d GROUP BY 1, 2),
        |s AS (SELECT grp, mean_usd, n,
        |        CASE WHEN m2 <= 0 THEN NULL
        |          ELSE CAST(round(CAST(m3 AS DOUBLE)
        |            * sqrt(CAST(n AS DOUBLE)) * 1000
        |            / sqrt(CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)
        |              * CAST(m2 AS DOUBLE))) AS BIGINT) END
        |          AS skew_milli,
        |        CASE WHEN m2 <= 0 THEN NULL
        |          ELSE CAST(round((CAST(m4 AS DOUBLE) * n
        |            / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
        |            - 3.0) * 1000) AS BIGINT) END AS kurt_milli
        |      FROM g)
        |SELECT grp AS o_orderpriority, n, CAST(mean_usd AS BIGINT)
        |         AS mean_usd, skew_milli, kurt_milli,
        |       CASE WHEN skew_milli IS NULL THEN NULL
        |         ELSE CAST(round(n * (CAST(skew_milli AS DOUBLE) / 1000
        |           * (CAST(skew_milli AS DOUBLE) / 1000)
        |           + CAST(kurt_milli AS DOUBLE) / 1000
        |           * (CAST(kurt_milli AS DOUBLE) / 1000) / 4) / 6
        |           * 1000) AS BIGINT) END AS jb_milli
        |FROM s ORDER BY ALL""".stripMargin,

    // ---- §2.101 count-model and tail-coverage screens ----
    // Poisson overdispersion (Spread.qPoissonDispersion): per-user-day
    // count collapse → exact integer variance-to-mean milli.
    "q_poisson_dispersion" ->
      """WITH c AS (SELECT event_type, user_id,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(c) AS BIGINT) AS s,
        |        CAST(sum(c * c) AS BIGINT) AS q
        |      FROM c GROUP BY 1)
        |SELECT event_type, n, s,
        |       CAST(CAST(s AS HUGEINT) * 1000 // n AS BIGINT)
        |         AS mean_milli,
        |       CAST(CASE WHEN n <= 1 OR s = 0 THEN NULL
        |            ELSE (CAST(n AS HUGEINT) * q
        |                  - CAST(s AS HUGEINT) * s) * 1000
        |                 // ((n - 1) * CAST(s AS HUGEINT)) END
        |            AS BIGINT) AS dispersion_milli
        |FROM g ORDER BY ALL""".stripMargin,

    // Exact Chebyshev coverage (Spread.qChebyshevCoverage): the
    // q_zscore_outliers inequality at k = 1, 2, 3 — (n·x − s)² vs
    // k²·(n·q − s²), all HUGEINT.
    "q_chebyshev_coverage" ->
      """WITH c AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |m AS (SELECT event_type AS t2, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS HUGEINT) AS ss,
        |        CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |          AS qq
        |      FROM c GROUP BY 1),
        |j AS (SELECT event_type, n,
        |        (CAST(n AS HUGEINT) * cents - ss)
        |          * (CAST(n AS HUGEINT) * cents - ss) AS num2,
        |        CAST(n AS HUGEINT) * qq - ss * ss AS den
        |      FROM c JOIN m ON event_type = t2)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN num2 <= den THEN 1 ELSE 0 END)
        |         AS BIGINT) AS within_1s,
        |       CAST(sum(CASE WHEN num2 <= 4 * den THEN 1 ELSE 0 END)
        |         AS BIGINT) AS within_2s,
        |       CAST(sum(CASE WHEN num2 <= 9 * den THEN 1 ELSE 0 END)
        |         AS BIGINT) AS within_3s,
        |       CAST(sum(CASE WHEN num2 <= den THEN 1 ELSE 0 END)
        |         * 10000 // max(n) AS BIGINT) AS cov1_bp,
        |       CAST(sum(CASE WHEN num2 <= 4 * den THEN 1 ELSE 0 END)
        |         * 10000 // max(n) AS BIGINT) AS cov2_bp,
        |       CAST(sum(CASE WHEN num2 <= 9 * den THEN 1 ELSE 0 END)
        |         * 10000 // max(n) AS BIGINT) AS cov3_bp
        |FROM j GROUP BY 1 ORDER BY ALL""".stripMargin,

    // ---- §2.102 Kruskal–Wallis (Nonparam.qKruskalWallis) ----
    // Pooled-histogram ×2 midranks, per-group rank sums, tie term,
    // terminal double H in milli — HUGEINT mirror of DECIMAL(38,0).
    "q_kruskal_wallis" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |h AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM o GROUP BY 1),
        |rk AS (SELECT v, cnt,
        |        2 * (sum(cnt) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - cnt) + cnt + 1 AS avg2
        |      FROM h),
        |gv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt_gv
        |       FROM o GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(sum(cnt_gv) AS BIGINT) AS n_g,
        |        CAST(sum(CAST(cnt_gv AS HUGEINT) * avg2) AS HUGEINT)
        |          AS r2_g
        |      FROM gv JOIN rk USING (v) GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
        |          AS BIGINT) AS tie_num
        |      FROM rk),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(n_g) AS BIGINT) AS n,
        |        CAST(sum((r2_g * r2_g)
        |          // (4 * CAST(n_g AS HUGEINT))) AS BIGINT) AS sum_rq
        |      FROM g)
        |SELECT k, n, sum_rq, tie_num,
        |       CAST(CASE WHEN n <= 1 OR tie_num >=
        |              CAST(n AS HUGEINT) * n * n - n THEN NULL
        |            ELSE round((12.0 * sum_rq
        |              / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
        |              / (1.0 - CAST(tie_num AS DOUBLE)
        |                / (CAST(n AS DOUBLE) * n * n - n)) * 1000) END
        |            AS BIGINT) AS h_milli
        |FROM a CROSS JOIN t ORDER BY ALL""".stripMargin,

    // ---- §2.103 Theil–Sen robust slope (Analytics.qTheilSen) ----
    // Day-spine collapse → spine²-bounded pair slopes → discrete
    // lower median per type off the slope histogram.
    "q_theil_sen" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |        CASE WHEN b.y >= a.y
        |          THEN (b.y - a.y) * 1000 // (b.day - a.day)
        |          ELSE -((a.y - b.y) * 1000 // (b.day - a.day))
        |        END AS slope
        |      FROM daily a JOIN daily b
        |        ON a.event_type = b.event_type AND a.day < b.day),
        |h AS (SELECT event_type, slope, CAST(count(*) AS BIGINT)
        |        AS cnt
        |      FROM p GROUP BY 1, 2),
        |c AS (SELECT event_type, slope, cnt,
        |        sum(cnt) OVER (PARTITION BY event_type ORDER BY slope
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum,
        |        sum(cnt) OVER (PARTITION BY event_type) AS n_pairs
        |      FROM h),
        |m AS (SELECT event_type, CAST(max(n_pairs) AS BIGINT)
        |          AS n_pairs,
        |        CAST(min(slope) AS BIGINT) AS sen_slope_milli
        |      FROM c WHERE cum * 2 >= n_pairs GROUP BY 1),
        |d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |      FROM daily GROUP BY 1)
        |SELECT event_type, n_days, n_pairs, sen_slope_milli
        |FROM m JOIN d USING (event_type) ORDER BY ALL""".stripMargin
  )

  // ---- §2.105/§2.106 round-11 extensions ----
  // Paired/correlation nonparametrics (midranks off value histograms as
  // exact ×2 integers; int64-wrapping moments through HUGEINT — the
  // DECIMAL(38,0) twin), day-spine drift readouts, collocation/LM
  // scores (per-term ×10⁶ ln quantization before any sum).
  private def round11Sql: Map[String, String] = Map(
    "q_spearman" ->
      """WITH cells AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |hx AS (SELECT flag, x, CAST(sum(c) AS BIGINT) AS cx
        |       FROM cells GROUP BY 1, 2),
        |hx2 AS (SELECT flag, x,
        |    2 * coalesce(sum(cx) OVER (PARTITION BY flag ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cx + 1 AS u2
        |  FROM hx),
        |hy AS (SELECT flag, y, CAST(sum(c) AS BIGINT) AS cy
        |       FROM cells GROUP BY 1, 2),
        |hy2 AS (SELECT flag, y,
        |    2 * coalesce(sum(cy) OVER (PARTITION BY flag ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cy + 1 AS v2
        |  FROM hy),
        |m AS (SELECT cells.flag, CAST(sum(c) AS BIGINT) AS n,
        |        sum(CAST(c AS HUGEINT) * u2) AS su,
        |        sum(CAST(c AS HUGEINT) * v2) AS sv,
        |        sum(CAST(c AS HUGEINT) * u2 * u2) AS suu,
        |        sum(CAST(c AS HUGEINT) * v2 * v2) AS svv,
        |        sum(CAST(c AS HUGEINT) * u2 * v2) AS suv
        |      FROM cells JOIN hx2 USING (flag, x)
        |        JOIN hy2 USING (flag, y)
        |      GROUP BY 1)
        |SELECT flag, n,
        |       CAST(round((CAST(n * suv - su * sv AS DOUBLE)) /
        |         (sqrt(CAST(n * suu - su * su AS DOUBLE)) *
        |          sqrt(CAST(n * svv - sv * sv AS DOUBLE))) * 1000)
        |         AS BIGINT) AS rho_milli
        |FROM m ORDER BY ALL""".stripMargin,
    "q_wilcoxon_signed" ->
      """WITH p AS (SELECT o_custkey,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS post,
        |    max(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |        THEN 1 ELSE 0 END) AS has97,
        |    min(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |        THEN 1 ELSE 0 END) AS all97
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1 HAVING has97 = 1 AND all97 = 0),
        |d AS (SELECT post - pre AS d, abs(post - pre) AS ad
        |      FROM p WHERE post <> pre),
        |h AS (SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS cpos
        |      FROM d GROUP BY 1),
        |r AS (SELECT ad, cnt, cpos,
        |        coalesce(sum(cnt) OVER (ORDER BY ad
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS cum_before
        |      FROM h),
        |agg AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |          CAST(sum(cpos * (2 * cum_before + cnt + 1)) AS BIGINT)
        |            AS w2_plus
        |        FROM r)
        |SELECT n, w2_plus,
        |       n * (n + 1) - w2_plus AS w2_minus,
        |       CAST(CAST(2 * w2_plus - n * (n + 1) AS HUGEINT) *
        |         (2 * w2_plus - n * (n + 1)) * 3000 //
        |         (CAST(2 AS HUGEINT) * n * (n + 1) * (2 * n + 1))
        |         AS BIGINT) AS z2_milli
        |FROM agg ORDER BY ALL""".stripMargin,
    "q_sign_test" ->
      """WITH p AS (SELECT o_custkey,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS post,
        |    max(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |        THEN 1 ELSE 0 END) AS has97,
        |    min(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |        THEN 1 ELSE 0 END) AS all97
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1 HAVING has97 = 1 AND all97 = 0)
        |SELECT CAST(sum(CASE WHEN post > pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_up,
        |       CAST(sum(CASE WHEN post < pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_down,
        |       CAST(sum(CASE WHEN post = pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_zero,
        |       (n_up - n_down) * (n_up - n_down) * 1000
        |         // (n_up + n_down) AS chi2_milli
        |FROM p ORDER BY ALL""".stripMargin,
    "q_friedman" ->
      """WITH cell AS (SELECT
        |    CAST((year(o_orderdate) - 1990) * 12
        |         + month(o_orderdate) - 1 AS BIGINT) AS blk,
        |    o_orderpriority AS prio,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         AS BIGINT) AS v
        |  FROM orders GROUP BY 1, 2),
        |full_b AS (SELECT blk FROM cell GROUP BY 1
        |           HAVING count(*) = 5),
        |rk AS (SELECT c.prio, CAST(row_number() OVER (
        |         PARTITION BY c.blk ORDER BY c.v, c.prio) AS BIGINT)
        |         AS r
        |       FROM cell c JOIN full_b USING (blk)),
        |g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n_blocks,
        |        CAST(sum(r) AS BIGINT) AS r_sum
        |      FROM rk GROUP BY 1),
        |stat AS (SELECT CAST(max(n_blocks) AS BIGINT) AS b,
        |           CAST(count(*) AS BIGINT) AS k,
        |           CAST(sum(r_sum * r_sum) AS BIGINT) AS ssq
        |         FROM g)
        |SELECT prio, n_blocks, r_sum,
        |       CAST(round((12.0 * ssq / (CAST(b AS DOUBLE) * k * (k + 1))
        |         - 3.0 * b * (k + 1)) * 1000) AS BIGINT) AS chi2f_milli
        |FROM g CROSS JOIN stat ORDER BY ALL""".stripMargin,
    "q_page_hinkley" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |terms AS (SELECT event_type, day, x,
        |    CAST(count(*) OVER w AS BIGINT) AS t_idx,
        |    CAST(sum(x) OVER w AS BIGINT) AS s_cum
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dev AS (SELECT event_type, day,
        |    CASE WHEN x * t_idx >= s_cum
        |      THEN (x * t_idx - s_cum) * 1000 // t_idx
        |      ELSE -((s_cum - x * t_idx) * 1000 // t_idx) END
        |      AS dev_milli
        |  FROM terms),
        |mt AS (SELECT event_type, day,
        |    sum(dev_milli) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_t
        |  FROM dev),
        |ph AS (SELECT event_type, day, m_t,
        |    min(m_t) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_min
        |  FROM mt),
        |rise AS (SELECT event_type, day, m_t - m_min AS rise FROM ph),
        |mx AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(max(rise) AS BIGINT) AS ph_milli
        |       FROM rise GROUP BY 1)
        |SELECT m.event_type, m.n_days, m.ph_milli,
        |       CAST(min(r.day) AS BIGINT) AS peak_day
        |FROM mx m JOIN rise r
        |  ON m.event_type = r.event_type AND r.rise = m.ph_milli
        |GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin,
    "q_theil_u" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |lagged AS (SELECT event_type, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS xp
        |  FROM daily)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_steps,
        |       CAST(round(sqrt(CAST(sum(CAST(x - xp AS HUGEINT) *
        |           (x - xp)) AS DOUBLE) /
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE)) * 1000)
        |         AS BIGINT) AS u_milli
        |FROM lagged WHERE xp IS NOT NULL
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_pmi" ->
      """WITH t AS (SELECT string_split(lower(text), ' ') AS toks
        |           FROM documents WHERE lang = 'en'),
        |bg AS (SELECT toks[i] AS ta, toks[i + 1] AS tb
        |       FROM (SELECT toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i
        |             FROM t)),
        |ab AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM bg GROUP BY 1, 2),
        |n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bg FROM ab),
        |la AS (SELECT ta, CAST(sum(c_ab) AS BIGINT) AS c_a
        |       FROM ab GROUP BY 1),
        |rb AS (SELECT tb, CAST(sum(c_ab) AS BIGINT) AS c_b
        |       FROM ab GROUP BY 1)
        |SELECT ab.ta, ab.tb, c_ab, c_a, c_b,
        |       CAST(round(ln(CAST(c_ab AS DOUBLE) * n_bg /
        |         (CAST(c_a AS DOUBLE) * c_b)) * 1000000) AS BIGINT)
        |         AS pmi_u
        |FROM ab JOIN la USING (ta) JOIN rb USING (tb) CROSS JOIN n
        |WHERE c_ab >= 5 ORDER BY ALL""".stripMargin,
    "q_perplexity" ->
      """WITH occ AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |                       x -> x <> '')) AS token
        |  FROM documents WHERE lang = 'en'),
        |vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c_tok
        |          FROM occ GROUP BY 1),
        |consts AS (SELECT CAST(sum(c_tok) AS BIGINT) AS n_occ,
        |             CAST(count(*) AS BIGINT) AS v
        |           FROM vocab),
        |lp AS (SELECT token,
        |    CAST(round(ln(CAST(c_tok + 1 AS DOUBLE) / (n_occ + v))
        |      * 1000000) AS BIGINT) AS lp_u
        |  FROM vocab CROSS JOIN consts)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |       CAST(-sum(lp_u) AS BIGINT) AS nll_u,
        |       CAST(-sum(lp_u) AS BIGINT)
        |         // (CAST(count(*) AS BIGINT) * 1000)
        |         AS nll_per_tok_milli
        |FROM occ JOIN lp USING (token)
        |GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_rolling_corr" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1, 2),
        |j AS (SELECT x.day, x.v AS x, y.v AS y
        |      FROM (SELECT day, v FROM daily
        |            WHERE event_type = 'purchase') x
        |      JOIN (SELECT day, v FROM daily
        |            WHERE event_type = 'view') y USING (day)),
        |m AS (SELECT day,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(x) OVER w AS BIGINT) AS sx,
        |    CAST(sum(y) OVER w AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) OVER w AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) OVER w AS syy,
        |    sum(CAST(x AS HUGEINT) * y) OVER w AS sxy
        |  FROM j
        |  WINDOW w AS (ORDER BY day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)),
        |v AS (SELECT day, n, sxy, sx, sy,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS vx,
        |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vy
        |  FROM m)
        |SELECT day, n,
        |       CASE WHEN n < 5 OR vx = 0 OR vy = 0 THEN NULL ELSE
        |         CAST(round(CAST(CAST(n AS HUGEINT) * sxy -
        |             CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |           (sqrt(CAST(vx AS DOUBLE)) *
        |            sqrt(CAST(vy AS DOUBLE))) * 1000)
        |           AS BIGINT) END AS corr_milli
        |FROM v ORDER BY ALL""".stripMargin,
    "q_grubbs" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS BIGINT) AS s,
        |        sum(CAST(cents AS HUGEINT) * cents) AS ss
        |      FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, e.event_id, m.n, m.s, m.ss,
        |        abs(CAST(e.cents AS HUGEINT) * m.n - m.s) AS dev
        |      FROM e JOIN m USING (event_type)),
        |pk AS (SELECT event_type, n, s, ss, dev, event_id,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY dev DESC, event_id) AS rn
        |       FROM d)
        |SELECT event_type, n,
        |       CAST(event_id AS BIGINT) AS outlier_event,
        |       CAST(round((CAST(dev AS DOUBLE) / n) /
        |         sqrt(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
        |           / (CAST(n AS DOUBLE) * (n - 1))) * 1000) AS BIGINT)
        |         AS g_milli
        |FROM pk WHERE rn = 1 ORDER BY ALL""".stripMargin,
    "q_partial_corr" ->
      """WITH m AS (SELECT
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
        |    AS sp,
        |  CAST(sum(CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS sd,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) *
        |           CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sqq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
        |           CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
        |    AS spp,
        |  CAST(sum(CAST(l_discount AS DECIMAL(15,2)) *
        |           CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS sdd,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) *
        |           CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
        |    AS sqp,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) *
        |           CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS sqd,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
        |           CAST(l_discount AS DECIMAL(15,2))) AS DOUBLE) AS spd
        |FROM lineitem),
        |r AS (SELECT n,
        |  (n*sqp - sq*sp) / (sqrt(n*sqq - sq*sq) * sqrt(n*spp - sp*sp))
        |    AS r_xy,
        |  (n*sqd - sq*sd) / (sqrt(n*sqq - sq*sq) * sqrt(n*sdd - sd*sd))
        |    AS r_xz,
        |  (n*spd - sp*sd) / (sqrt(n*spp - sp*sp) * sqrt(n*sdd - sd*sd))
        |    AS r_yz
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n, round(r_xy, 4) AS r_xy,
        |       round((r_xy - r_xz * r_yz) /
        |         (sqrt(1 - r_xz * r_xz) * sqrt(1 - r_yz * r_yz)), 4)
        |         AS r_partial
        |FROM r ORDER BY ALL""".stripMargin,
    "q_cronbach" ->
      """WITH g AS (SELECT user_id, event_type,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |      FROM g),
        |items AS (SELECT n_users, CAST(count(*) AS BIGINT) AS k,
        |    sum(CAST(n_users AS HUGEINT) * ss_i -
        |        CAST(s_i AS HUGEINT) * s_i) AS sum_var_u2
        |  FROM (SELECT event_type, CAST(sum(v) AS BIGINT) AS s_i,
        |          sum(CAST(v AS HUGEINT) * v) AS ss_i
        |        FROM g GROUP BY 1) CROSS JOIN u
        |  GROUP BY 1),
        |totals AS (SELECT CAST(sum(tu) AS BIGINT) AS s_t,
        |    sum(CAST(tu AS HUGEINT) * tu) AS ss_t
        |  FROM (SELECT user_id, CAST(sum(v) AS BIGINT) AS tu
        |        FROM g GROUP BY 1))
        |SELECT k, n_users,
        |       CAST(round(CAST(k AS DOUBLE) / (k - 1) * (1.0 -
        |         CAST(sum_var_u2 AS DOUBLE) /
        |         CAST(CAST(n_users AS HUGEINT) * ss_t -
        |              CAST(s_t AS HUGEINT) * s_t AS DOUBLE)) * 1000)
        |         AS BIGINT) AS alpha_milli
        |FROM items CROSS JOIN totals ORDER BY ALL""".stripMargin,
    "q_good_turing" ->
      """WITH vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS r
        |  FROM (SELECT unnest(list_filter(
        |          string_split(lower(text), ' '), x -> x <> ''))
        |          AS token
        |        FROM documents WHERE lang = 'en')
        |  GROUP BY 1),
        |fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
        |        FROM vocab GROUP BY 1),
        |nxt AS (SELECT r - 1 AS r, n_r AS n_r1 FROM fof)
        |SELECT fof.r, fof.n_r,
        |       coalesce((fof.r + 1) * coalesce(nxt.n_r1, 0) * 1000
        |         // fof.n_r, 0) AS rstar_milli
        |FROM fof LEFT JOIN nxt USING (r) ORDER BY ALL""".stripMargin,
    "q_yule_k" ->
      """WITH c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(list_filter(
        |          string_split(lower(text), ' '), x -> x <> ''))
        |          AS token
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_occ,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST((sum(CAST(c AS HUGEINT) * c) - sum(c)) * 10000000
        |         // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT)
        |         AS yule_k_milli
        |FROM c GROUP BY 1 ORDER BY ALL""".stripMargin,
    "q_merge_upsert" ->
      """WITH snap_t AS (SELECT o_custkey, CAST(count(*) AS BIGINT)
        |      AS t_n,
        |    max_by(o_orderpriority,
        |      (epoch_us(o_orderdate) // 86400000000) * 8589934592
        |        + o_orderkey) AS t_prio,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS t_cents
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1),
        |snap_s AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS s_n,
        |    max_by(o_orderpriority,
        |      (epoch_us(o_orderdate) // 86400000000) * 8589934592
        |        + o_orderkey) AS s_prio,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS s_cents
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  GROUP BY 1)
        |SELECT coalesce(t.o_custkey, s.o_custkey) AS custkey,
        |       CASE WHEN t.t_n IS NULL THEN 'insert'
        |            WHEN s.s_n IS NULL THEN 'keep'
        |            ELSE 'update' END AS op,
        |       coalesce(t_n, 0) + coalesce(s_n, 0) AS n_orders,
        |       coalesce(s_prio, t_prio) AS prio,
        |       coalesce(t_cents, 0) + coalesce(s_cents, 0)
        |         AS total_cents
        |FROM snap_t t FULL OUTER JOIN snap_s s
        |  ON t.o_custkey = s.o_custkey
        |ORDER BY ALL""".stripMargin,
    // §2.108 delete-propagation: the md5 bp=100 forget-set sample over
    // customer keys, propagated down the FK chain; events users take
    // the same policy over user_id. The 16-bit hex prefix assembles
    // nibble-by-nibble (DuckDB has no conv(hex)).
    "q_delete_propagation" -> {
      def h16(idExpr: String): String = {
        val h = s"md5(CAST($idExpr AS VARCHAR))"
        (1 to 4).map(i =>
          s"(${nibSql(h, i)}) * ${math.pow(16, 4 - i).toLong}")
          .mkString("(", " + ", ")")
      }
      s"""WITH fcust AS (SELECT c_custkey FROM customer
         |  WHERE ${h16("c_custkey")} * 10000 < 100 * 65536),
         |fords AS (SELECT o_orderkey FROM orders
         |  WHERE o_custkey IN (SELECT c_custkey FROM fcust)),
         |rows_t AS (
         |  SELECT 'customer' AS table_name,
         |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
         |    (SELECT CAST(count(*) AS BIGINT) FROM fcust) AS n_affected
         |  UNION ALL
         |  SELECT 'orders',
         |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
         |    (SELECT CAST(count(*) AS BIGINT) FROM fords)
         |  UNION ALL
         |  SELECT 'lineitem',
         |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
         |     WHERE l_orderkey IN (SELECT o_orderkey FROM fords))
         |  UNION ALL
         |  SELECT 'events',
         |    (SELECT CAST(count(*) AS BIGINT) FROM events),
         |    (SELECT CAST(count(*) AS BIGINT) FROM events
         |     WHERE ${h16("user_id")} * 10000 < 100 * 65536))
         |SELECT table_name, n_rows, n_affected,
         |       n_affected * 10000 // n_rows AS share_bp
         |FROM rows_t ORDER BY ALL""".stripMargin
    },
    // §2.109 ROC decile-threshold curve off the plane-100 score
    // histogram's descending cumulative counts.
    "q_roc_curve" ->
      s"""WITH ${sgnCte(100, 101)},
         |sc AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
         |    CAST(round(${planeDot("embedding")} * 10000) AS BIGINT)
         |      AS score_u
         |  FROM embeddings CROSS JOIN sgn),
         |h AS (SELECT score_u, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(y) AS BIGINT) AS np
         |      FROM sc GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all,
         |          CAST(sum(np) AS BIGINT) AS p_all FROM h),
         |cum AS (SELECT score_u,
         |    CAST(sum(n) OVER w AS BIGINT) AS cum_n,
         |    CAST(sum(np) OVER w AS BIGINT) AS cum_tp
         |  FROM h
         |  WINDOW w AS (ORDER BY score_u DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |pick AS (SELECT k, max(score_u) AS threshold_u
         |  FROM cum CROSS JOIN tot
         |  CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS k)
         |  WHERE cum_n * 10 >= k * n_all GROUP BY 1)
         |SELECT CAST(p.k AS BIGINT) AS k, p.threshold_u,
         |       c.cum_tp * 10000 // t.p_all AS tpr_bp,
         |       (c.cum_n - c.cum_tp) * 10000 // (t.n_all - t.p_all)
         |         AS fpr_bp
         |FROM pick p JOIN cum c ON p.threshold_u = c.score_u
         |CROSS JOIN tot t ORDER BY ALL""".stripMargin,
    // §2.109 logistic gradient at w = 0 over ×10⁴-quantized lanes —
    // exact BIGINT sums, no rounding anywhere.
    "q_grad_step" ->
      """WITH lanes AS (SELECT
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
        |    CAST(i AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS q
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i))
        |SELECT dim, CAST(sum(y) AS BIGINT) AS n_pos,
        |       (CAST(sum(CASE WHEN y = 0 THEN q ELSE 0 END) AS BIGINT)
        |        - CAST(sum(CASE WHEN y = 1 THEN q ELSE 0 END)
        |            AS BIGINT)) * 50 AS grad_u
        |FROM lanes GROUP BY 1 ORDER BY ALL""".stripMargin
  )
}
