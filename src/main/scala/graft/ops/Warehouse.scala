package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 warehouse + timeseries extensions (SURVEY §2.20): z-order
  * layout keys, SCD type-2 dimension construction, CDC snapshot diffing,
  * calendar gap-filling with forward fill, exact winsorized statistics,
  * and last-touch attribution. All DuckDB-oracled, all integer/decimal-
  * exact where the decision logic lives (clamps, interval bounds, diff
  * ops), float only in round(…,4)-policied emitted aggregates.
  */
object Warehouse {

  /** Bits per axis of the z-order key (6 ⇒ 64×64 grid, 12-bit key). */
  private val ZBits = 6

  /** Morton/z-order interleave of two 6-bit axes as a portable arithmetic
    * expression (bit i of x → key bit 2i, bit i of y → key bit 2i+1),
    * spelled with div/mod so the identical formula runs in Spark and
    * DuckDB (no engine-specific bit operators). */
  private def zkeyExpr(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      ((x.cast("long") / (1L << i)).cast("long") % 2) * (1L << (2 * i)) +
        ((y.cast("long") / (1L << i)).cast("long") % 2) * (1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Z-order (Morton) layout key over the (p_size, p_partkey mod 64)
    * grid: the multi-dimensional clustering key behind data-skipping
    * layouts (Delta/Iceberg OPTIMIZE ZORDER BY) — sorting by the
    * interleaved key keeps rows close in BOTH dimensions, so min/max
    * file stats prune 2-D range predicates that a lexicographic sort
    * only prunes on its leading column. Emitted per-part for the graded
    * window (p_partkey ≤ 256); at 100 TB the key feeds
    * repartitionByRange(zkey) before the write — a pure scan-shaped
    * projection here, one range shuffle there. */
  def qZorder(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "part")
      .filter(col("p_partkey") <= 256)
      .withColumn("zx", (col("p_size") % 64).cast("long"))
      .withColumn("zy", (col("p_partkey") % 64).cast("long"))
      .select(col("p_partkey"), col("zx"), col("zy"),
        zkeyExpr(col("zx"), col("zy")).as("zkey")))

  /** SCD type-2 dimension build: collapse each customer's order-priority
    * timeline into validity intervals [valid_from, valid_to) — the
    * change-data-capture → dimension-table step of every warehouse load.
    * Change detection is lag() ≠ current (ordered by order date with an
    * integer key tie-break), interval close is lead() of the next change;
    * the open interval carries NULL valid_to. All-integer epoch days —
    * no timestamp precision exposure. Two window passes over the same
    * customer partitioning = one shuffle; customers are the natural
    * sharding axis at scale. */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    // o_orderdate reads as TIMESTAMP_NTZ (date-valued); with the session
    // pinned UTC, days-since-epoch via datediff equals the oracle's
    // epoch_us // 86400000000 exactly.
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1970-01-01").cast("date")).cast("long")
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    orderedAll(t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority").as("prio"), day.as("day"))
      .withColumn("prev", lag(col("prio"), 1).over(wOrd))
      .filter(col("prev").isNull || col("prev") =!= col("prio"))
      .withColumn("valid_to", lead(col("day"), 1).over(wOrd))
      .select(col("o_custkey").as("custkey"), col("prio"),
        col("day").as("valid_from"), col("valid_to")))
  }

  /** CDC snapshot diff: compare each customer's order-derived state at
    * two snapshot cutoffs (orders before 1998-01-01 vs all orders) and
    * emit the change feed — op ∈ {insert, update} with old/new state —
    * the incremental-load primitive (MERGE source construction, audit
    * diffs). State = (order count, latest priority via max_by on an
    * exact composite integer, decimal-exact total). The diff is one
    * full-outer join on the key; at 100 TB both snapshot aggregates and
    * the join hash-partition on custkey, so the diff co-locates for
    * free. Append-only fixture ⇒ no deletes; the op taxonomy still
    * covers them (an a-side-only row would emit 'delete'). */
  def qCdcDiff(s: SparkSession, dir: String): DataFrame = {
    def snap(df: DataFrame): DataFrame = {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      // composite arg key: day·2³³ + orderkey (exact in int64, unique)
      df.groupBy("o_custkey").agg(
        count(lit(1)).as("n"),
        max_by(col("o_orderpriority"),
          day * 8589934592L + col("o_orderkey")).as("prio"),
        dsum(col("o_totalprice")).as("total"))
    }
    val orders = t(s, dir, "orders")
    val a = snap(orders.filter(col("o_orderdate") < lit("1998-01-01")))
      .withColumnsRenamed(Map("n" -> "old_n", "prio" -> "old_prio",
        "total" -> "old_total"))
    val b = snap(orders)
      .withColumnsRenamed(Map("n" -> "new_n", "prio" -> "new_prio",
        "total" -> "new_total"))
    orderedAll(a.join(b, Seq("o_custkey"), "full_outer")
      .withColumn("op",
        when(col("old_n").isNull, "insert")
          .when(col("new_n").isNull, "delete")
          .when(col("old_n") =!= col("new_n") ||
            col("old_prio") =!= col("new_prio"), "update")
          .otherwise("unchanged"))
      .filter(col("op") =!= "unchanged")
      .select(col("o_custkey").as("custkey"), col("op"),
        col("old_n"), col("new_n"), col("old_prio"), col("new_prio"),
        col("old_total"), col("new_total")))
  }

  /** MERGE-apply (§2.107): the upsert half of the CDC pair — where
    * [[qCdcDiff]] emits the change feed, this emits the POST-MERGE
    * dimension state: the pre-1997 per-customer snapshot merged with
    * the 1997+ batch (matched → counts add and the later priority
    * wins; not-matched-by-target → insert). One full-outer join on the
    * key — both sides hash-partition on custkey, so the MERGE
    * co-locates for free at any scale; op tags make the row's
    * provenance auditable (the fixture is append-only, so no
    * delete-when-matched arm fires). */
  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    def snap(df: DataFrame): DataFrame = {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      df.groupBy("o_custkey").agg(
        count(lit(1)).as("n"),
        max_by(col("o_orderpriority"),
          day * 8589934592L + col("o_orderkey")).as("prio"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .cast("long").as("cents"))
    }
    val orders = t(s, dir, "orders")
    val target = snap(orders.filter(col("o_orderdate") <
      lit("1997-01-01").cast("timestamp")))
      .withColumnsRenamed(Map("n" -> "t_n", "prio" -> "t_prio",
        "cents" -> "t_cents"))
    val source = snap(orders.filter(col("o_orderdate") >=
      lit("1997-01-01").cast("timestamp")))
      .withColumnsRenamed(Map("n" -> "s_n", "prio" -> "s_prio",
        "cents" -> "s_cents"))
    orderedAll(target.join(source, Seq("o_custkey"), "full_outer")
      .withColumn("op",
        when(col("t_n").isNull, "insert")
          .when(col("s_n").isNull, "keep").otherwise("update"))
      .select(col("o_custkey").as("custkey"), col("op"),
        (coalesce(col("t_n"), lit(0L)) + coalesce(col("s_n"), lit(0L)))
          .as("n_orders"),
        coalesce(col("s_prio"), col("t_prio")).as("prio"),
        (coalesce(col("t_cents"), lit(0L)) +
          coalesce(col("s_cents"), lit(0L))).as("total_cents")))
  }

  /** Calendar gap-fill with forward fill: per event type, densify the
    * daily-total series over the type's own [min, max] day range and
    * carry the last observed total across missing days — the
    * spine-and-fill step before any timeseries model. The spine is a
    * per-type sequence() explode (generate_series twin); the fill is
    * last_value(IGNORE NULLS) over an unbounded-preceding frame — both
    * engines support ignore-nulls windows with identical semantics. The
    * first spine day always has data (it IS the min observed day), so
    * the fill never emits NULL. Days are exact integers; the filled
    * value is the round(…,4)-policied daily sum. One shuffle by type. */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val day = (unix_micros(col("ts")) / 86400000000L).cast("long")
    val daily = t(s, dir, "events")
      .select(col("event_type"), day.as("day"), col("value"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
    val spine = daily.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1)")).as("day"))
    val wFill = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orderedAll(spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("is_gap", col("n").isNull)
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("filled",
        last(col("v"), ignoreNulls = true).over(wFill))
      .select("event_type", "day", "n", "filled", "is_gap"))
  }

  /** Winsorized statistics: per event type, clamp `value` to its exact
    * [p05, p95] (rank-selected order statistics — position ⌈q·n⌉ under a
    * (value, event_id) total order, the percentile_disc that both
    * engines compute identically, q_anomaly_mad's selection idiom with
    * all-integer position math) and emit raw-vs-winsorized means with
    * clamp counts — the outlier-robust profiling twin of q_stats. The
    * cut values are EXACT doubles picked from the data, so the clamp
    * decision can't flap across engines; only the means are float
    * aggregates, under the round(…,4) policy. One window pass + one
    * mergeable agg, partitioned by the group key. */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    val ranked = t(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("lo_pos", expr("(5 * n + 99) div 100"))
      .withColumn("hi_pos", expr("(95 * n + 99) div 100"))
    val cuts = ranked.groupBy("event_type")
      .agg(max(when(col("rn") === col("lo_pos"), col("value"))).as("lo"),
        max(when(col("rn") === col("hi_pos"), col("value"))).as("hi"))
    orderedAll(ranked.join(cuts, "event_type")
      .withColumn("wv", greatest(col("lo"), least(col("hi"), col("value"))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        round(avg(col("value")), 4).as("mean_raw"),
        round(avg(col("wv")), 4).as("mean_winsor")))
  }

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent preceding non-purchase event type — the marketing/funnel
    * attribution primitive. The channel is last_value(IGNORE NULLS) over
    * an unbounded-to-1-preceding frame under the (epoch-µs, event_id)
    * total order (the q_markov tie-break: the oracle orders by epoch_us
    * so the ns-typed fixture column can't order differently across
    * engines); purchases with no prior touch credit 'none'. One shuffle
    * by user (the sharding axis), one mergeable agg. */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    orderedAll(t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
      .withColumn("touch", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 4).as("sum_value")))
  }

  /** Market-basket brand affinity: for every pair of part brands
    * co-purchased within one order (support ≥ 1% of orders), the
    * support count and the LIFT vs independence — observed co-occurrence
    * over expected — in exact basis points:
    * `lift_bp = (sup · N · 10000) div (na · nb)` (integer division, no
    * float path anywhere in the decision or emitted values).
    *
    * The pair space is bounded per BASKET, not per corpus: an order with
    * k distinct brands contributes C(k,2) pairs (k ≈ 4 here), generated
    * IN-ROW from the basket's sorted brand set — the q_cooccur_pmi
    * per-group quadratic-but-tiny shape — so the whole pipeline is one
    * basket-keyed shuffle plus vocabulary-sized aggregates, with the
    * brand dimension (25 values) broadcast for the item→brand mapping
    * and the marginals. At 100 TB: identical plan; a skewed mega-basket
    * is capped by the same df-cap guard the PMI operator carries. The
    * basket table is pinned once (Pins.pin) — it has three consumers
    * (N, marginals, pairs) and would otherwise re-derive the scan+join
    * per consumer. */
  def qBrandAffinity(s: SparkSession, dir: String): DataFrame = {
    // One shuffle builds the per-basket sorted brand set; pairs are then
    // generated IN-ROW by array lambdas (the q_cooccur_pmi idiom) —
    // cheaper than a basket-keyed self-join, which would shuffle the
    // item table twice and re-sort both sides.
    // r17: keyed spread — the broadcast brand join + partial collect_set
    // otherwise run inside the ONE scan task of the single-file fixture
    // (guide §2.5); hashing on the basket key doubles as the groupBy
    // exchange.
    val baskets = Pins.pin(spread(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")), dir, "lineitem",
        col("l_orderkey"))
      .join(broadcast(t(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("p_brand"))).as("bs")), "affinity_ob")
    val tot = baskets.select(count(lit(1)).as("n_orders"))
    val marg = baskets.select(explode(col("bs")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("nm"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(bs, (x, i) ->
          |  transform(slice(bs, i + 2, size(bs)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
      .agg(count(lit(1)).as("sup"))
    orderedAll(pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"),
        col("nm").as("na"))), "brand_a")
      .join(broadcast(marg.select(col("brand").as("brand_b"),
        col("nm").as("nb"))), "brand_b")
      .crossJoin(broadcast(tot))
      .filter(col("sup") * 100 >= col("n_orders"))
      .withColumn("lift_bp",
        expr("(sup * n_orders * 10000) div (na * nb)"))
      .select("brand_a", "brand_b", "sup", "na", "nb", "lift_bp"))
  }

  /** Hourly OHLC bars per event type (§2.21): open/high/low/close/count —
    * the time-series downsampling shape every metrics warehouse runs.
    * Open/close are picked by row_number over (ts, event_id) — the
    * deterministic tie-break policy (ties on ts broken by id), mirrored
    * verbatim in the oracle — then folded in the same grouped aggregate
    * as high/low (max/min are FP-exact: no accumulation). One window
    * shuffle on (event_type, hour) + one mergeable aggregate; at 100 TB
    * the window partitions by the same key the aggregate groups on, so
    * both stages share one exchange. */
  def qOhlc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events")
      .withColumn("hour", expr("unix_micros(ts) div 3600000000"))
    val w = Window.partitionBy(col("event_type"), col("hour"))
    val asc = w.orderBy(col("ts").asc, col("event_id").asc)
    val desc = w.orderBy(col("ts").desc, col("event_id").desc)
    orderedAll(e
      .withColumn("ra", row_number().over(asc))
      .withColumn("rd", row_number().over(desc))
      .groupBy("event_type", "hour")
      .agg(round(max(when(col("ra") === 1, col("value"))), 4).as("open"),
        round(max(col("value")), 4).as("high"),
        round(min(col("value")), 4).as("low"),
        round(max(when(col("rd") === 1, col("value"))), 4).as("close"),
        count(lit(1)).as("n")))
  }

  /** Spearman rank correlation between customer account balance and
    * order value, per market segment (§2.21) — the monotonic-association
    * report statistic, computed EXACTLY: ranks are row_numbers with a
    * deterministic (value, o_orderkey) tie-break (a defined contract both
    * engines replay, sidestepping the FP-free average-rank tie
    * formula), d² sums are BIGINT, and ρ is emitted in basis points via
    * integer division — no float path. Two window shuffles on the same
    * segment key + one aggregate. BIGINT bounds: 60000·Σd² ≤ 2·10⁴·n³
    * overflows past n ≈ 60 M rows per segment; the 100 TB swap is the
    * same formula in DECIMAL(38,0). */
  def qRankCorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
        col("c_acctbal"), col("o_totalprice"))
    val w = Window.partitionBy(col("segment"))
    val rx = row_number().over(
      w.orderBy(col("c_acctbal").asc, col("o_orderkey").asc))
    val ry = row_number().over(
      w.orderBy(col("o_totalprice").asc, col("o_orderkey").asc))
    orderedAll(j
      .withColumn("d", (rx - ry).cast("long"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(col("d") * col("d")).cast("long").as("sum_d2"))
      .withColumn("rho_bp",
        expr("10000 - (60000 * sum_d2) div (n * (n * n - 1))")))
  }

  /** Front-coding compression estimate (§2.32): sort each source's docs
    * by (text, doc_id) and measure the byte prefix each doc shares with
    * its predecessor — the savings a prefix-compressed sorted block
    * (dictionary pages, SSTable key blocks) would realize. The per-pair
    * prefix scan is the codegen'd
    * [[graft.expressions.CommonPrefixLen]] — one byte loop per
    * adjacent pair, where an expression-chain spelling would test every
    * prefix length. One window (lag) per source partition + one
    * mergeable aggregate; sources shard independently, which is the
    * 100 TB layout axis. */
  def qPrefixCompress(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSql.{column, expression}
    val w = Window.partitionBy("source").orderBy("text", "doc_id")
    orderedAll(t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
      .withColumn("prev", lag("text", 1).over(w))
      .withColumn("cpl", coalesce(
        column(graft.expressions.CommonPrefixLen(
          expression(col("text")), expression(col("prev")))),
        lit(0L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        sum("cpl").as("saved_chars"))
      .withColumn("ratio_bp",
        expr("saved_chars * 10000 div total_chars")))
  }

  /** Exact weighted median (§2.38): per event type, the smallest cents
    * value whose cumulative props.k weight reaches half the type's total
    * — the robust center a revenue-weighted readout needs where the
    * unweighted median over-counts cheap events. Same histogram-first
    * shape as q_ks_test: raw events compress to (type, cents, Σw) before
    * [[DistRank.cumulative]] + [[DistRank.discrete]] p50 (the
    * all-integer rule 2·cum ≥ tot; the props.k weights are
    * non-negative). With near-distinct values the per-type histogram is
    * fact-scale on 5 tasks, so the cumulative sum is DistRank-gated
    * like q_weighted_quantile. */
  def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val g0 = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("w"))
      .groupBy("event_type", "cents").agg(sum("w").as("gw"),
        count(lit(1)).as("gn"))
    val (b, g) = DistRank.gate(s, g0, 1000000L,
      Pins.slot("wmed_auto", dir))
    val by = Seq("event_type")
    orderedAll(DistRank.discrete(DistRank.cumulative(g, by, "cents", "gw", b),
        by, "cents", Seq(50 -> "wmedian_cents"), sum("gn").as("n"))
      .select(col("event_type"), col("n"), col("tot").as("tot_w"),
        col("wmedian_cents")))
  }

  // ---- §2.46 storage-encoding audits -----------------------------------

  /** Run-length-encoding audit (§2.46): per event type, the number of
    * RLE runs of that type in each user's (ts, event_id)-ordered event
    * stream, pooled — n_rows, n_runs (a run starts where the previous
    * row's type differs), and mean run length ×10³. The
    * storage-planning twin of q_prefix_compress: a column whose
    * avg_run ≫ 1 under the table's native sort order wants RLE. The
    * run-start flag is one lag window per user (the natural 100 TB
    * partition axis — runs never span users, so no boundary merge is
    * needed); everything after is a mergeable aggregate. */
  def qRleAudit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    orderedAll(t(s, dir, "events")
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .withColumn("run_start",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum("run_start").cast("long").as("n_runs"))
      .withColumn("avg_run_e3", expr("n_rows * 1000 div n_runs")))
  }

  /** Dictionary-encoding audit (§2.46): for each low-cardinality string
    * column (lineitem flags + orders status/priority), the exact
    * dictionary-encoding arithmetic a columnar writer runs — distinct
    * count, bits per value (MSB position of nd−1 via length(bin(·)),
    * exact in both engines — no float log2 near a power-of-two
    * boundary), raw payload bytes vs dictionary payload + bit-packed
    * indices. Each profile is one two-level mergeable aggregate
    * (distinct collapse, then sums); the four profiles union to a
    * 4-row report. */
  def qDictAudit(s: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, c: String): DataFrame = df
      .select(col(c).as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").cast("long").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum(length(col("v")).cast("long") * col("cnt")).cast("long")
          .as("raw_bytes"),
        sum(length(col("v")).cast("long")).cast("long").as("dict_bytes"))
      .withColumn("col_name", lit(c))
      .withColumn("bits_pv", expr(
        "CASE WHEN n_distinct <= 1 THEN 1 " +
          "ELSE length(bin(n_distinct - 1)) END").cast("long"))
      .withColumn("encoded_bytes", expr(
        "dict_bytes + (n_rows * bits_pv + 7) div 8"))
      .select("col_name", "n_rows", "n_distinct", "bits_pv",
        "raw_bytes", "dict_bytes", "encoded_bytes")
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    orderedAll(profile(li, "l_returnflag")
      .unionByName(profile(li, "l_linestatus"))
      .unionByName(profile(o, "o_orderstatus"))
      .unionByName(profile(o, "o_orderpriority")))
  }

  /** Period-end balance roll-up (§2.96): per month, the sum over
    * customers of each customer's LAST order total in that month —
    * the semi-additive-measure pattern (balances sum across accounts
    * but NOT across time; month-end snapshot first, then the additive
    * axis). Last-in-month is a per-(customer, month) argmax on
    * (o_orderdate, o_orderkey) — deterministic under order-date ties.
    * One shuffle on (custkey, month), then a month-dim fold. */
  def qPeriodEndBalance(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        expr("CAST((year(o_orderdate) - 1990) * 12 " +
          "+ month(o_orderdate) - 1 AS BIGINT)").as("month_idx"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val wLast = Window.partitionBy("o_custkey", "month_idx")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orderedAll(o
      .withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .groupBy("month_idx")
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").cast("long").as("balance_cents")))
  }

  /** Weighted quantiles (§2.96): per return flag, the p25/p50/p75/p90
    * of l_extendedprice cents weighted by integer-valued l_quantity —
    * the lower-bound discrete definition (smallest x whose cumulative
    * weight reaches ⌈p·W⌉, cleared to 100·cumw ≥ p·W so everything
    * stays integer). Generalizes [[qWeightedMedian]] to a quantile
    * vector from ONE cents-grain collapse + one cumulative window per
    * flag; the 4 probe points are a literal cross join. The per-flag
    * histograms are near-distinct-valued and there are only 3 flags —
    * the declarative window is a 3-task ceiling — so cum/tot come from
    * the gated [[DistRank.cumulative]] (per-flag bucket offsets,
    * bit-equal stitching, Round11RankSpec-forced). */
  def qWeightedQuantile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g0 = t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(l_quantity AS BIGINT)").as("w"))
      .groupBy("l_returnflag", "cents").agg(sum("w").as("gw"))
    val (b, g) = DistRank.gate(s, g0, 1000000L,
      Pins.slot("wq_auto", dir))
    val ps = Seq(25L, 50L, 75L, 90L).toDF("p")
    orderedAll(DistRank.cumulative(g, Seq("l_returnflag"), "cents", "gw", b)
      .crossJoin(broadcast(ps))
      .filter(col("cum") * 100 >= col("tot") * col("p"))
      .groupBy(col("l_returnflag"), col("p"), col("tot").as("tot_w"))
      .agg(min("cents").as("wq_cents")))
  }

  /** Point-in-time lookup (§2.98): every order joined to the SCD2
    * priority dimension [[qScd2]] builds, AS OF 30 days BEFORE the
    * order — the point-in-time-correctness primitive behind feature
    * stores and ML training joins (training rows must see the
    * attribute value that was CURRENT at label time, not today's).
    * The interval stab is an equi-join on custkey (the dimension's
    * natural co-location key; version chains are short) + the
    * validity filter; orders inside the first 30 days have no
    * as-of version → 'none'. Output is the (prio_then, prio_now)
    * transition matrix — the drift readout of the attribute. */
  def qPitLookup(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1970-01-01").cast("date")).cast("long")
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val dim = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority").as("prio"), day.as("day"))
      .withColumn("prev", lag(col("prio"), 1).over(wOrd))
      .filter(col("prev").isNull || col("prev") =!= col("prio"))
      .withColumn("valid_to", lead(col("day"), 1).over(wOrd))
      .select(col("o_custkey").as("d_ck"), col("prio").as("prio_then"),
        col("day").as("valid_from"), col("valid_to"))
    val facts = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority").as("prio_now"),
        (day - 30).as("asof_day"))
    orderedAll(facts
      .join(dim, col("o_custkey") === col("d_ck") &&
        col("valid_from") <= col("asof_day") &&
        (col("valid_to").isNull || col("valid_to") > col("asof_day")),
        "left")
      .groupBy(coalesce(col("prio_then"), lit("none")).as("prio_then"),
        col("prio_now"))
      .agg(count(lit(1)).as("n_orders")))
  }
}
