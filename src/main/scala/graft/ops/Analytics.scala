package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 §2.22 operational-analytics extensions: compaction planning
  * (the OPTIMIZE bin-packing primitive), inter-arrival latency percentiles
  * (the SRE tail-latency report), a 2-d histogram (data-profiling grid),
  * and a pre/post A/B comparison with an exact-moment Welch t statistic.
  * All DuckDB-oracled. Float policy: means/variances/t are derived from
  * EXACT integer (cent-scaled) sums, then combined with a fixed sequence
  * of IEEE double ops — both engines correctly-round each op from
  * identical inputs, so the emitted round(…) values cannot flap. */
object Analytics {

  /** Compaction planning: treat each order as a "file" of
    * round(o_totalprice·100) bytes, and greedily bin-pack files into
    * ~1 GB output buckets per priority in file-id order — bucket =
    * floor(cumulative-bytes-before / target), the streaming one-pass
    * packing every OPTIMIZE/compaction job runs. One window shuffle on
    * the partition column; the bucket aggregate reuses the same
    * partitioning (no second exchange). At 100 TB the same plan runs per
    * table partition, which is exactly how compaction is scheduled. */
  def qCompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("fid")
      .rowsBetween(Window.unboundedPreceding, -1)
    orderedAll(t(s, dir, "orders")
      .select(col("o_orderpriority").as("pri"),
        col("o_orderkey").as("fid"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("bytes"))
      .withColumn("cum_before", coalesce(sum("bytes").over(w), lit(0L)))
      .withColumn("bucket",
        expr("CAST(cum_before div 1000000000 AS BIGINT)"))
      .groupBy("pri", "bucket")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("total_bytes"),
        min("fid").as("first_file"), max("fid").as("last_file")))
  }

  /** Inter-arrival tail latency: per event type, the p50/p95/p99 of
    * microsecond gaps between consecutive events under the (ts, event_id)
    * total order — the queueing/throughput signal an ingest pipeline is
    * monitored by. The interpolated percentile is computed EXACTLY in
    * ×100-scaled BIGINT arithmetic (gap[lo]·(100−rem) + gap[lo+1]·rem
    * with lo/rem from integer div/mod of q·(n−1)) — engine FP percentile
    * implementations disagree in the last ULP on the interpolation op
    * order (a·(1−f)+b·f vs a+(b−a)·f), and round(…,4) cannot absorb a
    * ULP at 1e10 magnitude, so no FP path exists here at all.
    *
    * Both per-type sorts (the sequencing lag and the rank pick) are
    * global orders over #event_types partitions, so both go through
    * [[DistRank]] ([[DistRank.lag]], [[DistRank.atRanks]]) with `b`
    * from its gate. */
  def qInterarrival(s: SparkSession, dir: String): DataFrame = {
    val evs0 = t(s, dir, "events")
      .withColumn("us", expr("unix_micros(ts)"))
      .select(col("event_type"), col("us"), col("event_id"))
    // crossover 10⁷ rows, from BASELINE.md §2.22's 32-core smoke of the
    // seam-stitched plan this replaced (slower than serial at 10×, 3×
    // faster at 100×); on 4 cores at 100× (10⁷ events, which stays
    // serial) the DistRank plan ran 28 s against 13 s serial
    val (b, evs) = DistRank.gate(s, evs0, 10000000L,
      Pins.slot("interarrival_auto", dir))
    val gaps = DistRank.lag(evs, Seq("event_type"), col("us"),
        col("event_id"), b, "prev_us")
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"), (col("us") - col("prev_us")).as("gap_us"))

    // q·(n − 1) = 100·lo + rem: quantile q interpolates ranks lo + 1 and
    // lo + 2 with ×100 weights 100 − rem and rem (rank lo + 2 is past
    // the end only when rem = 0). q = 100 is rank n, the max gap.
    val qs = Seq(50, 95, 99)
    def lo(q: Int) = s"(($q * (n - 1)) div 100)"
    def rem(q: Int) = s"(($q * (n - 1)) % 100)"
    val ranks = qs.flatMap(q => Seq(s"${lo(q)} + 1", s"${lo(q)} + 2")) :+ "n"
    def pScaled(q: Int) = sum(expr(
      s"CASE WHEN r = ${lo(q)} + 1 THEN v * (100 - ${rem(q)}) " +
        s"WHEN r = ${lo(q)} + 2 THEN v * ${rem(q)} END"))
      .cast("long").as(s"p${q}_x100")
    orderedAll(DistRank.atRanks(gaps, Seq("event_type"), col("gap_us"),
        col("gap_us"), ranks.mkString("array(", ", ", ")"), b)
      .groupBy("event_type")
      .agg(max("n").as("n_gaps"), qs.map(pScaled) :+
        max(when(col("r") === col("n"), col("v"))).as("max_us"): _*))
  }

  /** 2-d profiling histogram: lineitem count + exact decimal revenue on a
    * (quantity÷5) × (discount·100) grid — the heatmap behind skew/price
    * diagnostics. Pure scan + one mergeable aggregate over ≤110 cells;
    * the 100 TB plan is the same scan with partial aggregation doing all
    * the work map-side. */
  def qHist2d(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .withColumn("qbin",
        expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 5 AS BIGINT)"))
      .withColumn("dbin", expr("CAST(round(l_discount * 100) AS BIGINT)"))
      .groupBy("qbin", "dbin")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue")))

  /** Data-quality audit (the Deequ/dbt-test staple): five declared
    * checks over orders/customer — referential integrity (orders whose
    * customer is missing), value domain (non-positive totalprice), key
    * uniqueness (rows minus distinct keys), null rate, and categorical
    * domain membership — each emitted as (check, n_rows, n_violations).
    * Per-table checks fold into ONE conditional-aggregate scan per
    * table; only the referential check needs a join (left-anti on the
    * customer key — broadcast when dims are small, shuffle otherwise,
    * Spark's call). The audit row count is fixed by the check list, so
    * at 100 TB this is two scans + one semi-join shape regardless of
    * data volume. */
  def qDqAudit(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val nOrders = orders.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).cast("long")
        .as("bad_price"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).cast("long")
        .as("dup_keys"))
    val nCust = cust.agg(
      count(lit(1)).as("n"),
      sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).cast("long")
        .as("null_bal"),
      sum(when(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING",
        "FURNITURE", "HOUSEHOLD", "MACHINERY"), 0L).otherwise(1L))
        .cast("long").as("bad_seg"))
    val orphans = orders.join(cust,
        orders("o_custkey") === cust("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val audit = nOrders.crossJoin(orphans).selectExpr(
      "stack(3, " +
        "'orders.o_custkey.ref_integrity', n, n_orphans, " +
        "'orders.o_totalprice.positive', n, bad_price, " +
        "'orders.o_orderkey.unique', n, dup_keys) " +
        "AS (check_name, n_rows, n_violations)")
      .unionByName(nCust.selectExpr(
        "stack(2, " +
          "'customer.c_acctbal.non_null', n, null_bal, " +
          "'customer.c_mktsegment.domain', n, bad_seg) " +
          "AS (check_name, n_rows, n_violations)"))
    orderedAll(audit)
  }

  /** Per-type daily revenue trend: exact OLS slope over (day-offset,
    * daily cent total) points. The regression runs over per-day
    * AGGREGATES (≤ span×types rows), never raw events — that keeps every
    * moment an overflow-safe BIGINT (num ≤ days²·Σcents ≈ 1e14 here; raw
    * event-grain x·y moments would overflow int64 at 200 k rows) and is
    * the realistic trend operator anyway. Slope is emitted in exact
    * basis points with the sign split out so truncation-toward-zero is
    * spelled identically in both engines (Spark `div` truncates; DuckDB
    * `//` semantics differ across versions/docs — the 1.0.0 oracle here
    * truncates, older docs say floor — so the sign split never lets a
    * negative inexact quotient reach either operator). den > 0
    * whenever a type spans ≥ 2 days. One events scan + tiny-table
    * window/agg; the 100 TB plan is the same scan with map-side
    * partial aggregation doing all the work. */
  def qTrendSlope(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("y"))
    val offs = daily
      .withColumn("x", col("day") - min("day").over(
        Window.partitionBy("event_type")))
    orderedAll(offs.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .selectExpr("event_type", "n_days",
        "n_days * sxy - sx * sy AS num",
        "n_days * sxx - sx * sx AS den")
      .selectExpr("event_type", "n_days", "num", "den",
        "CASE WHEN num >= 0 THEN (num * 10000) div den " +
          "ELSE -(((-num) * 10000) div den) END AS slope_bp"))
  }

  /** Theil–Sen robust trend slope (§2.103): per event type, the MEDIAN
    * of all pairwise daily-revenue slopes — the estimator that shrugs
    * off the outlier days that drag q_trend_slope's OLS line (up to
    * 29% contamination). The facts collapse to the DAY SPINE first
    * (the q_trend_slope aggregate), so the pair join is spine²-bounded
    * — a few thousand pairs per type for any fact count, the
    * q_kendall cells-not-rows contract. Each pair slope is the exact
    * integer (Δcents·1000) div Δdays, spelled SIGN-SPLIT in both
    * engines (the q_trend_slope policy: Spark `div` truncates toward
    * zero while DuckDB `//` may floor, so negative inexact quotients
    * are computed as -((-num) div den) on both sides to pin
    * truncation); the median is the [[DistRank.discrete]] p50 of the
    * slope histogram (aggregated input — the exemption class). */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day")
      .agg(sum("cents").cast("long").as("y"))
    val b = daily.select(col("event_type").as("t2"),
      col("day").as("day_b"), col("y").as("y_b"))
    val slopes = daily.join(b,
        col("event_type") === col("t2") && col("day") < col("day_b"))
      .select(col("event_type"),
        expr("CASE WHEN y_b >= y THEN (y_b - y) * 1000 div (day_b - day) " +
          "ELSE -((y - y_b) * 1000 div (day_b - day)) END").as("slope"))
    val h = slopes.groupBy("event_type", "slope")
      .agg(count(lit(1)).as("cnt"))
    val by = Seq("event_type")
    val med = DistRank.discrete(DistRank.cumulative(h, by, "slope", "cnt", 0),
        by, "slope", Seq(50 -> "sen_slope_milli"))
      .withColumnRenamed("tot", "n_pairs")
    val days = daily.groupBy(col("event_type").as("t4"))
      .agg(count(lit(1)).as("n_days"))
    orderedAll(med.join(broadcast(days), col("event_type") === col("t4"))
      .select("event_type", "n_days", "n_pairs", "sen_slope_milli"))
  }

  /** Weekly signup-cohort activity matrix: cohort = absolute week index
    * of each user's FIRST event, offset = activity week − cohort week,
    * cell = distinct active users — the retention heatmap every growth
    * dashboard draws. Two shuffles on user_id (first-event aggregate +
    * co-partitioned join back; Catalyst reuses the exchange), then one
    * cell aggregate whose output is bounded by weeks². */
  def qCohort(s: SparkSession, dir: String): DataFrame = {
    val evs = t(s, dir, "events")
      .withColumn("week", expr("unix_micros(ts) div 604800000000"))
    val firsts = evs.groupBy("user_id")
      .agg(min("week").as("cohort_week"))
    orderedAll(evs.join(firsts, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users")))
  }

  /** Key-skew audit over the three join keys a 100 TB deployment would
    * salt first (orders.o_custkey, lineitem.l_partkey, events.user_id):
    * row/key counts, the heaviest key's row count, and its corpus share
    * in basis points — the is-salting-needed diagnostic graded before
    * any repartition decision. Each key is one two-level aggregate
    * (per-key counts map-combine, then a 5-number rollup); the union is
    * three fixed rows. */
  def qSkewAudit(s: SparkSession, dir: String): DataFrame = {
    def keyStats(table: String, key: String): DataFrame =
      t(s, dir, table).groupBy(col(key).as("k"))
        .agg(count(lit(1)).as("per_key"))
        .agg(sum("per_key").cast("long").as("n_rows"),
          count(lit(1)).as("n_keys"),
          max("per_key").as("max_per_key"))
        .withColumn("key_name", lit(s"$table.$key"))
        .selectExpr("key_name", "n_rows", "n_keys", "max_per_key",
          "(max_per_key * 10000) div n_rows AS top1_share_bp",
          "n_rows div n_keys AS avg_per_key")
    orderedAll(keyStats("orders", "o_custkey")
      .unionByName(keyStats("lineitem", "l_partkey"))
      .unionByName(keyStats("events", "user_id")))
  }

  /** k-anonymity audit over the (c_nationkey, c_mktsegment)
    * quasi-identifier pair: every row's re-identification risk is the
    * size of its QI group, reported as the classic k-band histogram
    * (k=1 unique, 2-4, 5-9, ≥10) with row counts and shares in exact
    * basis points — the privacy risk report run before any data
    * release. Two mergeable aggregates (QI group sizes ≪ rows, then a
    * 4-row rollup); the 1-row total rides a broadcast. */
  def qKanon(s: SparkSession, dir: String): DataFrame = {
    val groups = t(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("k"))
    val banded = groups.withColumn("k_band",
      expr("CASE WHEN k = 1 THEN '1_unique' WHEN k <= 4 THEN '2_small' " +
        "WHEN k <= 9 THEN '3_medium' ELSE '4_large' END"))
      .groupBy("k_band")
      .agg(count(lit(1)).as("n_groups"), sum("k").cast("long").as("n_rows"),
        min("k").as("min_k"), max("k").as("max_k"))
    val tot = banded.agg(sum("n_rows").cast("long").as("total_rows"))
    orderedAll(banded.crossJoin(broadcast(tot))
      .selectExpr("k_band", "n_groups", "n_rows", "min_k", "max_k",
        "(n_rows * 10000) div total_rows AS share_bp"))
  }

  /** Distribution drift report: per event type, fixed 10-dollar value
    * bins compared across the pre/post halves of the window (same
    * cutoff as q_abtest) — bin counts and the pre/post share delta in
    * exact basis points, the fixed-bin PSI-style drift input a model
    * monitor consumes. Conditional aggregation over one scan (no join);
    * per-type totals ride a broadcast back onto the ≤ types×bins
    * result. Signed delta uses the sign-split div so truncation is
    * engine-identical. */
  def qDrift(s: SparkSession, dir: String): DataFrame = {
    val binned = t(s, dir, "events")
      .withColumn("pre", col("ts") < expr("TIMESTAMP '2024-01-16 00:00:00'"))
      .withColumn("bin",
        expr("CAST(round(value * 100) AS BIGINT) div 1000"))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("pre"), 1L).otherwise(0L)).cast("long").as("n_pre"),
        sum(when(col("pre"), 0L).otherwise(1L)).cast("long").as("n_post"))
    val tots = binned.groupBy("event_type")
      .agg(sum("n_pre").cast("long").as("tot_pre"),
        sum("n_post").cast("long").as("tot_post"))
    orderedAll(binned.join(broadcast(tots), "event_type")
      .selectExpr("event_type", "bin", "n_pre", "n_post",
        "(n_pre * 10000) div tot_pre AS share_pre_bp",
        "(n_post * 10000) div tot_post AS share_post_bp")
      .selectExpr("event_type", "bin", "n_pre", "n_post",
        "share_pre_bp", "share_post_bp",
        "share_post_bp - share_pre_bp AS drift_bp"))
  }

  /** Event-type precedence matrix (the funnel-order diagnostic): for
    * every ordered pair of distinct event types (a, b), the number of
    * users whose FIRST a strictly precedes their FIRST b under the
    * (first_us, type) total order — the statistic that validates (or
    * refutes) an assumed funnel sequence before anyone hard-codes it.
    * One user-keyed aggregate (≤ types rows per user), then a
    * co-partitioned self-join on user_id (≤ types² pairs per user) and a
    * types²-bounded count — nothing corpus-sized past the first
    * aggregate. */
  def qSeqPairs(s: SparkSession, dir: String): DataFrame = {
    val firsts = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(expr("unix_micros(ts)")).as("first_us"))
    val a = firsts.select(col("user_id"), col("event_type").as("type_a"),
      col("first_us").as("ua"))
    val b = firsts.select(col("user_id"), col("event_type").as("type_b"),
      col("first_us").as("ub"))
    orderedAll(a.join(b, "user_id")
      .filter(col("type_a") =!= col("type_b"))
      .filter(col("ua") < col("ub") ||
        (col("ua") === col("ub") && col("type_a") < col("type_b")))
      .groupBy("type_a", "type_b")
      .agg(countDistinct(col("user_id")).as("n_users")))
  }

  /** Clickstream path trigrams: the 20 most frequent event-type
    * 3-sequences across per-user event streams under the (ts, event_id)
    * total order — the "what do users actually do" path report. Two lags
    * over one user-keyed window (users are plentiful — the partition key
    * is high-cardinality, unlike the per-type windows), a mergeable
    * count over ≤ types³ distinct trigrams, and a TakeOrdered top-20
    * under the (count desc, trigram) total order. */
  def qPathTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    orderedAll(t(s, dir, "events")
      .withColumn("us", expr("unix_micros(ts)"))
      .select(col("user_id"), col("event_id"), col("us"), col("event_type"))
      .withColumn("t1", lag("event_type", 2).over(w))
      .withColumn("t2", lag("event_type", 1).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("event_type"))
        .as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("trigram").asc)
      .limit(20))
  }

  /** RFM segmentation (the classic customer-value grid): per customer,
    * recency in days to the corpus max order date, order frequency, and
    * cent-exact monetary total, each scored into quintiles (ntile(5)
    * under explicit tie-broken total orders), rolled up to cell counts
    * and revenue per (r, f, m) cell. The ntiles sort the CUSTOMER
    * aggregate (≪ order rows) through [[DistRank.ntile]]: bucketed at
    * scale (base pinned once by the gate, ntile by the closed-form fill
    * rule) — bit-equal, spec-forced (Round9RankSpec). freq is a count
    * and cents a sum over non-null prices, so their negated keys sort
    * ascending exactly as the (desc) orders would. Day arithmetic stays
    * in integer epoch-days — no date-diff dialect drift. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .withColumn("day", // NTZ under Verify's reader; UTC session pins it
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy("o_custkey")
      .agg(max("day").as("last_day"), count(lit(1)).as("freq"),
        sum("cents").as("cents"))
    val maxDay = per.agg(max("last_day").as("max_day"))
    val base0 = per.crossJoin(broadcast(maxDay))
      .withColumn("recency", col("max_day") - col("last_day"))
    // customer-dim rank replaces the serial sort outright → low crossover
    val (b, base) = DistRank.gate(s, base0, 1000000L, Pins.slot("rfm_auto", dir))
    val scored = Seq(col("recency") -> "r_score", -col("freq") -> "f_score",
      -col("cents") -> "m_score").foldLeft(base) { case (df, (key, out)) =>
        DistRank.ntile(df, key, col("o_custkey"), 5, b, out) }
    orderedAll(scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_cust"), sum("cents").cast("long")
        .as("total_cents")))
  }

  /** Pre/post A/B comparison per event type around a mid-window cutoff:
    * group sizes, cent-exact means, and a Welch t statistic built from
    * exact integer moments — sum(cents) and sum(cents²) are overflow-safe
    * BIGINTs at every graded scale (cents² ≤ 2.4e9 per row), and the
    * variance `(n·Σx² − (Σx)²) / (n(n−1))` is assembled in doubles cast
    * from those exact sums, so both engines compute bit-identical t. One
    * scan, one mergeable aggregate (the pre/post split is conditional
    * aggregation, not a join). */
  def qAbtest(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .withColumn("pre", col("ts") < expr("TIMESTAMP '2024-01-16 00:00:00'"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type")
      .agg(
        sum(when(col("pre"), 1L).otherwise(0L)).cast("long").as("n_pre"),
        sum(when(col("pre"), 0L).otherwise(1L)).cast("long").as("n_post"),
        sum(when(col("pre"), col("cents")).otherwise(0L)).as("sx_pre"),
        sum(when(col("pre"), lit(0L)).otherwise(col("cents"))).as("sx_post"),
        sum(when(col("pre"), col("cents") * col("cents")).otherwise(0L))
          .as("sxx_pre"),
        sum(when(col("pre"), lit(0L)).otherwise(col("cents") * col("cents")))
          .as("sxx_post"))
      .selectExpr("event_type", "n_pre", "n_post",
        "round(CAST(sx_pre AS DOUBLE) / n_pre / 100.0, 4) AS mean_pre",
        "round(CAST(sx_post AS DOUBLE) / n_post / 100.0, 4) AS mean_post",
        """round(
          |  (CAST(sx_pre AS DOUBLE) / n_pre / 100.0
          |     - CAST(sx_post AS DOUBLE) / n_post / 100.0)
          |  / sqrt(
          |      ((CAST(n_pre AS DOUBLE) * CAST(sxx_pre AS DOUBLE)
          |         - CAST(sx_pre AS DOUBLE) * CAST(sx_pre AS DOUBLE))
          |        / (CAST(n_pre AS DOUBLE) * (n_pre - 1)) / 10000.0) / n_pre
          |    + ((CAST(n_post AS DOUBLE) * CAST(sxx_post AS DOUBLE)
          |         - CAST(sx_post AS DOUBLE) * CAST(sx_post AS DOUBLE))
          |        / (CAST(n_post AS DOUBLE) * (n_post - 1)) / 10000.0)
          |      / n_post),
          |  3) AS welch_t""".stripMargin))

  /** Growth accounting (SURVEY §2.28): the canonical DAU
    * new/retained/resurrected/churned decomposition — active(d) =
    * new + retained + resurrected, and churned(d) counts users active on
    * d−1 but not d. The identity every growth dashboard is built on
    * (daily grain: the fixture's users are all weekly-active by
    * generation, so weeks would never churn; days do). Shapes: one
    * distinct (user, day) pass (map-side combinable), the per-user
    * first day as a co-keyed aggregate join, yesterday's activity as a
    * LEFT self-join on the shifted key, churn as a left-anti on the
    * same shift — all user-keyed shuffles, days²-free. Days are
    * reported only where someone is active (a trailing all-churned day
    * has no row — documented contract). */
  def qGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val uw = t(s, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS day")
      .distinct()
    val first = uw.groupBy("user_id").agg(min("day").as("fd"))
    val prev = uw.selectExpr("user_id", "day + 1 AS day")
      .withColumn("had_prev", lit(1L))
    val act = uw.join(first, "user_id")
      .join(prev, Seq("user_id", "day"), "left_outer")
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("fd"), 1L).otherwise(0L))
          .cast("long").as("n_new"),
        sum(when(col("had_prev").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_retained"),
        sum(when(col("day") =!= col("fd") && col("had_prev").isNull, 1L)
          .otherwise(0L)).cast("long").as("n_resurrected"))
    val churn = prev.select("user_id", "day")
      .join(uw, Seq("user_id", "day"), "left_anti")
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    orderedAll(act
      .join(churn, Seq("day"), "left_outer")
      .selectExpr("day", "n_active", "n_new", "n_retained",
        "n_resurrected",
        "CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned"))
  }

  /** Largest-remainder apportionment (§2.31): allocate a fixed budget of
    * 10 000 "seats" across nations proportional to exact revenue cents —
    * floor quotas first, then one seat to each of the largest
    * remainders (tie → nation name) until the budget is spent. The
    * budget-allocation primitive every planning report runs; exact
    * integer arithmetic end-to-end. Fact scan aggregates to ≤ nations
    * rows; every window runs over that aggregate. */
  def qAllocation(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "orders")
      .join(t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val all = Window.partitionBy()
    val byRem = Window.orderBy(col("rem").desc, col("n_name").asc)
    orderedAll(rev
      .withColumn("tot", sum("cents").over(all))
      .withColumn("base", expr("cents * 10000 div tot"))
      .withColumn("rem", expr("(cents * 10000) % tot"))
      .withColumn("deficit", lit(10000L) - sum("base").over(all))
      .withColumn("rk", row_number().over(byRem))
      .withColumn("extra",
        when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select(col("n_name"), col("cents"), col("base"),
        col("extra"), (col("base") + col("extra")).as("seats")))
  }

  // ---- §2.54 survey-sampling estimator audits --------------------------

  /** Horvitz–Thompson estimator audit (§2.54): per return flag, the
    * exact revenue total vs the HT estimate from the deterministic
    * 1/16 md5 sample (q_sample_det's gate; inclusion probability 1/16 →
    * estimate = 16·sample sum), with the error in basis points — the
    * calibration check that says whether sampled dashboards can be
    * trusted. One conditional-aggregate scan; all integers. */
  def qHtEstimate(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .withColumn("cents", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("inA", expr(
        "substring(md5(concat(CAST(l_orderkey AS STRING), '-', " +
          "CAST(l_linenumber AS STRING))), 1, 1) = '0'"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum("cents").as("true_cents"),
        sum(when(col("inA"), 1L).otherwise(0L)).cast("long").as("n_sample"),
        (sum(when(col("inA"), col("cents")).otherwise(0L)) * 16)
          .as("ht_cents"))
      .withColumn("err_bp",
        expr("abs(ht_cents - true_cents) * 10000 div true_cents")))

  /** Capture–recapture (Lincoln–Petersen) distinct-count estimate
    * (§2.54): per event type, the user count estimated from two
    * independent deterministic samples (md5 gates with different
    * salts): N̂ = n1·n2 div m vs the true distinct count, error bp —
    * the sketch-free cardinality estimation audit (the same protocol
    * ecology uses on fish). Per-(type, user) membership flags are one
    * mergeable aggregate; the estimate is arithmetic on ≤|types| rows.
    * m = 0 (disjoint samples) yields NULL in both engines. */
  def qCaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    def gate(salt: String) = expr(
      s"substring(md5(concat(CAST(user_id AS STRING), ':$salt')), 1, 1) " +
        "IN ('0', '1', '2', '3')")
    orderedAll(t(s, dir, "events")
      .groupBy("event_type", "user_id")
      .agg(max(gate("cra")).as("in_a"), max(gate("crb")).as("in_b"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("true_users"),
        sum(when(col("in_a"), 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("in_b"), 1L).otherwise(0L)).cast("long").as("n2"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L))
          .cast("long").as("m"))
      .withColumn("est_users", expr(
        "CASE WHEN m = 0 THEN NULL ELSE n1 * n2 div m END"))
      .withColumn("err_bp", expr(
        "abs(est_users - true_users) * 10000 div true_users")))
  }

  /** Categorical mutual information (§2.56): MI(event_type; UTC hour)
    * in micro-nats — Σ n_xy·lr_u div N with lr_u the ×10⁶-quantized
    * ln(n_xy·N / (n_x·n_y)) per contingency cell — the dependence
    * readout q_cramers_v's χ² normalization can't rank (MI is in
    * interpretable nats and decomposes per cell). Margins join back on
    * the cell keys — the q_cooccur_pmi partitioning; the contingency
    * is ≤ |types|·24 rows after one mergeable aggregate, so every join
    * below the first groupBy is broadcast-sized. Also emits the
    * ×10⁶-quantized H(type) so MI/H normalization is a reader-side
    * division. */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    // r17 optimization (guide §2.4 share one evaluation): the margins
    // n_x / n_y / N are exact sums over the ≤|types|·24-row contingency
    // cell — lazy, mx/my/tot each re-ran the events scan+aggregate (4
    // evaluations, 449 plan lines). Window sums over the cell replace
    // the margin joins, and the H(type) pass folds into the SAME final
    // aggregate by charging each x's entropy term to its first cell row
    // (rn = 1) — one events pass total. The global window is
    // contingency-sized (the dictionary-window idiom), never fact-scale.
    val cell = t(s, dir, "events")
      .select(col("event_type").as("x"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
    val terms = cell
      .withColumn("n_x", sum("n_xy").over(Window.partitionBy("x")))
      .withColumn("n_y", sum("n_xy").over(Window.partitionBy("y")))
      .withColumn("nn", sum("n_xy").over(Window.partitionBy()).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("x").orderBy("y")))
      .withColumn("lr_u", expr(
        "CAST(round(ln(CAST(n_xy * nn AS DOUBLE) / " +
          "CAST(n_x * n_y AS DOUBLE)) * 1000000) AS BIGINT)"))
    // wsum ≥ −0.5·N (±0.5 round error per cell, weights summing to N):
    // the +1 offset keeps the dividend positive so truncating (Spark
    // div) and flooring (DuckDB //) division agree near MI = 0.
    orderedAll(terms.agg(
      count(lit(1)).as("n_cells"),
      max(col("nn")).as("n"),
      sum(expr("n_xy * lr_u")).as("wsum"),
      sum(when(col("rn") === 1, expr(
        "n_x * CAST(round(ln(CAST(nn AS DOUBLE) / n_x) * 1000000) " +
          "AS BIGINT)"))).as("hsum"))
      .withColumn("mi_u", expr("(wsum + n) div n - 1"))
      .withColumn("h_type_u", expr("hsum div n"))
      .select("n_cells", "n", "mi_u", "h_type_u"))
  }
}
