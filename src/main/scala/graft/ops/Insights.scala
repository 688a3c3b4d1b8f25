package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 §2.27 extensions: storage-layer and BI/audit staples — zone
  * maps (the data-skipping index), a cosine-similarity histogram over a
  * bounded probe set, deterministic k-fold assignment, Wilson-bound
  * conversion rates, Pareto 80/20 concentration, a Benford leading-digit
  * audit, and day-of-week seasonality indices. All DuckDB-oracled.
  * Float policy: exact integers everywhere except the Wilson bound and
  * cosine values, which are fixed IEEE sequences over exact inputs (the
  * q_abtest epilogue recipe) or bit-identical vector folds (§2.12). */
object Insights {

  /** Zone-map construction (the min/max block index every data-skipping
    * reader consults): per 256-key block of orders, row count and
    * min/max of the date and value columns. The block key derives from
    * the sort key, so partial aggregation collapses each input split to
    * its few resident blocks map-side — at 100 TB this is a pure
    * scan+combine with a blocks-sized shuffle, the same shape the
    * z-order writer (q_zorder) pairs with. Day/cent math in exact
    * integers. */
  def qZoneMap(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .selectExpr("o_orderkey div 256 AS block",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS day",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .groupBy("block")
      .agg(count(lit(1)).as("n_rows"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents")))

  /** Cosine-similarity histogram over a bounded probe set (vec_id < 200,
    * unordered pairs): the distribution diagnostic run before choosing a
    * near-dup threshold or an ANN index. The probe set is fixed-size by
    * construction, so the pair space is constant (≤ 19,900) regardless
    * of corpus scale — the realistic "sample then profile" pattern; the
    * full-corpus variant is the q_dedup_embedding LSH path. Cosines are
    * bit-identical across engines (§2.12 sequential fold), so the
    * floor-binning cannot flap. */
  def qSimHistogram(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 200)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    orderedAll(a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("cos", Vectors.cosine(col("ea"), col("eb")))
      .groupBy(expr("CAST(floor(cos * 10) AS BIGINT)").as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        // + 0.0 normalizes IEEE signed zero: Spark's round() yields +0.0
        // where DuckDB's yields -0.0, and the exact-compare hash differs.
        (round(min(col("cos")), 4) + lit(0.0)).as("min_cos"),
        (round(max(col("cos")), 4) + lit(0.0)).as("max_cos")))
  }

  /** Deterministic k-fold cross-validation assignment: every customer
    * lands in fold md5₂₄(custkey) % 5 (the engine-portable hash recipe,
    * SURVEY §2.14 — reproducible across engines and runs, the property a
    * training pipeline needs from its splitter), audited per fold with
    * customer count, order count, cent-exact revenue, and revenue share
    * in basis points — the balance check that validates the split. Fact
    * rows join the fold label on custkey (shuffle equi-join); the total
    * is a 1-row broadcast. */
  def qCvFolds(s: SparkSession, dir: String): DataFrame = {
    val folds = t(s, dir, "customer").selectExpr("c_custkey",
      "CAST(conv(substring(md5(concat(CAST(c_custkey AS STRING), ':cv')), " +
        "1, 6), 16, 10) AS BIGINT) % 5 AS fold")
    val o = t(s, dir, "orders").selectExpr("o_custkey",
      "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
    val per = o.join(folds, col("o_custkey") === col("c_custkey"))
      .groupBy("fold")
      .agg(countDistinct(col("c_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    val tot = per.agg(sum(col("sum_cents")).as("total_cents"))
    orderedAll(per.crossJoin(broadcast(tot))
      .selectExpr("fold", "n_cust", "n_orders", "sum_cents",
        "(sum_cents * 10000) div total_cents AS share_bp"))
  }

  /** Conversion rate with a Wilson lower bound per event type (conversion
    * = value above 200): the ranking statistic that does not reward tiny
    * samples (the reason leaderboards use Wilson, not raw rate). n and k
    * are exact; the bound is ONE fixed sequence of IEEE double ops
    * (z = 1.96 literal) spelled identically in both engines over those
    * exact integers — correctly-rounded step by step, so the rounded
    * output cannot flap. One conditional-aggregate scan. */
  def qCtrWilson(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .selectExpr("event_type",
        "CASE WHEN value > 200.0 THEN 1 ELSE 0 END AS conv")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("conv")).cast("long").as("k"))
      .selectExpr("event_type", "n", "k",
        "(k * 10000) div n AS ctr_bp",
        """round(
          |  (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
          |     + 3.8416 / (2.0 * CAST(n AS DOUBLE))
          |     - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
          |         * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
          |         + 3.8416 / (4.0 * CAST(n AS DOUBLE)))
          |       / CAST(n AS DOUBLE)))
          |  / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 4) AS wilson_lo""".stripMargin))

  /** Pareto 80/20 concentration per nation: how many customers (ranked
    * by spend) carry the first 80% of revenue, and the exact share they
    * carry — the revenue-concentration report behind every "top accounts"
    * decision. A customer is in the top set iff the cumulative spend
    * BEFORE them is under 80% of the nation total (5·cum < 4·total in
    * exact cents — no FP). One shuffle: the rank window, the cumulative
    * window, and the nation aggregate all share the nationkey-derived
    * partitioning; the nation-name dim is a broadcast. */
  def qPareto(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .selectExpr("o_custkey", "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey", "c_custkey")
      .agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("cents").desc, col("c_custkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = per
      .withColumn("cum_before", coalesce(sum(col("cents")).over(w), lit(0L)))
      .withColumn("total",
        sum(col("cents")).over(Window.partitionBy("c_nationkey")))
      .withColumn("in_top", col("cum_before") * 5 < col("total") * 4)
    orderedAll(marked.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        max(col("total")).as("total_cents"),
        sum(when(col("in_top"), 1L).otherwise(0L)).cast("long").as("n_top"),
        sum(when(col("in_top"), col("cents")).otherwise(0L)).as("top_cents"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .selectExpr("n_name", "n_cust", "total_cents", "n_top",
        "(top_cents * 10000) div total_cents AS top_share_bp"))
  }

  /** Benford leading-digit audit of order values per order status — the
    * classic fabricated-data screen (organic money amounts follow
    * log-uniform leading digits; manufactured ones don't). The digit is
    * the first character of the exact cent integer; shares in exact
    * basis points against per-status totals from a window over the
    * ≤ statuses×9 aggregate. Pure scan + mergeable agg. */
  def qBenford(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .selectExpr("o_orderstatus AS status",
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) " +
          "AS STRING), 1, 1) AS BIGINT) AS digit")
      .groupBy("status", "digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("status_n",
        sum(col("n")).over(Window.partitionBy("status")))
      .selectExpr("status", "digit", "n",
        "(n * 10000) div status_n AS share_bp"))

  /** Share-of-parent hierarchy rollup (SURVEY §2.29) — the drill-down
    * report every BI tool renders: revenue per (region, nation) with the
    * nation's share of its region and the region's share of the total,
    * in exact basis points. Both marginals come from windows over the
    * ≤ nations-sized AGGREGATE; the fact side is one keyed join chain
    * with broadcast dims, cent-exact end to end. */
  def qShareOfParent(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .selectExpr("o_custkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")
        .select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("cents")).as("cents"))
    orderedAll(per
      .withColumn("region_cents",
        sum(col("cents")).over(Window.partitionBy("region")))
      .withColumn("total_cents",
        sum(col("cents")).over(Window.partitionBy()))
      .selectExpr("region", "nation", "cents",
        "(cents * 10000) div region_cents AS nation_share_bp",
        "(region_cents * 10000) div total_cents AS region_share_bp"))
  }

  /** Trailing-7-row rolling min/max of per-type daily revenue (SURVEY
    * §2.29) — the envelope a monitoring dashboard draws around the
    * series (rolling extrema are the Bollinger-band primitive). Exact
    * integers over a bounded frame; the window input is the DAILY
    * aggregate, never raw events. At extreme scale the monotonic-deque
    * trick computes the same extrema in O(1) amortized per row — the
    * bounded frame here makes Spark's O(frame) evaluation a constant. */
  def qMovingExtrema(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .selectExpr("event_type", "unix_micros(ts) div 86400000000 AS day",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .groupBy("event_type", "day")
      .agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, 0)
    orderedAll(daily
      .withColumn("roll_min", min(col("cents")).over(w))
      .withColumn("roll_max", max(col("cents")).over(w))
      .select(col("event_type"), col("day"), col("cents"),
        col("roll_min"), col("roll_max")))
  }

  /** Week-over-week revenue change per event type (SURVEY §2.29): the
    * period-over-period delta every growth report leads with. The delta
    * is SIGNED, so the percent change spells truncation-toward-zero
    * explicitly in both engines (Spark `div` truncates; DuckDB `//`
    * negative-operand semantics are version-dependent — 1.0.0
    * truncates, older docs say floor; the CASE splits the
    * sign so every div sees non-negative operands). First week of each
    * type has no prior — NULL delta columns, the honest contract. */
  def qPercentChange(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "events")
      .selectExpr("event_type",
        "unix_micros(ts) div 604800000000 AS week",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .groupBy("event_type", "week")
      .agg(sum(col("cents")).as("cents"))
    orderedAll(weekly
      .withColumn("prev_cents", lag(col("cents"), 1).over(
        Window.partitionBy("event_type").orderBy("week")))
      .selectExpr("event_type", "week", "cents", "prev_cents",
        "cents - prev_cents AS delta_cents",
        """CASE WHEN prev_cents IS NULL THEN NULL
          |     WHEN cents >= prev_cents
          |       THEN ((cents - prev_cents) * 10000) div prev_cents
          |     ELSE -(((prev_cents - cents) * 10000) div prev_cents)
          |END AS delta_bp""".stripMargin))
  }

  /** Day-of-week seasonality index per event type: each weekday's mean
    * daily revenue relative to the type's overall mean, in exact basis
    * points — the profile a capacity planner or anomaly detector
    * baselines against (10000 = an average day). dow 0 = Monday via
    * integer epoch-day arithmetic ((day + 3) % 7 — day 0 was a
    * Thursday); the index cross-multiplies counts so no division happens
    * before the final exact-integer div. Two bounded aggregates over the
    * daily rollup. */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .selectExpr("event_type", "unix_micros(ts) div 86400000000 AS day",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .groupBy("event_type", "day")
      .agg(sum(col("cents")).as("cents"))
      .withColumn("dow", expr("(day + 3) % 7"))
    val dow = daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("dow_cents"))
    val tot = daily.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("tot_days"), sum(col("cents")).as("tot_cents"))
    orderedAll(dow
      .join(broadcast(tot), col("event_type") === col("et"))
      .selectExpr("event_type", "dow", "n_days", "dow_cents",
        "(dow_cents * tot_days * 10000) div (tot_cents * n_days) AS idx_bp"))
  }

  /** Theil-T inequality decomposition (§2.38) of customer spend across
    * nations: per nation, the within-nation Theil term Σ(xᵢ/X_g)ln(xᵢ/μ_g)
    * and the between-nations term (X_g/X)ln(μ_g/μ), both in exact ×10⁶
    * units — unlike Gini (q_gini), Theil decomposes additively, which is
    * what lets a 100 TB audit attribute inequality to segments without a
    * global sort. Each customer's ln rounds to a BIGINT term BEFORE the
    * weighted sum (zipf/dsir policy); the weights fold in as exact
    * integer products divided once per group, so aggregate order never
    * touches a float. Shapes: one fact aggregate to customer spend,
    * nation-keyed merges, 1-row global broadcast. */
  def qTheilIndex(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_nationkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("x"))
    val nat = spend.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"), sum("x").as("xg"))
    val glob = nat.agg(sum("n_cust").as("n"), sum("xg").as("xt"))
    val within = spend.join(broadcast(nat), "c_nationkey")
      // ln(x_i/μ_g) = ln(x_i · n_g / X_g), quantized per customer
      .withColumn("term_u", expr(
        "CAST(round(ln(CAST(x AS DOUBLE) * n_cust / xg) * 1000000) " +
          "AS BIGINT)"))
      .groupBy(col("c_nationkey"), col("n_cust"), col("xg"))
      .agg(sum(expr("x * term_u")).as("wsum"))
      .withColumn("within_u", expr("wsum div xg"))
    orderedAll(within.crossJoin(broadcast(glob))
      .withColumn("between_u", expr(
        "xg * CAST(round(ln(CAST(xg AS DOUBLE) * n / (CAST(xt AS DOUBLE)" +
          " * n_cust)) * 1000000) AS BIGINT) div xt"))
      .select(col("c_nationkey"), col("n_cust"), col("xg").as("spend_c"),
        col("within_u"), col("between_u")))
  }

  /** Log-log price-elasticity OLS (§2.38): per part brand, the slope of
    * ln(quantity) on ln(unit price) over its lineitems — the classic
    * demand-curve readout. Both logs quantize to ×10³ BIGINTs per row
    * (10⁻³ log-units; the coarser grid keeps every OLS moment inside
    * exact int64 at 100 TB group sizes — n·Σxy stays < 2⁶³ up to ~10⁸
    * rows/brand, documented bound), the five moments are one mergeable
    * aggregate, and the slope is a single integer division emitted in
    * milli-units. */
  /** Seasonal-naive forecast backtest (§2.39): forecast(day) =
    * actual(day − 7) on the per-type daily cents series, scored as exact
    * integer MAE and bias over the days where both sides exist — the
    * one-query answer to "is this metric predictable enough to alert
    * on", and the baseline every fancier forecaster must beat. The
    * calendar self-join (not lag-by-rows) keeps gap days honest. Scale
    * shape: the corpus collapses to (type, day) cents in one mergeable
    * aggregate; the 7-day self-join and scoring run on the bounded daily
    * table. */
  def qForecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("CAST(unix_micros(ts) AS BIGINT) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val fc = daily.select(col("event_type"),
      (col("day") + 7).as("day"), col("cents").as("fc"))
    orderedAll(daily.join(fc, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("cents") - col("fc"))).as("sum_abs"),
        sum(col("cents") - col("fc")).as("sum_err"))
      .withColumn("mae_c", expr("sum_abs div n_days"))
      .withColumn("bias_c", expr("sum_err div n_days"))
      .select("event_type", "n_days", "mae_c", "bias_c"))
  }

  def qPriceElasticity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        expr("CAST(round(ln(l_quantity) * 1000) AS BIGINT)").as("y"),
        expr("CAST(round(ln(l_extendedprice / l_quantity) * 1000) " +
          "AS BIGINT)").as("x"))
    orderedAll(li.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .withColumn("slope_milli", expr(
        "(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)"))
      .select("p_brand", "n", "slope_milli"))
  }

  // ---- §2.43 time-series diagnostics -----------------------------------

  /** Shared §2.43 per-(type, day) daily series in whole DOLLARS
    * (cents div 100 on the daily sum — one truncation point, declared),
    * with the 1-based day index per type. Dollars (not cents) keep every
    * downstream ×10³ square inside int64 (headroom documented per
    * query). */
  private def dailyDollars(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .selectExpr("event_type", "unix_micros(ts) div 86400000000 AS day",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .groupBy("event_type", "day")
      .agg(expr("sum(cents) div 100").as("v"))
      .withColumn("idx", row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast("long"))

  /** Single change-point detection per type (§2.43): the day maximizing
    * the exact CUSUM deviation |n·cum_d − idx_d·tot| over the daily
    * dollar series — the scaled statistic S_d·n (no division, so the
    * argmax is bit-exact), with ties broken to the earliest day. The
    * classic "when did the level shift" readout behind every metric
    * alert. Daily collapse is mergeable; the cumulative and argmax
    * windows run over the ≤|days| per-type table, never raw events.
    * Int64: n·cum needs days·Σ|v| < 2⁶³ — safe to ~10¹⁴ daily dollars. */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyDollars(s, dir)
    val wc = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"), sum("v").as("tot"))
    val scored = daily
      .withColumn("cum", sum("v").over(wc))
      .join(broadcast(tot), col("event_type") === col("et"))
      .withColumn("s_n", expr("n * cum - idx * tot"))
    val wr = Window.partitionBy("event_type")
      .orderBy(abs(col("s_n")).desc, col("day").asc)
    orderedAll(scored
      .withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        abs(col("s_n")).as("s_abs"),
        signum(col("s_n")).cast("long").as("direction")))
  }

  /** Maximum drawdown per type (§2.43): the largest peak-to-trough drop
    * of the cumulative daily dollar series (running max minus running
    * value), with the trough day (earliest on ties) — the worst-case
    * "how far below the high-water mark did this metric fall" number.
    * Two prefix windows + one argmax window over the per-type daily
    * table; all exact integers. */
  def qDrawdown(s: SparkSession, dir: String): DataFrame = {
    val wc = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = dailyDollars(s, dir)
      .withColumn("cum", sum("v").over(wc))
      .withColumn("peak", max("cum").over(wc))
      .withColumn("dd", col("peak") - col("cum"))
    val wr = Window.partitionBy("event_type")
      .orderBy(col("dd").desc, col("day").asc)
    orderedAll(dd
      .withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("trough_day"),
        col("peak"), col("dd").as("max_dd")))
  }

  /** 7-day rolling OLS beta (§2.53): per day, the trailing-7-row OLS
    * slope of purchase daily kilo-dollars on view daily kilo-dollars —
    * the rolling co-movement readout (is purchase volume still tracking
    * traffic?). Slope (not Pearson r) keeps every intermediate in int64
    * without squaring the covariance numerator: beta_milli =
    * (n·Σxy − ΣxΣy)·10³ div (n·Σxx − Σx²), kilo-dollar quantization
    * declared (headroom to ~4·10⁶ k$/day). Rolling moments are four
    * sums over one ROWS -6..0 window on the ≤|days| grid; degenerate
    * windows (zero x-variance) yield NULL in both engines. */
  def qRollingBeta(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(
        expr("sum(CASE WHEN event_type = 'purchase' THEN " +
          "CAST(round(value * 100) AS BIGINT) ELSE 0 END) div 100000")
          .as("x2"),
        expr("sum(CASE WHEN event_type = 'view' THEN " +
          "CAST(round(value * 100) AS BIGINT) ELSE 0 END) div 100000")
          .as("x1"))
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    orderedAll(daily
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sx", sum("x1").over(w))
      .withColumn("sy", sum("x2").over(w))
      .withColumn("sxx", sum(expr("x1 * x1")).over(w))
      .withColumn("sxy", sum(expr("x1 * x2")).over(w))
      .withColumn("beta_milli", expr(
        "CASE WHEN nw * sxx - sx * sx = 0 THEN NULL " +
          "ELSE (nw * sxy - sx * sy) * 1000 div (nw * sxx - sx * sx) END"))
      .select("day", "nw", "beta_milli"))
  }

  /** Log₂-scaled value histogram (§2.53): per type, events bucketed by
    * the bit length of their cents (MSB position via length(bin(·)) —
    * the exact integer ⌊log₂⌋+1, the q_dict_audit device), with count
    * and exact bin bounds — the heavy-tail profile a linear histogram
    * (q_histogram) compresses into one bucket. One scan, one mergeable
    * aggregate, ≤64 bins per type. */
  def qLogHistogram(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .filter(col("cents") > 0)
      .withColumn("nbits", expr("length(bin(cents))").cast("long"))
      .groupBy("event_type", "nbits")
      .agg(count(lit(1)).as("n"), min("cents").as("lo"),
        max("cents").as("hi")))

  /** Peak-hour profile (§2.53): each type's busiest UTC hour-of-day
    * with its event count and share in basis points — the
    * capacity-planning readout (when to schedule compaction, when
    * traffic peaks). (hour extraction is pure integer arithmetic on
    * epoch micros, no timezone dialect.) Hour counts are one mergeable
    * aggregate; the argmax is a rank window over ≤24 rows per type. */
  def qPeakHour(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hour"))
      .agg(count(lit(1)).as("n"))
    val tot = hourly.groupBy(col("event_type").as("e2"))
      .agg(sum("n").as("tot"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("hour").asc)
    orderedAll(hourly
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(tot), col("event_type") === col("e2"))
      .withColumn("share_bp", expr("n * 10000 div tot"))
      .select(col("event_type"), col("hour").as("peak_hour"),
        col("n").as("n_peak"), col("share_bp")))
  }

  /** Quantile–quantile decile grid (§2.51): for each non-view type vs
    * the 'view' baseline, the discrete decile values of cents
    * (d = 10..90) side by side with the per-decile gap — the
    * distribution-comparison table behind q_ks_test's single number
    * (WHERE the distributions diverge, not just whether). Histogram-
    * first: [[DistRank.cumulative]] runs over (type, cents) rows; the
    * decile picks are min-cents over a broadcast 9-row grid, all
    * integer decision rules. */
  def qQqDeciles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
    val grid = (1 to 9).map(_ * 10L).toDF("d")
    val q = DistRank.cumulative(h, Seq("event_type"), "cents", "cnt", 0)
      .crossJoin(broadcast(grid))
      .filter(col("cum") * 100 >= col("tot") * col("d"))
      .groupBy("event_type", "d")
      .agg(min("cents").as("q"))
    orderedAll(q.filter(col("event_type") =!= "view")
      .select(col("event_type").as("tt"), col("d"), col("q").as("q_t"))
      .join(q.filter(col("event_type") === "view")
        .select(col("d"), col("q").as("q_v")), "d")
      .withColumn("gap_c", col("q_t") - col("q_v"))
      .select("tt", "d", "q_t", "q_v", "gap_c"))
  }

  /** ABC inventory classification (§2.51): parts ranked by exact ×10⁴
    * revenue units; class A covers the first 80% of cumulative revenue,
    * B the next 15%, C the tail — assigned on the cumulative share
    * BEFORE each part (the q_pareto carry rule, exact integer tests
    * 5·cum < 4·tot and 20·cum < 19·tot). Emits per class: parts,
    * revenue units, and share bp — the stocking-policy report. The
    * rank/cumulative windows run over the PART-level aggregate
    * (≪ lineitem); the fact table is scanned once. The global-order
    * running sum is [[DistRank.prefixSum]] (bucketed at scale: bucket
    * offsets + partitioned within-bucket sums) — bit-equal by integer
    * associativity, spec-forced (Round9RankSpec). rev10k is a sum over
    * non-null prices, so (-rev10k) asc is the (rev10k desc) order. */
  def qAbcClass(s: SparkSession, dir: String): DataFrame = {
    val rev0 = t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "CAST(round((1 - l_discount) * 100) AS BIGINT)")).as("rev10k"))
    // part-dim prefix sum replaces the serial sort → low crossover
    val (b, rev) = DistRank.gate(s, rev0, 1000000L, Pins.slot("abc_auto", dir))
    val tot = rev.agg(sum("rev10k").as("tot"))
    val cum = DistRank.prefixSum(rev, Nil, -col("rev10k"), col("l_partkey"),
      col("rev10k"), b, "cum_before")
    orderedAll(cum
      .crossJoin(broadcast(tot))
      .withColumn("cls", expr(
        "CASE WHEN cum_before * 5 < tot * 4 THEN 'A' " +
          "WHEN cum_before * 20 < tot * 19 THEN 'B' ELSE 'C' END"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"),
        sum("rev10k").cast("long").as("rev_10k"))
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("rev_10k * 10000 div tot"))
      .select("cls", "n_parts", "rev_10k", "share_bp"))
  }

  /** Price–volume–mix revenue bridge (§2.51): per brand, the 1996→1997
    * revenue delta decomposed into volume effect (Δq·p̄₁), price effect
    * (Δp̄·q₂), and the truncation residual — the classic BI bridge that
    * says WHY revenue moved. Average prices are exact integer divisions
    * of ×10⁴ revenue units by quantity (truncation declared; the
    * residual row makes the decomposition identity exact by
    * construction). One scan → per-(brand, year) aggregate → 25-row
    * pivot arithmetic. */
  def qPriceVolumeMix(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("yr", year(col("l_shipdate")))
      .filter(col("yr").isin(1996, 1997))
      .groupBy("p_brand", "yr")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "CAST(round((1 - l_discount) * 100) AS BIGINT)")).as("rev10k"),
        sum(col("l_quantity").cast("long")).as("qty"))
    val y1 = li.filter(col("yr") === 1996)
      .select(col("p_brand"), col("rev10k").as("rev1"), col("qty").as("q1"))
    val y2 = li.filter(col("yr") === 1997)
      .select(col("p_brand"), col("rev10k").as("rev2"), col("qty").as("q2"))
    orderedAll(y1.join(y2, "p_brand")
      .withColumn("p1", expr("rev1 div q1"))
      .withColumn("p2", expr("rev2 div q2"))
      .withColumn("vol_eff", expr("(q2 - q1) * p1"))
      .withColumn("price_eff", expr("(p2 - p1) * q2"))
      .withColumn("resid", expr("rev2 - rev1 - vol_eff - price_eff"))
      .select("p_brand", "rev1", "rev2", "vol_eff", "price_eff",
        "resid"))
  }

  /** Seasonal-strength score per type (§2.43): the share of daily
    * variance explained by day-of-week, ss_bp = SSB·10⁴ div SST over
    * ×10³-quantized deviations from the global daily mean — the single
    * number that says whether q_seasonality's indices are load-bearing
    * (ss → 1) or noise (ss → 0). Deviations quantize per day
    * (v·10³ − mean_milli with mean_milli = tot·10³ div n — one declared
    * truncation), so SSB/SST are exact BIGINT sums; the dow grouping is
    * over the collapsed daily table. Int64: (daily dollars·10³)² bounds
    * daily volume < ~3·10⁶ dollars/day at ×10³ — drop to ×10² past
    * that (documented). */
  def qSeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyDollars(s, dir).withColumn("dow", expr("(day + 3) % 7"))
    val tot = daily.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"), sum("v").as("tot"))
    val dev = daily.join(broadcast(tot), col("event_type") === col("et"))
      .withColumn("mean_milli", expr("tot * 1000 div n"))
      .withColumn("d", expr("v * 1000 - mean_milli"))
    val sst = dev.groupBy("event_type")
      .agg(sum(expr("d * d")).as("sst"), max("n").as("n_days"))
    orderedAll(sst.join(
      dev.groupBy(col("event_type").as("e2"), col("dow"))
        .agg(count(lit(1)).as("m_w"), sum("v").as("s_w"),
          max("mean_milli").as("mmw"))
        .withColumn("wdev", expr("s_w * 1000 div m_w - mmw"))
        .groupBy("e2").agg(sum(expr("m_w * wdev * wdev")).as("ssb")),
      col("event_type") === col("e2"))
      .withColumn("ss_bp", expr("ssb * 10000 div sst"))
      .select("event_type", "n_days", "ssb", "sst", "ss_bp"))
  }

  /** Top-3 / bottom-3 suppliers per nation by lineitem revenue (§2.95):
    * the two-ended leaderboard every ops review opens with, in ONE pass —
    * both rank windows share the nation partitioning (one shuffle, two
    * sorts), revenue is exact cents. `side` tags which leaderboard a row
    * belongs to; ties break to the smaller suppkey on both ends. A
    * supplier can appear on both ends when a nation has ≤ 6 suppliers —
    * the honest small-group semantics (mirrors the oracle). */
  def qTopBottom(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
      .join(broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("n_name").as("nation"), col("l_suppkey").as("suppkey"),
        col("cents"))
    val wTop = Window.partitionBy("nation")
      .orderBy(col("cents").desc, col("suppkey").asc)
    val wBot = Window.partitionBy("nation")
      .orderBy(col("cents").asc, col("suppkey").asc)
    val ranked = rev
      .withColumn("rk_top", row_number().over(wTop).cast("long"))
      .withColumn("rk_bot", row_number().over(wBot).cast("long"))
    orderedAll(ranked.filter(col("rk_top") <= 3)
      .select(col("nation"), lit("top").as("side"),
        col("rk_top").as("rk"), col("suppkey"), col("cents"))
      .unionAll(ranked.filter(col("rk_bot") <= 3)
        .select(col("nation"), lit("bottom").as("side"),
          col("rk_bot").as("rk"), col("suppkey"), col("cents"))))
  }

  /** Monthly rank movers (§2.97): nations whose revenue RANK moved by
    * ≥ 3 places against the previous observed month — the "biggest
    * movers" box of every BI leaderboard, where the rank delta (an
    * order statistic) matters more than the revenue delta. Rank is
    * per-month over exact cents (ties → nation name asc, so the rank
    * itself is deterministic); the previous rank is an
    * observation-to-observation lag per nation (months with no orders
    * for a nation are skipped, the q_ma_cross convention). Facts
    * collapse to (month, nation) — ≤ 25 rows per month — before any
    * window. */
  def qRankMovers(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(expr("CAST((year(o_orderdate) - 1990) * 12" +
        " + month(o_orderdate) - 1 AS BIGINT)").as("month_idx"),
        col("n_name"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val wRank = Window.partitionBy("month_idx")
      .orderBy(col("cents").desc, col("n_name").asc)
    val wLag = Window.partitionBy("n_name").orderBy("month_idx")
    orderedAll(rev
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("prev_rk", lag("rk", 1).over(wLag))
      .filter(col("prev_rk").isNotNull &&
        abs(col("rk") - col("prev_rk")) >= 3)
      .withColumn("delta", col("prev_rk") - col("rk"))
      .select("month_idx", "n_name", "rk", "prev_rk", "delta"))
  }
}
