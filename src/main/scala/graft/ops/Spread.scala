package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 distribution-shape diagnostics (SURVEY §2.59): one-way
  * ANOVA across sources (does source explain doc length at all?),
  * Tukey-fence outlier accounting per event type (the box-plot rule,
  * robust where q_events_anomaly's z-score is not), and Bowley quartile
  * skewness (the robust asymmetry number a mean/stddev pair hides).
  * The quartiles come from [[DistRank.discrete]] over value histograms;
  * ANOVA's sums of squares are floor-quantized ×10⁶ integers so the
  * only double op is the final F ratio. */
object Spread {

  /** One-way ANOVA (§2.59): F-statistic for n_chars across sources.
    * Per-group (n, Σx, Σx²) are one mergeable aggregate; the
    * between/within sums of squares are assembled in exact BIGINT
    * micro-units (each s_g² rides DECIMAL(38,0) before its ×10⁶ floor
    * division by n_g, error ≤ 1 µ-unit per group, identical in both
    * engines), and the F ratio is ONE double division at the end,
    * emitted in milli. */
  def qAnova(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_g"),
        sum("n_chars").cast("long").as("s_g"),
        sum(expr("n_chars * n_chars")).cast("long").as("q_g"))
    orderedAll(g.agg(
      count(lit(1)).as("k"),
      sum("n_g").cast("long").as("n"),
      sum("s_g").cast("long").as("s"),
      sum("q_g").cast("long").as("q"),
      sum(expr(
        "(CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) div n_g"))
        .cast("long").as("a_u"))
      .withColumn("ssb_u", expr(
        "a_u - CAST((CAST(s AS DECIMAL(38,0)) * s * 1000000) div n " +
          "AS BIGINT)"))
      .withColumn("ssw_u", expr("q * 1000000 - a_u"))
      .withColumn("f_milli", expr(
        "CASE WHEN ssw_u = 0 OR k <= 1 THEN NULL " +
          "ELSE CAST(round(CAST(ssb_u AS DOUBLE) * (n - k) * 1000 / " +
          "(CAST(ssw_u AS DOUBLE) * (k - 1))) AS BIGINT) END"))
      .select("k", "n", "ssb_u", "ssw_u", "f_milli"))
  }

  /** Tukey-fence outlier accounting (§2.59): per event type, discrete
    * Q1/Q3 of value cents, the 1.5·IQR fences in exact integer halves,
    * and the row counts outside each fence — the box-plot outlier rule
    * (robust to the heavy tail that inflates a z-score cut). Histogram
    * + cum window per type; the fence row set is ≤|types| and joins
    * back broadcast onto the histogram, never the facts. */
  def qTukeyFences(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .groupBy(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = DistRank.cumulative(h, Seq("grp"), "v", "cnt", 0)
    val fences = DistRank.discrete(cum, Seq("grp"), "v",
        Seq(25 -> "q1", 75 -> "q3")).drop("tot")
      .withColumn("lo", expr("q1 - (3 * (q3 - q1)) div 2"))
      .withColumn("hi", expr("q3 + (3 * (q3 - q1)) div 2"))
    orderedAll(cum.join(broadcast(fences), "grp")
      .groupBy("grp", "q1", "q3", "lo", "hi")
      .agg(max("tot").as("n"),
        sum(when(col("v") < col("lo"), col("cnt")).otherwise(0L))
          .cast("long").as("n_out_lo"),
        sum(when(col("v") > col("hi"), col("cnt")).otherwise(0L))
          .cast("long").as("n_out_hi"))
      .select(col("grp").as("event_type"), col("n"), col("q1"),
        col("q3"), col("lo"), col("hi"), col("n_out_lo"),
        col("n_out_hi")))
  }

  /** Bowley quartile skewness (§2.59): per source,
    * (Q1 + Q3 − 2·Q2) / (Q3 − Q1) over discrete n_chars quartiles, in
    * milli with the sign-safe +1001·den dividend offset (Bowley ∈
    * [−1, 1]); a degenerate IQR yields NULL in both engines. Same
    * histogram machinery as q_tukey_fences on the curation axis. */
  def qBowleySkew(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "documents")
      .groupBy(col("source").as("grp"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    orderedAll(DistRank.discrete(DistRank.cumulative(h, Seq("grp"), "v",
        "cnt", 0), Seq("grp"), "v", Seq(25 -> "q1", 50 -> "q2", 75 -> "q3"))
      .withColumn("bowley_milli", expr(
        "CASE WHEN q3 = q1 THEN NULL " +
          "ELSE ((q1 + q3 - 2 * q2) * 1000 + 1001 * (q3 - q1)) " +
          "div (q3 - q1) - 1001 END"))
      .select(col("grp").as("source"), col("q1"), col("q2"), col("q3"),
        col("bowley_milli")))
  }

  /** Z-score outliers, exactly (§2.96): customers whose account
    * balance sits ≥ 1.5 population standard deviations from their
    * market segment's mean — computed WITHOUT ever taking a square
    * root: z² = (n·x − s)² / (n·q − s²) over per-segment cents moments
    * (s = Σx, q = Σx²), so z² ≥ 9/4 is the integer comparison
    * 4·num² ≥ 9·den. The 1.5σ bar (not the gaussian 3σ) because a
    * BOUNDED distribution caps |z| at √((n−1)) but uniform-ish data
    * (this fixture's acctbal) caps it near √3 ≈ 1.73 — a 3σ cut is
    * vacuous there; 1.5σ flags the real tails of bounded data. All
    * products ride DECIMAL(38,0) ((n·x − s)² alone reaches ~10²⁰ at
    * sf0.1 — past BIGINT); z2_e6 is emitted quantized. Two passes over
    * one shuffle: segment moments (mergeable), then a broadcast-join
    * filter — the degenerate-variance segment emits nothing. */
  def qZscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
    val m = c.groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"),
        sum("cents").as("ss"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("qq"))
    orderedAll(c.join(broadcast(m), col("c_mktsegment") === col("seg"))
      .withColumn("num", expr(
        "CAST(n AS DECIMAL(38,0)) * cents - ss"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * qq - CAST(ss AS DECIMAL(38,0)) * ss"))
      .filter(col("den") > 0 &&
        expr("4 * num * num >= 9 * den"))
      .withColumn("z2_e6", expr(
        "CAST(num * num * 1000000 div den AS BIGINT)"))
      .select(col("c_mktsegment"), col("c_custkey"), col("cents"),
        col("z2_e6")))
  }

  /** Brown–Forsythe Levene test (§2.99): are totalprice SPREADS equal
    * across order priorities — the variance-homogeneity check that must
    * precede q_anova (ANOVA's F assumes it), made robust by centering on
    * the group MEDIAN, not the mean. Mechanically it IS q_anova run on
    * z = |dollars − median_g|: group medians come from
    * [[DistRank.discrete]] and join back broadcast (≤|priorities| rows),
    * then one mergeable (n, Σz, Σz²) fold per group assembles the
    * between/within sums of squares in exact whole-z² units (the ×10⁶
    * quantization is dropped here — Σz² already reaches ~10¹⁵ at sf0.1,
    * and the div-truncation it absorbs is identical in both engines);
    * W is the single double ratio at the end, in milli. Values are
    * whole DOLLARS (not cents) so every intermediate stays comfortably
    * inside the DECIMAL(38,0) rails at warehouse scale. */
  def qLevene(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(round(o_totalprice) AS BIGINT)").as("v"))
    val med = DistRank.discrete(DistRank.cumulative(
        o.groupBy("grp", "v").agg(count(lit(1)).as("cnt")), Seq("grp"), "v",
        "cnt", 0), Seq("grp"), "v", Seq(50 -> "med")).drop("tot")
    val g = o.join(broadcast(med), "grp")
      .withColumn("z", abs(col("v") - col("med")))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_g"),
        sum("z").cast("long").as("s_g"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("q_g"))
    orderedAll(g.agg(
      count(lit(1)).as("k"),
      sum("n_g").cast("long").as("n"),
      sum("s_g").cast("long").as("s"),
      sum("q_g").as("q"),
      sum(expr("(CAST(s_g AS DECIMAL(38,0)) * s_g) div n_g")).as("a"))
      .withColumn("ssb", expr(
        "CAST(a - (CAST(s AS DECIMAL(38,0)) * s) div n AS BIGINT)"))
      .withColumn("ssw", expr("CAST(q - a AS BIGINT)"))
      .withColumn("w_milli", expr(
        "CASE WHEN ssw = 0 OR k <= 1 THEN NULL " +
          "ELSE CAST(round(CAST(ssb AS DOUBLE) * (n - k) * 1000 / " +
          "(CAST(ssw AS DOUBLE) * (k - 1))) AS BIGINT) END"))
      .select("k", "n", "ssb", "ssw", "w_milli"))
  }

  /** Jarque–Bera normality inputs (§2.100): per order priority, the
    * skewness, excess kurtosis and JB statistic of totalprice in whole
    * dollars — the normality screen that tells a modeler whether the
    * t/z machinery downstream is even admissible. Two passes over one
    * shuffle: the per-group mean (truncated to a whole dollar — the
    * ≤$1 centering bias is identical in both engines and vanishes in
    * the standardized ratios) joins back broadcast, then the 2nd/3rd/
    * 4th central power sums accumulate in DECIMAL(38,0) (d⁴ alone
    * reaches ~10²³ at sf0.1 — far past BIGINT; DuckDB mirrors in
    * HUGEINT). Skew/kurtosis/JB are the only double ops, at the very
    * end, in milli — sqrt(m2³) not pow(·,1.5), so every float op is
    * a correctly-rounded IEEE primitive in both engines. */
  def qJarqueBera(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(round(o_totalprice) AS BIGINT)").as("v"))
    val m = o.groupBy(col("grp").as("g2"))
      .agg(expr("sum(v) div count(1)").as("mean_usd"))
    orderedAll(o.join(broadcast(m), col("grp") === col("g2")).drop("g2")
      .withColumn("d", col("v") - col("mean_usd"))
      .groupBy("grp", "mean_usd")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("m2"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d * d")).as("m3"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d * d * d")).as("m4"))
      .withColumn("skew_milli", expr(
        "CASE WHEN m2 <= 0 THEN NULL ELSE " +
          "CAST(round(CAST(m3 AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) " +
          "* 1000 / sqrt(CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE) " +
          "* CAST(m2 AS DOUBLE))) AS BIGINT) END"))
      .withColumn("kurt_milli", expr(
        "CASE WHEN m2 <= 0 THEN NULL ELSE " +
          "CAST(round((CAST(m4 AS DOUBLE) * n / " +
          "(CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3.0) * 1000) " +
          "AS BIGINT) END"))
      .withColumn("jb_milli", expr(
        "CASE WHEN m2 <= 0 THEN NULL ELSE " +
          "CAST(round(n * (CAST(skew_milli AS DOUBLE) / 1000 * " +
          "(CAST(skew_milli AS DOUBLE) / 1000) + " +
          "CAST(kurt_milli AS DOUBLE) / 1000 * " +
          "(CAST(kurt_milli AS DOUBLE) / 1000) / 4) / 6 * 1000) " +
          "AS BIGINT) END"))
      .select(col("grp").as("o_orderpriority"), col("n"),
        col("mean_usd"), col("skew_milli"), col("kurt_milli"),
        col("jb_milli")))
  }

  /** Poisson overdispersion screen (§2.101): per event type, the
    * variance-to-mean ratio of the per-user-day event count — the
    * index of dispersion that decides whether a count model can assume
    * Poisson (≈1) or must go negative-binomial (≫1). The facts
    * collapse to (type, user, day) counts first (mergeable), then one
    * moment fold per type; the index is exact integer milli —
    * (n·Σc² − (Σc)²)·1000 div ((n−1)·Σc), one division, DECIMAL(38,0)
    * rails — so no float exists anywhere. */
  def qPoissonDispersion(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .groupBy(col("event_type"),
        col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("c").cast("long").as("s"),
        sum(expr("c * c")).cast("long").as("q"))
      .withColumn("mean_milli", expr(
        "CAST(CAST(s AS DECIMAL(38,0)) * 1000 div n AS BIGINT)"))
      .withColumn("dispersion_milli", expr(
        "CASE WHEN n <= 1 OR s = 0 THEN NULL ELSE " +
          "CAST((CAST(n AS DECIMAL(38,0)) * q - " +
          "CAST(s AS DECIMAL(38,0)) * s) * 1000 div " +
          "((n - 1) * CAST(s AS DECIMAL(38,0))) AS BIGINT) END"))
      .select("event_type", "n", "s", "mean_milli",
        "dispersion_milli"))

  /** Exact Chebyshev coverage (§2.101): per event type, how many value
    * cents fall within 1σ / 2σ / 3σ of the mean — the tail-mass
    * reality check against Chebyshev's 1 − 1/k² floor (and, against a
    * normality assumption, the 68/95/99.7 rule). |x − x̄| ≤ kσ is
    * evaluated WITHOUT computing either the mean or σ as a float:
    * (n·x − s)² ≤ k²·(n·q − s²) is the same inequality scaled by n²,
    * all in DECIMAL(38,0) (the q_zscore_outliers comparison idiom) —
    * exact, order-independent, and identical in both engines. One
    * moment fold per type + one broadcast-join conditional scan. */
  def qChebyshevCoverage(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val m = c.groupBy(col("event_type").as("t2"))
      .agg(count(lit(1)).as("n"),
        sum("cents").as("ss"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("qq"))
    orderedAll(c.join(broadcast(m), col("event_type") === col("t2"))
      .withColumn("num2", expr(
        "(CAST(n AS DECIMAL(38,0)) * cents - ss) * " +
          "(CAST(n AS DECIMAL(38,0)) * cents - ss)"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * qq - CAST(ss AS DECIMAL(38,0)) * ss"))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        sum(when(expr("num2 <= den"), 1L).otherwise(0L))
          .cast("long").as("within_1s"),
        sum(when(expr("num2 <= 4 * den"), 1L).otherwise(0L))
          .cast("long").as("within_2s"),
        sum(when(expr("num2 <= 9 * den"), 1L).otherwise(0L))
          .cast("long").as("within_3s"))
      .withColumn("cov1_bp", expr("within_1s * 10000 div n"))
      .withColumn("cov2_bp", expr("within_2s * 10000 div n"))
      .withColumn("cov3_bp", expr("within_3s * 10000 div n")))
  }

  /** Bartlett's test of equal variances (§2.110) across event types —
    * the parametric sibling of [[qLevene]] (more powerful under
    * normality, which q_jarque_bera screens for first): χ² =
    * [(N−k)·ln S²_p − Σ(n_i−1)·ln S²_i] / C with the standard
    * correction C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)).
    * Exactness policy (no double sum over groups anywhere): each
    * group's S²_i is the exact rational (n_i·ss_i − s_i²)/(n_i(n_i−1))
    * of DECIMAL cents moments, whose ln quantizes to a ×10⁹ BIGINT
    * (irrational ⇒ boundary-safe); (n_i−1)·ln_i sums EXACTLY. The
    * pooled Σ(n_i−1)S²_i rides the qAnova µ-unit idiom —
    * (n_i·ss_i − s_i²)·10⁶ div n_i per group, exact integer sum,
    * ≤1 µ-unit floor error per group identical in both engines — and
    * Σ1/(n_i−1) quantizes as 10¹⁵ div (n_i−1) (exact truncation).
    * Only the final assembly of those integers is double. One
    * mergeable moment fold + a k-row terminal aggregate. */
  def qBartlett(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_i"),
        sum("cents").cast("long").as("s_i"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("ss_i"))
      // groups without a positive variance estimate cannot enter the
      // statistic (ln S² undefined) — excluded on both sides, declared
      .filter(expr(
        "n_i >= 2 AND n_i * ss_i > CAST(s_i AS DECIMAL(38,0)) * s_i"))
      .withColumn("ln_i_u", expr(
        "CAST(round(ln(CAST(n_i * ss_i - CAST(s_i AS DECIMAL(38,0))" +
          " * s_i AS DOUBLE) / (CAST(n_i AS DOUBLE) * (n_i - 1)))" +
          " * 1000000000) AS BIGINT)"))
      .withColumn("w_u", expr(
        "(n_i * ss_i - CAST(s_i AS DECIMAL(38,0)) * s_i) * 1000000" +
          " div n_i"))
      .withColumn("inv_u", expr("1000000000000000 div (n_i - 1)"))
    orderedAll(g.agg(
      count(lit(1)).as("k"),
      sum("n_i").cast("long").as("n"),
      sum(expr("CAST(n_i - 1 AS DECIMAL(38,0)) * ln_i_u")).as("lnsum_u"),
      sum("w_u").as("pool_u"),
      sum("inv_u").cast("long").as("invsum_u"))
      .withColumn("chi2_milli", expr(
        "CASE WHEN k <= 1 OR n <= k OR pool_u = 0 THEN NULL ELSE " +
          "CAST(round((CAST(n - k AS DOUBLE) * " +
          "ln(CAST(pool_u AS DOUBLE) / 1e6 / (n - k)) - " +
          "CAST(lnsum_u AS DOUBLE) / 1e9) / " +
          "(1 + (CAST(invsum_u AS DOUBLE) / 1e15 - " +
          "1.0 / (n - k)) / (3.0 * (k - 1))) * 1000) AS BIGINT) END"))
      .select("k", "n", "chi2_milli"))
  }
}
