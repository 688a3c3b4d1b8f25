package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 sampling-quality audits (SURVEY §2.71): representativeness
  * of the deterministic md5 1/16 sample across dimensions (a uniform
  * gate can still be BIASED per segment), the stratified-vs-simple
  * estimator comparison (does stratification actually buy accuracy on
  * this corpus?), and the finite-population CI for a sampled mean
  * (the error bar a sampled dashboard must print). All gates are the
  * established md5-nibble samples — deterministic in both engines. */
object Sampling {

  private def gateExpr(salt: String): String =
    s"substring(md5(concat(CAST(event_id AS STRING), ':$salt')), " +
      "1, 1) = '0'"

  /** Sample-bias audit (§2.71): per event type, the 1/16 md5 sample's
    * actual share in basis points against the 625 bp expectation,
    * with the signed deviation — uniformity per segment, not just in
    * aggregate (the check that catches a gate correlated with the
    * dimension). One conditional-aggregate scan. */
  def qSampleBias(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .withColumn("ing", expr(gateExpr("bias")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("ing"), 1L).otherwise(0L)).cast("long")
          .as("n_sample"))
      .withColumn("share_bp", expr("n_sample * 10000 div n"))
      .withColumn("dev_bp", expr("share_bp - 625")))

  /** Stratified-vs-simple estimator audit (§2.71): estimate the
    * grand total of cents from the same 1/16 sample two ways —
    * simple expansion (16 × sample sum: the design-based inverse of
    * the sampling fraction) and POST-STRATIFIED by event type
    * (Σ_h N_h · x̄_h = Σ_h N_h · samp_sum_h div m_h over the known
    * per-stratum population counts N_h; a stratum the gate missed
    * entirely — m_h = 0 — contributes 0, the standard collapsed-cell
    * convention) — against the exact total, errors in bp. The two
    * estimators genuinely differ whenever realized per-stratum
    * sampling rates deviate from 1/16, which is exactly the accuracy
    * gain post-stratification buys. N_h · samp_sum_h rides
    * DECIMAL(38,0) (DuckDB: HUGEINT) per the overflow convention.
    * One scan: both estimators are conditional aggregates over the
    * same gate. */
  def qStratifiedGain(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("ing", expr(gateExpr("strat")))
    val strat = base.groupBy("event_type")
      .agg(count(lit(1)).as("n_h"),
        sum("cents").cast("long").as("truth_t"),
        sum(when(col("ing"), 1L).otherwise(0L)).cast("long").as("m_h"),
        sum(when(col("ing"), col("cents")).otherwise(0L)).cast("long")
          .as("samp_t"))
    orderedAll(strat.agg(
      sum("truth_t").cast("long").as("truth"),
      (sum(expr("samp_t")) * 16).cast("long").as("est_srs"),
      sum(expr("CASE WHEN m_h > 0 THEN CAST(n_h AS DECIMAL(38,0)) " +
        "* samp_t div m_h ELSE 0 END")).cast("long").as("est_strat"),
      count(lit(1)).as("n_strata"))
      .withColumn("err_srs_bp",
        expr("abs(est_srs - truth) * 10000 div truth"))
      .withColumn("err_strat_bp",
        expr("abs(est_strat - truth) * 10000 div truth"))
      .select("n_strata", "truth", "est_srs", "est_strat",
        "err_srs_bp", "err_strat_bp"))
  }

  /** Finite-population CI (§2.71): per event type, the 95% CI
    * half-width (milli-cents) of the sampled mean with the
    * finite-population correction √((N−n)/(N−1)) — the error bar a
    * 1/16-sampled dashboard must print next to every number. Exact
    * sample moments; the half-width is the one double expression. */
  def qSampleCi(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("ing", expr(gateExpr("ci")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pop"),
        sum(when(col("ing"), 1L).otherwise(0L)).cast("long").as("n"),
        sum(when(col("ing"), col("cents")).otherwise(0L)).cast("long")
          .as("sx"),
        sum(when(col("ing"), expr("cents * cents")).otherwise(0L))
          .cast("long").as("qx"))
      .withColumn("mean_milli", expr(
        "CASE WHEN n = 0 THEN NULL ELSE sx * 1000 div n END"))
      .withColumn("hw_milli", expr(
        "CASE WHEN n < 2 THEN NULL ELSE " +
          "CAST(round(1.96 * sqrt(" +
          "((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) " +
          "/ (n - 1)) / n * " +
          "(CAST(n_pop - n AS DOUBLE) / (n_pop - 1))) * 1000) " +
          "AS BIGINT) END"))
      .select("event_type", "n_pop", "n", "mean_milli", "hw_milli"))

  /** Systematic sample (§2.95): every 20th customer under a total order
    * by a deterministic md5 key — the textbook alternative to Bernoulli
    * gates (q_sample_det): EXACTLY ⌈N/20⌉ units, zero size variance,
    * unbiased under hash order (which cannot correlate with any real
    * attribute). Per segment: population vs sampled counts and exact
    * cent sums (no ratio emitted — acctbal is signed and truncating vs
    * flooring division disagree on negatives). The global rank is the
    * DistRank family's problem class: serial window at fixture scale,
    * auto-engaged two-pass rank past the stats floor. */
  def qSampleSystematic(s: SparkSession, dir: String): DataFrame = {
    val c0 = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat(CAST(c_custkey AS STRING), " +
          "':sys')), 1, 15), 16, 10) AS BIGINT)"))
    val (b, c) = DistRank.gate(s, c0, 1000000L, Pins.slot("sys_auto", dir))
    val ranked =
      if (b <= 0) c.withColumn("rn", row_number().over(
        Window.orderBy(col("h").asc, col("c_custkey").asc)).cast("long"))
      else DistRank.withRank(c, col("h"), col("c_custkey"), b, "rn")
    orderedAll(ranked.groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_pop"),
        sum(when(expr("(rn - 1) % 20 = 0"), 1L).otherwise(0L))
          .cast("long").as("n_samp"),
        sum("cents").cast("long").as("cents_pop"),
        sum(when(expr("(rn - 1) % 20 = 0"), col("cents")).otherwise(0L))
          .cast("long").as("cents_samp")))
  }

  /** Neyman optimal allocation (§2.110): how a 50 000-row sample budget
    * SHOULD split across event-type strata — n_h ∝ N_h·σ_h, the
    * textbook minimum-variance allocation that q_stratified_gain's
    * proportional split leaves on the table when strata variances
    * differ. Exactness policy: σ_h quantizes to milli-cents
    * (round(σ·1000) — σ is a sqrt, irrational, boundary-safe), and
    * BOTH the share and the allocated count are integer divisions of
    * the EXACT DECIMAL(38,0) weight products N_h·σ_milli — no double
    * sum across strata anywhere, so the result is independent of
    * stratum evaluation order in either engine (Σ floor(n_h) ≤ budget;
    * the remainder seats are a policy choice left to the caller).
    * One mergeable moment aggregate + one 5-row broadcast fold. */
  def qNeymanAllocation(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_h"), sum("cents").cast("long").as("s_h"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("ss_h"))
      // a 1-row stratum has no variance estimate — excluded, declared
      .filter(col("n_h") >= 2)
      .withColumn("sd_milli", expr(
        "CAST(round(sqrt(CAST(n_h * ss_h - CAST(s_h AS DECIMAL(38,0))" +
          " * s_h AS DOUBLE) / (CAST(n_h AS DOUBLE) * (n_h - 1)))" +
          " * 1000) AS BIGINT)"))
      // a zero-variance stratum draws no Neyman budget by definition —
      // dropping it also keeps Σw > 0 (a div-by-zero in Spark is a
      // silent NULL but a DuckDB error: the engines would diverge on a
      // degenerate corpus)
      .filter(col("sd_milli") > 0)
      .withColumn("w", expr(
        "CAST(n_h AS DECIMAL(38,0)) * sd_milli"))
    val tot = m.agg(sum("w").as("w_tot"))
    orderedAll(m.crossJoin(broadcast(tot))
      .selectExpr("event_type", "n_h", "sd_milli",
        "CAST(w * 10000 div w_tot AS BIGINT) AS share_bp",
        "CAST(w * 50000 div w_tot AS BIGINT) AS alloc_n"))
  }
}
