package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 distribution-shift audits (SURVEY §2.61): the population
  * stability index (the model-monitoring standard behind q_drift's raw
  * share deltas), the Bhattacharyya coefficient/distance (the bounded
  * overlap number that stays finite where KL blows up), and tail
  * ratios p99/p50 (the SLO-shape readout a mean hides). All ride the
  * q_drift pre/post split (2024-01-16) and ×10⁻¹ dollar value bins
  * with add-1 smoothing over the per-type joint bin set; every ln/sqrt
  * quantizes ×10⁶ BEFORE its weighted integer sum — the §2.56 policy,
  * sign-safe offsets included. */
object Shift {

  private def binned(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("pre",
        col("ts") < expr("TIMESTAMP '2024-01-16 00:00:00'"))
      .withColumn("bin",
        expr("CAST(round(value * 100) AS BIGINT) div 1000"))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("pre"), 1L).otherwise(0L)).cast("long")
        .as("n_pre"),
        sum(when(col("pre"), 0L).otherwise(1L)).cast("long")
          .as("n_post"))

  /** Population stability index (§2.61): per event type,
    * PSI = Σ_bins (p − q)·ln(p/q) with add-1 smoothing over the type's
    * joint bin set — the monitoring gate (rule of thumb: &lt;0.1 stable,
    * &gt;0.25 shifted) behind q_drift's per-bin deltas. The ln ratio
    * reduces to one double division of exact integer products; both
    * factors of each term are sign-symmetric, so the product is the
    * sum of two KL halves ≥ −1 quantization slack each — the offset
    * div keeps engines aligned. Bins are a mergeable aggregate; the
    * per-type fold sees ≤ |types|·|bins| rows. */
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    val b = binned(s, dir)
    val tot = b.groupBy(col("event_type").as("t2"))
      .agg(sum("n_pre").cast("long").as("tp"),
        sum("n_post").cast("long").as("tq"),
        count(lit(1)).as("bb"))
    val g = b.join(broadcast(tot), col("event_type") === col("t2"))
      .withColumn("c1", col("n_pre") + 1L)
      .withColumn("c2", col("n_post") + 1L)
      .withColumn("d1", col("tp") + col("bb"))
      .withColumn("d2", col("tq") + col("bb"))
      .withColumn("lr_u", expr(
        "CAST(round(ln(CAST(c1 * d2 AS DOUBLE) / " +
          "CAST(c2 * d1 AS DOUBLE)) * 1000000) AS BIGINT)"))
    // PSI = Σ (c1/d1 − c2/d2)·lr = [Σ c1·lr]/d1 − [Σ c2·lr]/d2. The
    // second bracket weights q by the OPPOSITE direction's log-ratio,
    // so it is bounded only by the max |ln ratio| (≈30 ⇒ 3·10⁷ in
    // µ-units) — both floor divisions get a 10⁸·den offset so the
    // dividend stays positive and Spark div == DuckDB //.
    orderedAll(g.groupBy("event_type", "d1", "d2", "tp", "tq")
      .agg(count(lit(1)).as("n_bins"),
        sum(expr("c1 * lr_u")).as("w1"),
        sum(expr("c2 * lr_u")).as("w2"))
      .withColumn("psi_u", expr(
        "((w1 + 100000000 * d1) div d1 - 100000000) " +
          "- ((w2 + 100000000 * d2) div d2 - 100000000)"))
      .select(col("event_type"), col("tp").as("n_pre"),
        col("tq").as("n_post"), col("n_bins"), col("psi_u")))
  }

  /** Bhattacharyya overlap (§2.61): per event type, BC_u =
    * Σ √(p·q) ×10⁶ over the smoothed joint bins (BC = 1 → identical,
    * 0 → disjoint) and the distance −ln BC in µnats — the bounded
    * shift number that never divides by a vanishing bin. √(p·q)
    * reduces to ONE double sqrt of an exact integer ratio per bin. */
  def qBhattacharyya(s: SparkSession, dir: String): DataFrame = {
    val b = binned(s, dir)
    val tot = b.groupBy(col("event_type").as("t2"))
      .agg(sum("n_pre").cast("long").as("tp"),
        sum("n_post").cast("long").as("tq"),
        count(lit(1)).as("bb"))
    val g = b.join(broadcast(tot), col("event_type") === col("t2"))
      .withColumn("bc_term_u", expr(
        "CAST(round(sqrt(CAST((n_pre + 1) * (n_post + 1) AS DOUBLE) / " +
          "(CAST(tp + bb AS DOUBLE) * (tq + bb))) * 1000000) AS BIGINT)"))
    orderedAll(g.groupBy("event_type", "tp", "tq")
      .agg(count(lit(1)).as("n_bins"),
        sum("bc_term_u").cast("long").as("bc_u"))
      .withColumn("bd_u", expr(
        "CAST(round(-ln(CAST(bc_u AS DOUBLE) / 1000000) * 1000000) " +
          "AS BIGINT)"))
      .select(col("event_type"), col("tp").as("n_pre"),
        col("tq").as("n_post"), col("n_bins"), col("bc_u"),
        col("bd_u")))
  }

  /** Tail ratios (§2.61): per event type, discrete p50/p99 of value
    * cents and the p99/p50 ratio in milli — the SLO-shape number
    * (means hide tails; quantile RATIOS survive unit changes).
    * [[DistRank.discrete]] over a value histogram plus one integer
    * division. */
  def qTailRatio(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .select(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    orderedAll(DistRank.discrete(DistRank.cumulative(h, Seq("grp"), "v",
        "cnt", 0), Seq("grp"), "v", Seq(50 -> "p50", 99 -> "p99"))
      .withColumn("ratio_milli", expr(
        "CASE WHEN p50 = 0 THEN NULL ELSE p99 * 1000 div p50 END"))
      .select(col("grp").as("event_type"), col("tot").as("n"), col("p50"),
        col("p99"), col("ratio_milli")))
  }
}
