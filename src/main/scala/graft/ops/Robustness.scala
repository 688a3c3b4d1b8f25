package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 metric-robustness audits (SURVEY §2.75): per-segment SRM
  * (a balanced experiment can hide segment-level imbalance — the
  * Simpson's-paradox detector), winsorization sensitivity of the mean
  * (how much one tail clamp moves the headline number), and the
  * whale-share of revenue above p99 (how much of the metric one
  * user-tail owns). Quartile machinery is the shared discrete-
  * percentile histogram recipe; everything else is conditional
  * aggregation over exact cents. */
object Robustness {

  /** Per-segment sample-ratio mismatch (§2.75): users assigned to
    * arms by the deterministic md5 coin, segmented by their modal
    * event type ((count, type) total order) — per segment: arm
    * counts and the deviation from 50/50 in bp. The global SRM can
    * pass while a segment is skewed; this is the slice that catches
    * it. Two user-keyed aggregates, then a ≤|types| fold. */
  def qSrmSegments(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("cnt").desc, col("event_type").asc)
    val seg = t(s, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("segment"))
    orderedAll(seg
      .withColumn("arm_a", expr(
        "substring(md5(concat(CAST(user_id AS STRING), ':srmseg')), " +
          "1, 1) < '8'"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm_a"), 1L).otherwise(0L)).cast("long")
          .as("n_a"))
      .withColumn("share_a_bp", expr("n_a * 10000 div n_users"))
      .withColumn("dev_bp", expr("share_a_bp - 5000")))
  }

  /** Winsorization sensitivity (§2.75): per event type, the raw mean
    * (milli-cents) against the mean with values clamped at the
    * discrete p99 — and the shift in bp of the raw mean. A large
    * shift means the headline metric belongs to its tail. Histogram
    * percentile pick + one conditional re-aggregate over histogram
    * rows (never a second fact scan). */
  def qWinsorSensitivity(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .select(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    val cum = DistRank.cumulative(h, Seq("grp"), "v", "cnt", 0)
    val p99 = DistRank.discrete(cum, Seq("grp"), "v", Seq(99 -> "p99"))
      .drop("tot")
    orderedAll(cum.join(broadcast(p99), "grp")
      .groupBy("grp", "p99")
      .agg(max("tot").as("n"),
        sum(expr("v * cnt")).cast("long").as("sum_raw"),
        sum(expr("least(v, p99) * cnt")).cast("long").as("sum_win"))
      .withColumn("mean_raw_milli", expr("sum_raw * 1000 div n"))
      .withColumn("mean_win_milli", expr("sum_win * 1000 div n"))
      .withColumn("shift_bp", expr(
        "(sum_raw - sum_win) * 10000 div sum_raw"))
      .select(col("grp").as("event_type"), col("n"), col("p99"),
        col("mean_raw_milli"), col("mean_win_milli"),
        col("shift_bp")))
  }

  /** Whale share (§2.75): per event type, the share of total cents
    * carried by values at or above the discrete p99 — the tail-
    * dependence number that says whether the metric is a crowd or a
    * handful of whales. Same histogram; one conditional sum. */
  def qWhaleShare(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .select(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    val cum = DistRank.cumulative(h, Seq("grp"), "v", "cnt", 0)
    val p99 = DistRank.discrete(cum, Seq("grp"), "v", Seq(99 -> "p99"))
      .drop("tot")
    orderedAll(cum.join(broadcast(p99), "grp")
      .groupBy("grp", "p99")
      .agg(max("tot").as("n"),
        sum(expr("v * cnt")).cast("long").as("total_cents"),
        sum(when(col("v") >= col("p99"), expr("v * cnt"))
          .otherwise(0L)).cast("long").as("whale_cents"),
        sum(when(col("v") >= col("p99"), col("cnt")).otherwise(0L))
          .cast("long").as("whale_rows"))
      .withColumn("whale_share_bp", expr(
        "whale_cents * 10000 div total_cents"))
      .select(col("grp").as("event_type"), col("n"), col("p99"),
        col("whale_rows"), col("whale_cents"), col("total_cents"),
        col("whale_share_bp")))
  }
}
