package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 volatility diagnostics (SURVEY §2.79) over the per-type
  * daily revenue series: realized volatility of daily log returns
  * (×10⁶-quantized ln policy, exact integer moments), the historical
  * 95% value-at-risk of day-over-day cents changes (discrete
  * percentile of the delta axis), and the longest up/down streaks
  * (the islands recipe on the delta sign). Facts collapse to the
  * (type, day) grid before every window; the per-type day series is
  * bounded by the time span. */
object Volatility {

  /** Per-type daily cents with the previous day's cents attached
    * (missing calendar days are skipped — observation-to-observation,
    * the convention financial returns use on trading days). */
  private def daily(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
    d.withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .filter(col("prev_cents").isNotNull)
  }

  /** Realized volatility (§2.79): per event type, the sample standard
    * deviation of ×10⁶-quantized daily log returns, in µ-units —
    * ln(cents/prev) reduces to ONE double division of exact integers
    * per day; moments are exact BIGINTs; the sd is one final sqrt. */
  def qRealizedVol(s: SparkSession, dir: String): DataFrame =
    orderedAll(daily(s, dir)
      .withColumn("r_u", expr(
        "CAST(round(ln(CAST(cents AS DOUBLE) / prev_cents) * 1000000)" +
          " AS BIGINT)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("r_u").cast("long").as("sr"),
        sum(expr("r_u * r_u")).cast("long").as("qr"))
      .withColumn("vol_u", expr(
        "CASE WHEN n_days < 2 THEN NULL ELSE " +
          "CAST(round(sqrt((CAST(qr AS DOUBLE) - " +
          "CAST(sr AS DOUBLE) * sr / n_days) / (n_days - 1))) " +
          "AS BIGINT) END"))
      .select("event_type", "n_days", "sr", "vol_u"))

  /** Historical 95% VaR (§2.79): per event type, the discrete 5th
    * percentile of day-over-day cents changes (the loss a 1-in-20 bad
    * day brings) plus the worst observed day — [[DistRank.discrete]]
    * on the delta axis. */
  def qVar95(s: SparkSession, dir: String): DataFrame = {
    val h = daily(s, dir)
      .select(col("event_type").as("grp"),
        (col("cents") - col("prev_cents")).as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    orderedAll(DistRank.discrete(DistRank.cumulative(h, Seq("grp"), "v",
        "cnt", 0), Seq("grp"), "v", Seq(5 -> "var95_cents"),
        min("v").as("worst"))
      .select(col("grp").as("event_type"), col("tot").as("n_days"),
        col("var95_cents"), col("worst")))
  }

  /** Up/down streaks (§2.79): per event type, the longest run of
    * consecutive up days and of consecutive down days — the islands
    * recipe (row_number difference) on the delta sign; flat days
    * break both kinds of streak. */
  def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val signed = daily(s, dir)
      .withColumn("sign", expr(
        "CASE WHEN cents > prev_cents THEN 1 " +
          "WHEN cents < prev_cents THEN -1 ELSE 0 END"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val ws = Window.partitionBy("event_type", "sign").orderBy("day")
    orderedAll(signed
      .withColumn("grp_id",
        row_number().over(w) - row_number().over(ws))
      .groupBy("event_type", "sign", "grp_id")
      .agg(count(lit(1)).as("len"))
      .groupBy("event_type")
      .agg(sum(when(col("sign") === 1, col("len")).otherwise(0L))
        .cast("long").as("up_days"),
        sum(when(col("sign") === -1, col("len")).otherwise(0L))
          .cast("long").as("down_days"),
        max(when(col("sign") === 1, col("len")).otherwise(0L))
          .cast("long").as("max_up_streak"),
        max(when(col("sign") === -1, col("len")).otherwise(0L))
          .cast("long").as("max_down_streak")))
  }

  /** Moving-average crossover signals (§2.96): per event type, days
    * where the trailing-7-calendar-day cents total crosses the
    * trailing-28-day total — the classic fast/slow MA trade signal,
    * made EXACT by clearing denominators (avg7 > avg28 ⟺ 4·sum7 >
    * sum28, since 28 = 4·7; both sums are exact BIGINT cents over
    * calendar RANGE frames, so sparse days weigh correctly). A cross
    * is a strict sign change of d = 4·sum7 − sum28 against the
    * previous OBSERVED day (d = 0 days break streaks both ways but
    * emit nothing). Day-grain input: the scan collapses to
    * (type, day) before any window — bounded rows per type. */
  def qMaCross(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val w7 = Window.partitionBy("event_type").orderBy("day")
      .rangeBetween(-6, 0)
    val w28 = Window.partitionBy("event_type").orderBy("day")
      .rangeBetween(-27, 0)
    val wl = Window.partitionBy("event_type").orderBy("day")
    orderedAll(d
      .withColumn("diff",
        sum("cents").over(w7) * 4 - sum("cents").over(w28))
      .withColumn("prev_diff", lag("diff", 1).over(wl))
      .filter(col("prev_diff").isNotNull &&
        ((col("diff") > 0 && col("prev_diff") < 0) ||
          (col("diff") < 0 && col("prev_diff") > 0)))
      .withColumn("direction",
        when(col("diff") > 0, "golden").otherwise("death"))
      .select("event_type", "day", "direction", "diff", "prev_diff"))
  }
}
