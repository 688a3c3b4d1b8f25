package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 operational-SLO readouts (SURVEY §2.83): per-type data
  * freshness against the global high-water mark (the staleness board
  * every ingest pipeline ships), hourly ingest-rate statistics (the
  * capacity envelope), and shipping-SLA attainment per order priority
  * (share of lines shipped within 7/30 days of the order date). All
  * one- or two-aggregate scans over exact epoch integers. */
object Slo {

  /** Freshness board (§2.83): per event type, the last-seen µs lag
    * behind the global high-water mark, plus the final-day volume
    * against the trailing mean daily volume in bp — staleness AND
    * thinning in one table. Two mergeable aggregates and a broadcast
    * high-water row. */
  def qFreshness(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val hw = e.agg(max("us").as("hw_us"), max("day").as("hw_day"))
    orderedAll(e.crossJoin(broadcast(hw))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("hw_us")).as("hw_us2"),
        max("us").as("last_us"),
        countDistinct(col("day")).as("n_days"),
        sum(when(col("day") === col("hw_day"), 1L).otherwise(0L))
          .cast("long").as("last_day_n"))
      .withColumn("lag_us", expr("hw_us2 - last_us"))
      .withColumn("last_day_vs_mean_bp", expr(
        "last_day_n * n_days * 10000 div n"))
      .select("event_type", "n", "n_days", "lag_us", "last_day_n",
        "last_day_vs_mean_bp"))
  }

  /** Ingest-rate envelope (§2.83): per event type, observed hourly
    * rate statistics — active hours, mean events/hour (milli over
    * active hours), the peak hour's count, and the peak-to-mean ratio
    * in milli — the numbers a consumer provisions against. Facts
    * collapse to the (type, hour) grid first. */
  def qIngestRate(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("active_hours"),
        sum("n").cast("long").as("n_events"),
        max("n").cast("long").as("peak_hour_n"))
      .withColumn("mean_rate_milli", expr(
        "n_events * 1000 div active_hours"))
      .withColumn("peak_to_mean_milli", expr(
        "peak_hour_n * 1000 * active_hours div n_events"))
      .select("event_type", "active_hours", "n_events",
        "mean_rate_milli", "peak_hour_n", "peak_to_mean_milli"))

  /** Shipping-SLA attainment (§2.83): per order priority, the share
    * of line items shipped within 7 and within 30 days of the order
    * date, in bp — the promise-keeping board. The fact join ships the
    * slim (orderkey, priority, order day) build side; day arithmetic
    * is exact epoch integers. */
  def qSlaAttainment(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(o_orderdate) div 86400000000").as("od"))
    orderedAll(t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        expr("unix_micros(l_shipdate) div 86400000000").as("sd"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("sd") - col("od") <= 7L, 1L).otherwise(0L))
          .cast("long").as("within7"),
        sum(when(col("sd") - col("od") <= 30L, 1L).otherwise(0L))
          .cast("long").as("within30"))
      .withColumn("within7_bp", expr("within7 * 10000 div n_lines"))
      .withColumn("within30_bp", expr("within30 * 10000 div n_lines")))
  }

  /** Rate-limit audit (§2.95): per user, events whose trailing-1-hour
    * count (RANGE frame over epoch-µs, inclusive of the current row and
    * its timestamp peers) exceeds 2 — the abuse/bot sweep a streaming
    * gate would enforce online, run here as the batch backfill that
    * calibrates the threshold (the bar is scaled to the fixture's
    * ~14 events/user/month; a production limit is orders of magnitude
    * higher with the identical plan). Users with no violation are
    * dropped. The range window shards by user; equal-timestamp peers
    * all see the full peer count in both engines, so the boundary
    * decision is deterministic. */
  def qRateLimit(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3599999999L, 0L)
    orderedAll(e.withColumn("cnt", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max("cnt").cast("long").as("max_burst"),
        sum(when(col("cnt") > 2, 1L).otherwise(0L)).cast("long")
          .as("n_violations"))
      .filter(col("max_burst") > 2))
  }

  /** Daily value percentiles (§2.97): per day, exact discrete p50 and
    * p95 of event value cents — the "latency percentiles over time"
    * chart every SRE dashboard leads with, as a time series rather
    * than q_percentile's global cut. [[DistRank.discrete]] sharded by
    * DAY: (day, cents)-grain collapse first, one cumulative window per
    * day, both probe points read off the same cumulative column
    * (smallest v with 100·cum ≥ p·n). Day-grain output; day is the
    * natural 100 TB shard axis. */
  def qDailyPercentiles(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .agg(count(lit(1)).as("cnt"))
    orderedAll(DistRank.discrete(DistRank.cumulative(h, Seq("day"), "v",
        "cnt", 0), Seq("day"), "v", Seq(50 -> "p50_cents", 95 -> "p95_cents"))
      .withColumnRenamed("tot", "n"))
  }
}
