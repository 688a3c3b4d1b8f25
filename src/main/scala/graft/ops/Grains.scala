package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 warehouse staples (SURVEY §2.90): the year→quarter→month
  * time-grain ROLLUP (the BI drill path as one grouping-sets pass),
  * the cross-table primary-key uniqueness audit, and tail-mass
  * concentration per event type (how much value sits above p50/p90/p99
  * — the disc-percentile pick over a value histogram, never a global
  * sort). All-integer emissions.
  */
object Grains {

  /** Time-grain rollup (§2.90): order counts and exact cents at
    * (year), (year, quarter), (year, quarter, month) and grand total
    * in ONE `rollup` pass — Catalyst expands the grouping sets and the
    * aggregate stays map-side mergeable. NULL grain levels ride the
    * explicit −1 sentinel (both engines render GROUPING-style NULLs
    * differently across pandas round-trips; the sentinel dodges that). */
  def qTimeGrainRollup(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .select(expr("CAST(year(o_orderdate) AS BIGINT)").as("y"),
        expr("CAST(quarter(o_orderdate) AS BIGINT)").as("q"),
        expr("CAST(month(o_orderdate) AS BIGINT)").as("m"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .rollup("y", "q", "m")
      .agg(count(lit(1)).as("n_orders"),
        sum("cents").cast("long").as("cents"))
      .select(coalesce(col("y"), lit(-1L)).as("y"),
        coalesce(col("q"), lit(-1L)).as("q"),
        coalesce(col("m"), lit(-1L)).as("m"),
        col("n_orders"), col("cents")))

  /** Primary-key uniqueness audit (§2.90): per declared key — orders
    * (o_orderkey), customer, part, supplier, events (event_id),
    * lineitem's composite (l_orderkey, l_linenumber) — row count,
    * distinct-key count, and duplicate rows. The cross-table integrity
    * sweep next to q_fk_orphans/q_table_checksum; each leg is one
    * mergeable aggregate. */
  def qPkAudit(s: SparkSession, dir: String): DataFrame = {
    def leg(table: String, keyExpr: String): DataFrame =
      t(s, dir, table).agg(
        lit(table).as("table_name"),
        count(lit(1)).as("n_rows"),
        countDistinct(expr(keyExpr)).as("n_keys"))
    orderedAll(Seq(
      leg("orders", "o_orderkey"),
      leg("customer", "c_custkey"),
      leg("part", "p_partkey"),
      leg("supplier", "s_suppkey"),
      leg("events", "event_id"),
      leg("lineitem", "concat(l_orderkey, ':', l_linenumber)"))
      .reduce(_ unionAll _)
      .withColumn("n_dup_rows", expr("n_rows - n_keys"))
      .select("table_name", "n_rows", "n_keys", "n_dup_rows"))
  }

  /** Tail-mass concentration (§2.90): per event type, the discrete
    * p50/p90/p99 of value cents ([[DistRank.discrete]] over a value
    * histogram — no global sort) and the share of TOTAL value strictly
    * above each threshold, in bp — the "how much of the money is in
    * the tail" readout behind q_whale_share. */
  def qTailMass(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "cents")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("vsum", expr("cents * cnt"))
    val by = Seq("event_type")
    val marks = DistRank.discrete(DistRank.cumulative(h, by, "cents", "cnt", 0),
      by, "cents", Seq(50 -> "p50", 90 -> "p90", 99 -> "p99")).drop("tot")
    // r17: n/total and the three tail masses fold in ONE aggregate over
    // h ⋈ marks (the per-type marks are constant within a group, so
    // max() just reads them back) — the former spelling evaluated the
    // histogram three more times across the n/total aggregate, the mass
    // aggregate, and the join spine.
    orderedAll(h.join(broadcast(marks), "event_type")
      .groupBy("event_type")
      .agg(sum("cnt").cast("long").as("n"),
        sum("vsum").cast("long").as("total_cents"),
        max("p50").as("p50"), max("p90").as("p90"), max("p99").as("p99"),
        sum(when(col("cents") > col("p50"), col("vsum")).otherwise(0L))
          .cast("long").as("mass50"),
        sum(when(col("cents") > col("p90"), col("vsum")).otherwise(0L))
          .cast("long").as("mass90"),
        sum(when(col("cents") > col("p99"), col("vsum")).otherwise(0L))
          .cast("long").as("mass99"))
      .withColumn("above_p50_bp", expr("mass50 * 10000 div total_cents"))
      .withColumn("above_p90_bp", expr("mass90 * 10000 div total_cents"))
      .withColumn("above_p99_bp", expr("mass99 * 10000 div total_cents"))
      .select("event_type", "n", "total_cents", "p50", "p90", "p99",
        "above_p50_bp", "above_p90_bp", "above_p99_bp"))
  }
}
