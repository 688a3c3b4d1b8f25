package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-8 concentration / inequality readouts (SURVEY §2.58): the
  * Lorenz decile curve behind q_gini's single number, the
  * Herfindahl–Hirschman supplier-concentration index, and CR-k
  * concentration ratios per region — the market-structure staples a BI
  * user reads next to the Gini/Theil/Pareto family. All-integer
  * arithmetic (cents, ppm, bp); squares ride DECIMAL(38,0) in Spark and
  * HUGEINT in DuckDB so no product ever overflows a 64-bit lane. */
object Concentration {

  private val dec0 = DecimalType(38, 0)

  /** Lorenz decile curve (§2.58): customers ranked by exact cents spend
    * under the (spend, custkey) total order, cut into ten equal-count
    * buckets via (rank−1)·10 div n, each decile's customer count, spend,
    * share and cumulative share in basis points — the curve whose area
    * deficit q_gini integrates. The global rank is ONE window over the
    * customer dimension (accounts, not facts — ~0.1 × SF rows), via
    * [[DistRank.rank]]: bucketed at scale (per-bucket counts → offset
    * broadcast → local rank), bit-equal by construction and spec-forced
    * (Round9RankSpec) — no single-partition sort remains in that plan. */
  def qLorenz(s: SparkSession, dir: String): DataFrame = {
    val spend0 = t(s, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("o_custkey").agg(sum(col("cents")).as("sp"))
    // customer-dim rank replaces the serial sort outright → low
    // crossover (gated won 5.7 vs 9.9 s at the 100× smoke)
    val (b, spend) = DistRank.gate(s, spend0, 1000000L, Pins.slot("lorenz_auto", dir))
    val n = spend.agg(count(lit(1)).as("n"))
    val dec = DistRank.rank(spend, col("sp"), col("o_custkey"), b, "rn")
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("(rn - 1) * 10 div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum("sp").as("cents"))
    val tot = dec.agg(sum("cents").as("tot"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orderedAll(dec.crossJoin(broadcast(tot))
      .withColumn("cum", sum("cents").over(wc))
      .withColumn("share_bp", expr("cents * 10000 div tot"))
      .withColumn("cum_share_bp", expr("cum * 10000 div tot"))
      .select("decile", "n_cust", "cents", "share_bp", "cum_share_bp"))
  }

  /** Herfindahl–Hirschman index (§2.58): per nation, supplier
    * concentration of lineitem revenue — HHI_ppm = Σ rev_i² ×10⁶ div
    * (Σ rev_i)² over exact cents, squares in DECIMAL(38,0) (a busy
    * supplier's cents² exceeds 2⁶³; DuckDB mirrors in HUGEINT). The
    * market-power gate a marketplace runs per segment. Facts collapse
    * to (supplier, nation) partials map-side; the nation fold sees
    * ≤ |suppliers| rows with the supplier dim broadcast. */
  def qHhi(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val rev = t(s, dir, "lineitem")
      .select(col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy("l_suppkey").agg(sum("cents").as("rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
    orderedAll(rev.groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("rev").cast("long").as("tot_cents"),
        sum(col("rev").cast(dec0) * col("rev").cast(dec0)).as("ssq"))
      .withColumn("hhi_ppm", expr(
        "CAST((ssq * 1000000) div (CAST(tot_cents AS DECIMAL(38,0)) " +
          "* tot_cents) AS BIGINT)"))
      .select("n_name", "n_suppliers", "tot_cents", "hhi_ppm"))
  }

  /** CR-k concentration ratios (§2.58): per customer region, the
    * revenue share of the top-1 / top-4 / top-8 part brands under the
    * (revenue, brand) total order — the "does one brand own this
    * market" readout between q_share_of_parent (all rows) and q_hhi
    * (one number). The join tree is the TPC-H Q5 shape with dims
    * broadcast, but the lineitem side collapses to (orderkey, brand)
    * cents partials BEFORE the orders join — the fact–fact shuffle
    * then moves an order-grain table, not 60 M line items (the 100×
    * smoke showed the unreduced join spilling at 35× cost; this shape
    * stays fact-linear). Facts finish as (region, brand) partials
    * before the ≤ |regions|·|brands| rank window. */
  def qCrkShare(s: SparkSession, dir: String): DataFrame = {
    val geo = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val brand = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val geoOrders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(geo, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("r_name"))
    val rb = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .join(geoOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("p_brand"))
      .agg(sum("cents").as("rev"))
    val w = Window.partitionBy(col("r_name"))
      .orderBy(col("rev").desc, col("p_brand").asc)
    orderedAll(rb.withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_brands"),
        sum("rev").cast("long").as("tot_cents"),
        sum(when(col("rk") <= 1, col("rev")).otherwise(0L)).cast("long")
          .as("top1"),
        sum(when(col("rk") <= 4, col("rev")).otherwise(0L)).cast("long")
          .as("top4"),
        sum(when(col("rk") <= 8, col("rev")).otherwise(0L)).cast("long")
          .as("top8"))
      .withColumn("cr1_bp", expr("top1 * 10000 div tot_cents"))
      .withColumn("cr4_bp", expr("top4 * 10000 div tot_cents"))
      .withColumn("cr8_bp", expr("top8 * 10000 div tot_cents"))
      .select("r_name", "n_brands", "tot_cents", "cr1_bp", "cr4_bp",
        "cr8_bp"))
  }
}
