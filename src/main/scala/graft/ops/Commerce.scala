package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 commerce-calendar analytics (SURVEY §2.63): discount-band
  * lift (does a deeper discount actually move volume?), inter-purchase
  * gap percentiles per market segment (the CRM re-order clock), and the
  * day-of-week order profile (the staffing/capacity calendar). Exact
  * cents/integer outputs; each collapses facts map-side before any
  * join or window. */
object Commerce {

  /** Discount-band lift (§2.63): per exact discount band (cents of
    * discount rate: 0..10), line count, total quantity, gross and
    * discounted revenue cents, and the average-quantity readout in
    * milli — the "what does 5% off buy us" table. One mergeable
    * conditional aggregate over the fact scan; discounted cents use
    * the exact decimal product policy (dmoney·dfrac) flattened to
    * integer cents before summation. */
  def qDiscountLift(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .withColumn("band", expr("CAST(round(l_discount * 100) AS BIGINT)"))
      .withColumn("gross_c", expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("disc_c", expr(
        "CAST(round(CAST(l_extendedprice AS DECIMAL(15,2)) * " +
          "CAST(1.0 - l_discount AS DECIMAL(4,2)) * 100, 0) AS BIGINT)"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_lines"),
        sum(expr("CAST(round(l_quantity) AS BIGINT)")).cast("long")
          .as("qty"),
        sum("gross_c").cast("long").as("gross_cents"),
        sum("disc_c").cast("long").as("net_cents"))
      .withColumn("avg_qty_milli", expr("qty * 1000 div n_lines")))

  /** Inter-purchase gap percentiles (§2.63): per market segment, the
    * discrete p50/p90 of days between a customer's consecutive orders
    * — the re-order clock behind q_rfm's recency score. Per-customer
    * lag runs on the customer axis (high-cardinality partition key);
    * gaps then collapse to a (segment, gap) histogram before the
    * percentile picks ([[DistRank.discrete]]). */
  def qInterpurchase(s: SparkSession, dir: String): DataFrame = {
    val seg = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d").asc, col("o_orderkey").asc)
    val gaps = t(s, dir, "orders")
      .withColumn("d", expr("CAST(unix_micros(o_orderdate) div " +
        "86400000000 AS BIGINT)"))
      .withColumn("prev_d", lag(col("d"), 1).over(w))
      .filter(col("prev_d").isNotNull)
      .withColumn("gap", col("d") - col("prev_d"))
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
    val h = gaps.groupBy(col("c_mktsegment").as("grp"),
      col("gap").as("v")).agg(count(lit(1)).as("cnt"))
    orderedAll(DistRank.discrete(DistRank.cumulative(h, Seq("grp"), "v", "cnt",
        0), Seq("grp"), "v", Seq(50 -> "p50", 90 -> "p90"))
      .select(col("grp").as("c_mktsegment"), col("tot").as("n_gaps"),
        col("p50"), col("p90")))
  }

  /** Day-of-week order profile (§2.63): orders and revenue cents per
    * ISO weekday (1=Mon..7=Sun, from the epoch-day mod — engine-
    * independent, no locale-dependent dayofweek()), with revenue share
    * bp — the capacity calendar. One mergeable aggregate to 7 rows. */
  def qDowProfile(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "orders")
      .withColumn("dow", expr(
        "(CAST(unix_micros(o_orderdate) div 86400000000 AS BIGINT) " +
          "+ 3) % 7 + 1"))
      .withColumn("cents", expr(
        "CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_orders"),
        sum("cents").cast("long").as("rev_cents"))
    val tot = d.agg(sum("rev_cents").cast("long").as("tot"))
    orderedAll(d.crossJoin(broadcast(tot))
      .withColumn("rev_share_bp", expr("rev_cents * 10000 div tot"))
      .select("dow", "n_orders", "rev_cents", "rev_share_bp"))
  }

  /** New-product revenue ramp (§2.98): parts cohorted by their FIRST
    * ship month, revenue folded at month offsets 0/1/2 — the product
    * version of the user cohort triangle (does a launch month's
    * catalog keep selling, or spike and die?). Facts collapse to
    * (part, month) cents first; the cohort month is one part-dim
    * aggregate joined back (co-partitioned on partkey); offsets > 2
    * fall out of the report. n_parts counts the cohort ONCE (offset-
    * independent) so ramp rows are comparable. */
  def qItemRamp(s: SparkSession, dir: String): DataFrame = {
    val pm = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"),
        expr("CAST((year(l_shipdate) - 1990) * 12" +
          " + month(l_shipdate) - 1 AS BIGINT)").as("m"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
    val first = pm.groupBy(col("l_partkey").as("pk"))
      .agg(min("m").as("m0"))
    val ramp = pm.join(first, col("l_partkey") === col("pk"))
      .withColumn("off", col("m") - col("m0"))
      .filter(col("off") <= 2)
      .groupBy("m0", "off")
      .agg(sum("cents").cast("long").as("cents"),
        count(lit(1)).as("n_selling_parts"))
    val cohort = first.groupBy(col("m0").as("m0c"))
      .agg(count(lit(1)).as("n_parts"))
    orderedAll(ramp.join(broadcast(cohort), col("m0") === col("m0c"))
      .select("m0", "off", "n_parts", "n_selling_parts", "cents"))
  }
}
