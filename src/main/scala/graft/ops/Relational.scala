package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core: scans, filters, joins, aggregations, sorts, set ops
  * (SURVEY §2.1–§2.4, §2.6, §2.7).
  *
  * The reference genre computes each of these as one or more hand-written
  * MapReduce jobs (reduce-side joins with source tags, combiner partial
  * aggregates, total-order-partitioner sorts — SURVEY §2's "MR formulation"
  * column). Here each is a single declarative DataFrame plan: Catalyst
  * supplies predicate pushdown, column pruning, partial aggregation (the
  * combiner, for free) and join-strategy selection (broadcast vs sort-merge);
  * at cluster scale AQE re-plans shuffles at runtime. Small dimensions are
  * broadcast explicitly where the MR genre would have used a replicated
  * (DistributedCache) map-side join.
  */
object Relational {

  // ---- §2.1 scans -------------------------------------------------------

  def qScanProject(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))

  def qScanCount(s: SparkSession, dir: String): DataFrame = {
    val counts = graft.Tables.schemas.keys.toSeq.sorted.map { name =>
      t(s, dir, name).agg(count(lit(1)).as("n"))
        .select(lit(name).as("table_name"), col("n"))
    }
    orderedAll(counts.reduce(_.unionByName(_)))
  }

  // ---- §2.2 filters / predicates ---------------------------------------

  /** TPC-H Q6 shape: date-range + between + comparison predicates. The
    * filter reaches the Parquet scan as PushedFilters; at 100 TB this is
    * the difference between reading 3 columns of 1 year and the whole table. */
  def qFilterPred(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsumExact(dmoney(col("l_extendedprice")) * dfrac(col("l_discount")))
        .as("revenue"))

  def qFilterInLike(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "part")
      .filter((col("p_type").like("PROMO%") ||
        col("p_brand").isin("Brand#1", "Brand#5", "Brand#10")) &&
        col("p_size") =!= 7)
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size"))

  def qCaseExpr(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .withColumn("band", when(col("o_totalprice") < 50000, "low")
        .when(col("o_totalprice") < 150000, "mid").otherwise("high"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total")))

  // ---- §2.3 joins -------------------------------------------------------

  def qJoinInner(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment"))

  /** Map-side (replicated) join of the MR genre → explicit broadcast hint. */
  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name"))

  def qJoinLeft(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("n_orders")))

  /** Full outer over an artificially overlapping key split of orders, so
    * matched rows and both null sides all appear. */
  def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey").as("ka"), col("o_totalprice").as("price_a"))
    val b = o.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
      .select(col("o_orderkey").as("kb"), col("o_totalprice").as("price_b"))
    orderedAll(a.join(b, col("ka") === col("kb"), "full")
      .select("ka", "kb", "price_a", "price_b"))
  }

  def qJoinSemi(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment"))

  def qJoinAnti(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name"))

  /** 3-way join (TPC-H Q3 family), one Spark job — no materialized
    * intermediates between the two joins, unlike chained MR jobs. */
  def qJoinMultiway(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("c_mktsegment")
      .agg(dsumExact(discPrice).as("revenue"),
        count(lit(1)).as("n")))

  /** Equi key + residual range predicate: planned as a hash/sort-merge join
    * on l_partkey with the l_quantity < p_size residual applied post-match. */
  def qJoinTheta(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey") &&
        col("l_quantity") < col("p_size"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total")))

  // ---- §2.4 aggregations ------------------------------------------------

  def qAggGlobal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      round(sum(col("l_quantity")), 4).as("sum_qty"),
      dsum(col("l_extendedprice")).as("sum_price"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      round(avg(col("l_quantity")), 4).as("avg_qty"),
      round(avg(col("l_extendedprice")), 4).as("avg_price"))

  /** TPC-H Q1 — the flagship `entry()` query (SURVEY §7.2). */
  def qAggGroup(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumExact(discPrice).as("sum_disc_price"),
        dsumExact(discPrice *
          dfrac(lit(1.0) + col("l_tax"))).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order")))

  def qAggHaving(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .filter(col("n") > 55))

  def qAggDistinct(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n")))

  /** ROLLUP subtotals; grouping-null disambiguated via coalesce sentinel
    * (the underlying columns are never null), keeping the oracle
    * dialect-neutral. */
  def qAggRollup(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal"))
      .select(coalesce(col("n_name"), lit("(all)")).as("g_nation"),
        coalesce(col("c_mktsegment"), lit("(all)")).as("g_segment"),
        col("n"), col("bal")))

  /** grouping_id(): the bit-encoded subtotal level that disambiguates a
    * rollup NULL from a data NULL — emitted alongside the coalesce
    * sentinels (DuckDB twin: GROUPING(cols…), same bit order). */
  def qGroupingId(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
      .select(coalesce(col("n_name"), lit("(all)")).as("g_nation"),
        coalesce(col("c_mktsegment"), lit("(all)")).as("g_segment"),
        col("gid"), col("n")))

  /** unionByName with missing columns — the schema-evolution append: rows
    * from either side carry NULL for the columns they lack. */
  def qUnionByName(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice").as("price"))
    val b = o.filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"))
    orderedAll(a.unionByName(b, allowMissingColumns = true))
  }

  def qAggCube(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4)
        .as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("g_flag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("g_status"),
        col("n"), col("sum_qty")))

  /** GROUPING SETS ((lang),(source),()) — Dataset API has no direct method;
    * expressed through Spark SQL over a temp view (SURVEY §2.4). */
  def qAggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_documents_gs")
    orderedAll(s.sql(
      """SELECT coalesce(lang, '(all)') AS g_lang,
        |       coalesce(source, '(all)') AS g_source,
        |       count(*) AS n, sum(n_chars) AS sum_chars
        |FROM graft_documents_gs
        |GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin))
  }

  /** HLL++ sketch distinct — partial-mergeable, the 100 TB replacement for
    * the MR genre's exact two-job distinct. No SQL oracle (estimate is
    * engine-specific); bounded vs exact in ScalaTest. */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        count(lit(1)).as("n")))

  /** The same distinct sketch through our OWN native TypedImperativeAggregate
    * (graft.functions.HyperLogLog) — the custom-aggregate extension path,
    * exercised as a first-class query. Rows-only (estimate is sketch-
    * layout-specific); bounded vs exact and proven partition-order-
    * independent in HyperLogLogSpec. */
  def qHllCustom(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .groupBy("event_type")
      .agg(graft.functions.HyperLogLog.approxDistinct(col("user_id"))
        .as("hll_users"), count(lit(1)).as("n")))

  /** Pivot: event_type counts widened to one column per type. Spark's
    * .pivot() with an explicit value list (no extra distinct-scan job);
    * oracle uses FILTER aggregates — the dialect-neutral spelling. */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    orderedAll(t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types))
  }

  /** Exact interpolated percentiles (median, p90) per order priority —
    * both engines sort-and-interpolate identically. */
  def qPercentile(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n")))

  /** t-digest-family approximate percentiles (percentile_approx) — the
    * sketch twin of the exact q_percentile, mergeable at any scale where
    * the exact sort-and-interpolate would need a full shuffle of the
    * column. Rows-only (sketch layout is engine-specific); bounded vs the
    * exact percentile in AdvancedSpec. */
  def qApproxPercentile(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)").as("ap90"),
        count(lit(1)).as("n")))

  /** Second-moment statistics: stddev / correlation per return flag. */
  def qStats(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        count(lit(1)).as("n")))

  /** Ordered string aggregation: nation names per region, sorted then
    * joined — the deterministic listagg (SURVEY §5.3: sort_array before
    * any collect_list in graded output). */
  def qStringAgg(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(concat_ws(",", sort_array(collect_list(col("n_name"))))
        .as("nations"), count(lit(1)).as("n")))

  /** Argmax/argmin aggregates (§2.16): the top and bottom customer per
    * nation by account balance — `max_by`/`min_by`, the aggregate-form
    * top-1 that replaces a window + filter (one partial-mergeable agg, no
    * row_number shuffle; at 100 TB the difference between one combine
    * tree and sorting every group). Tie-safe across engines: the ordering
    * key is an exact composite BIGINT (cents × 10⁹ + custkey), so there
    * is exactly one max even if balances tie. */
  def qAggArgmax(s: SparkSession, dir: String): DataFrame = {
    val key = "CAST(round(c_acctbal * 100) AS BIGINT) * " +
      "CAST(1000000000 AS BIGINT) + c_custkey"
    orderedAll(t(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(expr(s"max_by(c_name, $key)").as("top_name"),
        expr(s"min_by(c_name, $key)").as("bottom_name"),
        max(col("c_acctbal")).as("max_bal"),
        count(lit(1)).as("n")))
  }

  /** Fixed-width histogram (§2.16): event values bucketed at width 50,
    * capped at bucket 10 — the profiling primitive for any numeric column
    * at scale (one mergeable groupBy; bucket id computed in the scan
    * projection, no shuffle beyond the count). */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .groupBy(col("event_type"),
        least(floor(col("value") / 50.0), lit(10.0)).cast("long")
          .as("bucket"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("mx")))

  /** Unpivot / melt (§2.16): wide→long reshape of two part measures, then
    * a per-metric profile — the inverse of q_pivot. `unpivot` is a
    * Generate (1→N projection) in the plan: no shuffle until the final
    * aggregate, so it streams at any scale. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "part").select(col("p_partkey"),
      col("p_size").cast("double").as("size"),
      col("p_retailprice").cast("double").as("retailprice"))
    orderedAll(base.unpivot(Array(col("p_partkey")),
        Array(col("size"), col("retailprice")), "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), round(avg(col("val")), 4).as("avg_val"),
        min(col("val")).as("min_val"), max(col("val")).as("max_val")))
  }

  /** Batch upsert (§2.16): SCD-1 snapshot merge — the base table overlaid
    * with a changes set (simulated: every 10th order re-priced +10%,
    * status 'U'), changes winning per key; summarized per resulting
    * status. The batch twin of MERGE INTO: one full outer join on the
    * key + coalesce, which at 100 TB is a single co-partitioned shuffle
    * (or exchange-free entirely on bucketed snapshots — see
    * q_join_bucketed for that ingest pattern). */
  def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val changes = t(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"), lit("U").as("new_status"),
        // re-price in EXACT decimal: round(double*1.1, 2) lands on true
        // decimal .XX5 ties whose resolution differs between engines;
        // DECIMAL(18,2) × DECIMAL(4,2) is exact and round() is
        // ties-away-from-zero in both engines for positive values
        round(col("o_totalprice").cast("decimal(18,2)") *
          expr("CAST(1.10 AS DECIMAL(4,2))"), 2).as("new_price"))
    orderedAll(base
      .join(changes, col("o_orderkey") === col("k"), "full")
      .select(
        coalesce(col("new_status"), col("o_orderstatus")).as("status"),
        coalesce(col("new_price"), col("o_totalprice")).as("price"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("total")))
  }

  // ---- §2.6 sorts / top-k ----------------------------------------------

  /** Global top-k: planned as TakeOrderedAndProject (per-partition heaps +
    * driver merge), never a full sort — the MR genre needed a
    * TotalOrderPartitioner or single reducer for this. */
  def qOrderbyLimit(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .limit(20)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))

  def qSortMulti(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "n_nationkey"))

  // ---- §2.7 set operations ---------------------------------------------

  private def urgentKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")

  private def bigKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_totalprice") > 100000)
      .select("o_orderkey")

  /** Bag union canonicalized through a per-key multiplicity count. */
  def qUnionAll(s: SparkSession, dir: String): DataFrame =
    orderedAll(urgentKeys(s, dir).unionByName(bigKeys(s, dir))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n")))

  def qUnionDistinct(s: SparkSession, dir: String): DataFrame =
    orderedAll(urgentKeys(s, dir).union(bigKeys(s, dir)).distinct())

  def qIntersect(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
      .intersect(t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("custkey"))))

  /** Custkeys minus custkeys with a >400k order (every customer has SOME
    * order in this data, so the plain customer∖orders difference is
    * degenerate-empty at every SF). */
  def qExcept(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "customer").select(col("c_custkey").as("custkey"))
      .except(t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))))

  def qDistinct(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus").distinct())

  /** Full-table Pearson correlation matrix (§2.17) over (quantity,
    * extendedprice, discount) — the feature-correlation sweep of any
    * profiling pass, and the global cousin of [[qStats]]' grouped corr.
    * Unlike the built-in streaming corr (order-dependent double updates),
    * every moment here is an EXACT decimal sum — quantity is integral,
    * price/discount are 2-dp, so x, x², and x·y are all exactly
    * representable — and the Pearson formula is then evaluated once in
    * double, operator-for-operator identical to the oracle. ONE scan,
    * one 9-moment partial-mergeable aggregate, three result rows. */
  def qCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(15, 2)
    val q = col("l_quantity").cast(dec)
    val p = col("l_extendedprice").cast(dec)
    val d = col("l_discount").cast(dec)
    val m = t(s, dir, "lineitem").agg(
      count(lit(1)).cast("double").as("n"),
      sum(q).cast("double").as("sq"),
      sum(p).cast("double").as("sp"),
      sum(d).cast("double").as("sd"),
      sum(q * q).cast("double").as("sqq"),
      sum(p * p).cast("double").as("spp"),
      sum(d * d).cast("double").as("sdd"),
      sum(q * p).cast("double").as("sqp"),
      sum(q * d).cast("double").as("sqd"),
      sum(p * d).cast("double").as("spd"))
    def pearson(sx: String, sy: String, sxy: String,
                sxx: String, syy: String): Column =
      round((col("n") * col(sxy) - col(sx) * col(sy)) /
        (sqrt(col("n") * col(sxx) - col(sx) * col(sx)) *
          sqrt(col("n") * col(syy) - col(sy) * col(sy))), 4)
    orderedAll(m
      .withColumn("c_qp", pearson("sq", "sp", "sqp", "sqq", "spp"))
      .withColumn("c_qd", pearson("sq", "sd", "sqd", "sqq", "sdd"))
      .withColumn("c_pd", pearson("sp", "sd", "spd", "spp", "sdd"))
      .selectExpr(
        """stack(3, 'qty_price', c_qp, 'qty_disc', c_qd,
          |         'price_disc', c_pd) AS (pair, corr)""".stripMargin))
  }

  /** Skyline / Pareto frontier (§2.18): parts not dominated on
    * (cheaper-or-equal price, larger-or-equal size, one strict) — the
    * classic multi-criteria OLAP operator (Börzsönyi et al.'s SKYLINE
    * OF). NOT the naive quadratic NOT-EXISTS self-join: sorting by
    * integer-cents price, a part is on the frontier iff its size beats
    * the running max over all STRICTLY cheaper rows (range frame to
    * −1 cent) and it holds the max within its own price point — one
    * window pass, O(n log n), and the range frame is exact integer
    * arithmetic in both engines. At 100 TB: locally skyline each
    * partition (the filter is a monotone contraction), then one tiny
    * global re-sweep over the surviving candidates. */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_size"),
      expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("pc"))
    val cheaper = Window.orderBy(col("pc").asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val samePc = Window.partitionBy(col("pc"))
    orderedAll(p
      .withColumn("m_lt", max(col("p_size")).over(cheaper))
      .withColumn("m_eq", max(col("p_size")).over(samePc))
      .filter((col("m_lt").isNull || col("p_size") > col("m_lt")) &&
        col("p_size") === col("m_eq"))
      .select(col("p_partkey"), col("pc"), col("p_size")))
  }

  /** Statistical mode (§2.31): each nation's most frequent order
    * priority, tie-broken to the lexicographically smallest priority (the
    * fixture's priorities are near-uniform, so ties are live, not
    * theoretical). Count aggregate + one rank window over the ≤
    * nations×priorities aggregate — the raw fact table is never
    * window-sorted. */
  def qMode(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority").as("pri"))
      .join(t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "pri").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("n_name")
      .orderBy(col("n").desc, col("pri").asc)
    orderedAll(counts
      .withColumn("n_total",
        sum("n").over(Window.partitionBy("n_name")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("n_name"), col("pri").as("mode_pri"),
        col("n").as("n_mode"), col("n_total")))
  }

  // ---- §2.45 set-op / aggregate dialect completeness -------------------

  /** EXCEPT ALL — the multiset difference q_except's DISTINCT variant
    * can't express: suppkey OCCURRENCES on returned ('R') lines minus,
    * one-for-one, occurrences on accepted ('A') lines. The surviving
    * multiplicity (collapsed to counts for a bounded output) is the
    * per-supplier excess-return signal; bag semantics are the point —
    * a supplier appearing 5× in R and 3× in A survives exactly twice.
    * Spark plans exceptAll as a count-and-replicate over one shuffle —
    * same cost class as the DISTINCT variant at 100 TB. */
  def qExceptAll(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    orderedAll(li.filter(col("l_returnflag") === "R")
      .select(col("l_suppkey").as("suppkey"))
      .exceptAll(li.filter(col("l_returnflag") === "A")
        .select(col("l_suppkey").as("suppkey")))
      .groupBy("suppkey").agg(count(lit(1)).as("excess_r")))
  }

  /** INTERSECT ALL — the multiset intersection (min of multiplicities):
    * per suppkey, the number of R occurrences matched one-for-one by an
    * A occurrence. Together with q_except_all this recovers both halves
    * of the bag decomposition R = (R ∩ A) ⊎ (R ∖ A). */
  def qIntersectAll(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    orderedAll(li.filter(col("l_returnflag") === "R")
      .select(col("l_suppkey").as("suppkey"))
      .intersectAll(li.filter(col("l_returnflag") === "A")
        .select(col("l_suppkey").as("suppkey")))
      .groupBy("suppkey").agg(count(lit(1)).as("matched_r")))
  }

  /** Multi-aggregate pivot (§2.47): event count AND cents sum per
    * (user, type) in one pivot — the two-measure crosstab q_pivot's
    * single-agg form can't emit. Spark suffixes the pivot value with
    * each named aggregate (click_n, click_c, …); the oracle mirrors
    * with conditional aggregation under the same names. Same plan class
    * as q_pivot: one mergeable aggregate, pivot columns fixed up front
    * (never data-dependent — the 100 TB contract). */
  def qPivotMulti(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    orderedAll(t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .na.fill(0L, types.flatMap(t => Seq(s"${t}_n", s"${t}_c"))))
  }

  /** Discrete (type-1) percentiles (§2.47): per order priority, the
    * SMALLEST price-cents value whose cumulative count reaches p for
    * p ∈ {50, 90, 99} — the percentile_disc semantics (an actual data
    * value, no interpolation), complementing q_percentile's continuous
    * form. Spelled histogram-first: raw rows collapse to (priority,
    * cents, cnt), then [[DistRank.cumulative]] + [[DistRank.discrete]]
    * (the all-integer rule cum·100 ≥ p·n). Near-distinct cents make the
    * per-priority histogram fact-scale on 5 tasks, so the cumulative
    * sum is DistRank-gated (per-priority bucket offsets). */
  def qPercentileDisc(s: SparkSession, dir: String): DataFrame = {
    val h0 = t(s, dir, "orders")
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy("o_orderpriority", "cents")
      .agg(count(lit(1)).as("cnt"))
    val (b, h) = DistRank.gate(s, h0, 1000000L,
      Pins.slot("pdisc_auto", dir))
    val by = Seq("o_orderpriority")
    orderedAll(DistRank.discrete(DistRank.cumulative(h, by, "cents", "cnt", b),
        by, "cents", Seq(50 -> "p50", 90 -> "p90", 99 -> "p99"))
      .withColumnRenamed("tot", "n"))
  }

  /** Boolean / conditional aggregate functions (§2.45): bool_and /
    * bool_or / count_if per event type — the assertion-style aggregates
    * data-quality rules compile to ("EVERY row in this partition
    * satisfies X"). All three are codegen'd built-ins and mergeable
    * (AND/OR/SUM monoids), so they map-side combine like any sum. */
  def qAggBools(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type")
      .agg(expr("bool_and(cents > 1000)").as("all_over_10"),
        expr("bool_or(cents > 40000)").as("any_over_400"),
        expr("count_if(cents > 10000)").as("n_over_100"),
        count(lit(1)).as("n")))
}
