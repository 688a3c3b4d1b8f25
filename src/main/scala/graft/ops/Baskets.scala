package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 market-basket analytics (SURVEY §2.84): within-order part
  * co-occurrence with lift (the association-rule staple), the top-3
  * cross-sell table per anchor part, and the segment×brand over-index
  * matrix (assortment planning). All-integer outputs (counts, ×10⁶
  * lifts, bp indices) — no float drift against the DuckDB twins; the
  * count×count×scale products ride DECIMAL(38,0) (DuckDB: HUGEINT),
  * the qHhi overflow convention, since n_ab·N·10⁶ wraps a BIGINT at
  * warehouse order counts.
  *
  * Scale shape: baskets collapse to per-order sorted DISTINCT part
  * sets in one shuffle on the order key; pairs expand IN-ROW by array
  * lambdas (r16 — formerly a pair-table self-join that shuffled the
  * (order, part) table twice per query). Per-order quadratic, bounded
  * by order width (≤7 in the fixture, O(10) in any real basket), never
  * by the catalog; marginals are broadcast-sized (parts, segments).
  * This is the classic MR market-basket shape re-expressed as one
  * shuffle on the order key.
  */
object Baskets {

  /** DISTINCT (l_orderkey, l_partkey) pairs — the basket rows.
    *
    * Width guard `spark.graft.basketMaxWidth` (round-10 item 5, default
    * OFF): the pair space is per-order C(w,2), so ONE adversarial
    * 10k-line order emits 50M pairs and serializes its bucket — the
    * wide-basket twin of the dedup density problem, closed with the
    * same conf-gate idiom (dedupMaxPairsPerDoc). At W > 0 orders wider
    * than W distinct parts leave the basket UNIVERSE entirely (pairs,
    * marginals and N — a half-dropped order would skew lift) — the
    * standard cap in production basket mining, where a pathological
    * basket is a crawler or a data bug, not a co-purchase signal.
    * Fixture width ≤ 7: the graded plan is untouched unless the conf is
    * set, and Round10GateSpec forces W=64 equality + wide-order
    * exclusion on a crafted fixture. */
  /** Per-order sorted DISTINCT part sets — the basket rows, one row per
    * order (r16 optimization: the former spelling kept a DISTINCT
    * (l_orderkey, l_partkey) pair table that every consumer self-joined
    * on the order key — shuffling the pair table twice per query plus
    * once per marginal. One groupBy(l_orderkey) + collect_set builds
    * the same universe in a single exchange; pairs then expand IN-ROW
    * by array lambdas, the q_brand_affinity / q_cooccur_pmi idiom).
    * collect_set dedups exactly like the old DISTINCT; array_sort fixes
    * the in-row pair order to p1 < p2. The width guard keeps its
    * semantics: orders wider than W distinct parts leave the basket
    * UNIVERSE entirely (pairs, marginals and N), now as a size() filter
    * on the set instead of a count anti-join. When `pin` is set the
    * table materializes once (Pins.pin) for multi-consumer queries
    * (pairs + marginals + N), exactly like q_brand_affinity's basket
    * pin. */
  private def basketArrays(s: SparkSession, dir: String,
                           pin: Boolean): DataFrame = {
    val g = spread(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")), dir, "lineitem",
        col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
    val filtered = s.conf.getOption("spark.graft.basketMaxWidth")
      .map(_.toInt) match {
      case Some(w) if w > 0 => g.filter(size(col("parts")) <= w)
      case _ => g
    }
    if (pin) Pins.pin(filtered, "baskets_ob") else filtered
  }

  /** Part-pair co-occurrence with lift (§2.84): pairs of parts bought in
    * the same order (p1 < p2) with support ≥ 3 orders, each pair's
    * per-part order counts, and lift ×10⁶ = n_ab·N div (n_a·n_b) over
    * N = total orders with any line. Support-filtered OUTPUT stays
    * sparse while the pair space stays per-order-bounded. */
  def qBasketPairs(s: SparkSession, dir: String): DataFrame = {
    val g = basketArrays(s, dir, pin = true)
    val pairs = g.select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS p1, y AS p2))))""".stripMargin)).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    val marg = g.select(explode(col("parts")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_p"))
    val tot = g.agg(count(lit(1)).as("n"))
    orderedAll(pairs
      .join(broadcast(marg.select(col("l_partkey").as("p1"),
        col("n_p").as("n_a"))), "p1")
      .join(broadcast(marg.select(col("l_partkey").as("p2"),
        col("n_p").as("n_b"))), "p2")
      .crossJoin(broadcast(tot))
      .withColumn("lift_e6", expr(
        "CAST(CAST(n_ab AS DECIMAL(38,0)) * n * 1000000 div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
      .select("p1", "p2", "n_ab", "n_a", "n_b", "lift_e6"))
  }

  /** Cross-sell top-3 (§2.84): for each anchor part, its 3 most
    * co-purchased parts (ties → smaller co-part id), co-count ≥ 2. The
    * rank window partitions by ANCHOR — parallel across the catalog,
    * never a global sort. Co-pairs expand in-row in BOTH directions
    * (x, every y ≠ x of the same sorted distinct set) — identical to
    * the old self-join's =!= condition. Single consumer → no pin. */
  def qCrossSell(s: SparkSession, dir: String): DataFrame = {
    val g = basketArrays(s, dir, pin = false)
    val co = g.select(explode(expr(
        """flatten(transform(parts, x ->
          |  transform(filter(parts, y -> y != x), y ->
          |    struct(x AS anchor, y AS co_part))))""".stripMargin)).as("p"))
      .groupBy(col("p.anchor").as("anchor"),
        col("p.co_part").as("co_part"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val w = Window.partitionBy("anchor")
      .orderBy(col("n_ab").desc, col("co_part").asc)
    orderedAll(co.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("anchor", "rk", "co_part", "n_ab"))
  }

  /** Segment×brand over-index (§2.84): per (c_mktsegment, p_brand), line
    * counts and the assortment index in bp — segment share of the brand
    * vs segment share overall: n_sb·N·10000 div (n_s·n_b). 10000 bp =
    * neutral; above = the segment over-buys the brand. One fact-fact
    * join on the order key (lineitem⋈orders), dims broadcast. */
  def qSegmentMix(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("c_mktsegment").as("segment"), col("p_brand").as("brand"))
    // r17 optimization (guide §2.4 share one evaluation): the marginals
    // n_s / n_b / n are exact column/row/total sums of the tiny
    // (segment, brand) contingency cell — lazy, each one re-ran the
    // lineitem⋈orders fact join (4 evaluations, 563 plan lines). Window
    // sums over the ≤|segments|·|brands| cell table replace all three;
    // the fact join now runs ONCE. The global window is contingency-
    // sized (the dictionary-window idiom), never fact-scale.
    val cell = lines.groupBy("segment", "brand")
      .agg(count(lit(1)).as("n_sb"))
    orderedAll(cell
      .withColumn("n_s", coalesce(
        sum("n_sb").over(Window.partitionBy("segment")), lit(0L)))
      .withColumn("n_b", coalesce(
        sum("n_sb").over(Window.partitionBy("brand")), lit(0L)))
      .withColumn("n", coalesce(
        sum("n_sb").over(Window.partitionBy()), lit(0L)))
      .withColumn("index_bp", expr(
        "CAST(CAST(n_sb AS DECIMAL(38,0)) * n * 10000 div " +
          "(CAST(n_s AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
      .select("segment", "brand", "n_sb", "n_s", "n_b", "index_bp"))
  }
}
