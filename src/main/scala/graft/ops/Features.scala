package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 §2.23 feature-engineering / reporting extensions: the
  * statistics a training-data pipeline computes AFTER curation — vocabulary
  * coverage for tokenizer sizing, deterministic weighted sampling for mix
  * construction, quantile normalization for feature scaling — plus three
  * reporting staples (exact rolling median, decile lift/gains table,
  * equi-height histogram) and the rolling-distinct WAU series. All
  * DuckDB-oracled; integer or source-column values only (the established
  * float policy: no computed FP reaches the emitted schema).
  */
object Features {

  /** Vocabulary coverage curve (tokenizer sizing): rank tokens by corpus
    * frequency and report the cumulative corpus share of the top-20 ranks
    * in exact basis points — the "how big must the vocab be to cover X%"
    * curve every tokenizer design starts from. The token count
    * map-combines; ranking + running sum are a single-partition window
    * over the VOCAB-sized aggregate (never the corpus), and the 1-row
    * total rides a broadcast. At 100 TB the plan is identical: corpus
    * scan → mergeable count → tiny-table window. */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val cnts = t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum("cnt").cast("long").as("total"))
    val ord = Seq(col("cnt").desc, col("token").asc)
    val ranked = cnts
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*))
        .cast("long"))
      .withColumn("cum_cnt", sum("cnt").over(Window.orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .filter(col("rank") <= 20)
    orderedAll(ranked.crossJoin(broadcast(tot))
      .selectExpr("rank", "token", "cnt",
        "(cum_cnt * 10000) div total AS cum_share_bp"))
  }

  /** Exact rolling median (7-point, trailing) of per-type daily revenue —
    * the robust trend line a dashboard draws instead of a mean. Runs over
    * DAILY AGGREGATES (≤ span×types rows), never raw events, so the
    * in-frame sort is over ≤7 BIGINTs; the median is emitted ×2 (sum of
    * the two middle elements; 2× the middle when the frame is odd) so no
    * division leaves the integers. Engine policy: both sides sort an
    * explicit frame list and index it — no engine median() is trusted
    * (interpolation order differs in the last ULP). */
  def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day").agg(sum("cents").as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    orderedAll(daily
      .withColumn("sorted", array_sort(collect_list("y").over(w)))
      .withColumn("wn", size(col("sorted")).cast("long"))
      .selectExpr("event_type", "day", "y", "wn",
        "element_at(sorted, CAST((wn + 1) div 2 AS INT)) " +
          "+ element_at(sorted, CAST(wn div 2 + 1 AS INT)) AS med_x2"))
  }

  /** Decile lift / gains table: customers bucketed into spend deciles
    * (ntile(10) under the (spend desc, custkey) total order), each
    * decile's revenue share and cumulative share in exact basis points —
    * the marketing/risk gains chart. The per-customer aggregate
    * map-combines; the ntile runs over the CUSTOMER aggregate (≪ fact
    * rows) through [[DistRank.ntile]] — bit-equal (Round9RankSpec), no
    * single-partition sort in the bucketed plan. spend is a sum over
    * non-null prices, so (-spend) asc is the (spend desc) order. */
  def qDecileLift(s: SparkSession, dir: String): DataFrame = {
    val spend0 = t(s, dir, "orders")
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy("o_custkey").agg(sum("cents").as("spend"))
    // customer-dim rank replaces the serial sort outright → low crossover
    val (b, spend) = DistRank.gate(s, spend0, 1000000L, Pins.slot("decile_auto", dir))
    val dec = DistRank.ntile(spend, -col("spend"), col("o_custkey"), 10, b,
        "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum("spend").as("cents"))
    val tot = dec.agg(sum("cents").cast("long").as("total"))
    orderedAll(dec
      .withColumn("cum_cents", sum("cents").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .crossJoin(broadcast(tot))
      .selectExpr("decile", "n_cust", "cents",
        "(cents * 10000) div total AS share_bp",
        "(cum_cents * 10000) div total AS cum_share_bp"))
  }

  /** Equi-height histogram over order value: 20 equal-population buckets
    * (ntile under the (cents, orderkey) total order) with count and exact
    * cent bounds — the quantile-sketch report drawn exactly. The
    * summary is [[DistRank.ntileBounds]], with `b` from its gate. */
  def qHistEquiheight(s: SparkSession, dir: String): DataFrame = {
    val o0 = t(s, dir, "orders")
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .select("cents", "o_orderkey")
    // crossover 10⁷ rows (BASELINE.md §2.23); on 4 cores at 100× (1.5·10⁷
    // orders) the k-select ran 14 s against 35 s serial
    val (b, o) = DistRank.gate(s, o0, 10000000L, Pins.slot("equiheight_auto", dir))
    orderedAll(DistRank.ntileBounds(o, col("cents"), col("o_orderkey"), 20, b)
      .select(col("bucket"), col("n"), col("lo").as("lo_cents"),
        col("hi").as("hi_cents")))
  }

  /** Rolling 7-day distinct actives (the WAU series): for each report
    * day, the distinct users active in the 7 days ending on it. Exact
    * rolling COUNT DISTINCT doesn't decompose over a window frame, so the
    * scalable identity is used instead: each distinct (user, day) pair
    * contributes to report days day..day+6 — a bounded 7× explode of the
    * per-user-day DEDUPLICATED table (≪ raw events), then one
    * count-distinct aggregate. That is the 100 TB plan verbatim; the
    * sliding-window blowup is the window width, a constant. */
  def qRollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .select("user_id", "day").distinct()
    orderedAll(ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)"))
        .as("report_day"))
      .groupBy("report_day")
      .agg(countDistinct(col("user_id")).as("wau")))
  }

  /** Deterministic weighted sampling (mix construction): per source, the
    * bottom-3 documents by priority h/w — the A-Res weighted-reservoir
    * rule with an ENGINE-PORTABLE integer priority: h = the 24-bit value
    * of the first 6 hex chars of md5(doc_id ':ws'), w = n_chars, priority
    * = (h·100000) div w, ties broken by doc_id. Longer docs get
    * proportionally higher selection odds, and both engines re-derive the
    * identical sample from the identical md5 — the documented portable
    * recipe (SURVEY §2.14). Per-source bottom-k is a window row_number on
    * the fixture (20 sources); at 100 TB the same bottom-k rides the
    * BoundedMinK aggregate (O(k) state, map-side merge) — no per-source
    * sort. */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("h24", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':ws')), " +
          "1, 6), 16, 10) AS BIGINT)"))
      .withColumn("pri", expr("(h24 * 100000) div n_chars"))
    orderedAll(d
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("pri").asc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"),
        col("pri")))
  }

  /** Quantile normalization (feature scaling): each event value mapped to
    * its exact within-type quantile in basis points — rank under the
    * (cents, event_id) total order, scaled by (n−1) so the min lands on 0
    * and the max on 10000. The standard rank-transform a feature pipeline
    * applies before training. One shuffle; both window functions share the
    * same (event_type) partitioning. Low-cardinality window keys (5 types)
    * serialize per-type sorts at extreme scale — the documented swap is
    * the bucketed rank path of [[DistRank]] (as q_interarrival's
    * [[DistRank.atRanks]]), which computes the same ranks without a
    * per-type global sort. */
  def qQuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents").asc, col("event_id").asc)
    orderedAll(t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("event_type")).cast("long"))
      .selectExpr("event_id", "event_type", "cents",
        "((rn - 1) * 10000) div greatest(n - 1, 1) AS qnorm_bp"))
  }

  /** Min-max scaling audit (§2.96): per part brand, parts binned by
    * their min-max-scaled retail price — scaled_bp = (x − min)·10⁴
    * div (max − min) over the brand's cents range, rolled into the 10
    * [0,1000), …, [9000,10000] decile bins (the max lands in the top
    * bin via least()). The third normalizer next to q_quantile_norm
    * (rank-based) and q_zscore_outliers (moment-based): range-based,
    * the one bounded-activation feature pipelines use. Degenerate
    * ranges (max = min) scale to 0 by convention. Two mergeable
    * aggregates over one brand shuffle; output is brands × ≤10 rows. */
  def qMinmaxScale(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .select(col("p_brand"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"))
    val rng = p.groupBy(col("p_brand").as("b2"))
      .agg(min("cents").as("lo"), max("cents").as("hi"))
    orderedAll(p.join(broadcast(rng), col("p_brand") === col("b2"))
      .withColumn("scaled_bp", expr(
        "CASE WHEN hi = lo THEN 0L " +
          "ELSE (cents - lo) * 10000 div (hi - lo) END"))
      .withColumn("bin", expr("least(scaled_bp div 1000, 9L)"))
      .groupBy("p_brand", "bin")
      .agg(count(lit(1)).as("n_parts"),
        min("scaled_bp").as("min_bp"), max("scaled_bp").as("max_bp"))
      .select("p_brand", "bin", "n_parts", "min_bp", "max_bp"))
  }
}
