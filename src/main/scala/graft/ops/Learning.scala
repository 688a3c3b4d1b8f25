package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 §2.26 ML-adjacent extensions: the statistics and feature
  * transforms a training pipeline runs between curation and the trainer
  * (hashing-trick featurization, smoothed target encoding, chi-square
  * independence), two monitoring staples (exact dyadic EWMA, CUSUM
  * changepoint accumulation), multi-hop BFS reachability on the token
  * graph, order-to-ship latency tail percentiles, and incremental
  * aggregate maintenance (the IVM merge). All DuckDB-oracled. Float
  * policy: every emitted value is either exact integer arithmetic or a
  * fixed sequence of IEEE double ops over exact integer inputs (the
  * q_abtest epilogue recipe) — nothing can flap a hash compare. */
object Learning {

  /** Hashing-trick featurization (Vowpal-Wabbit/scikit `HashingVectorizer`
    * style): every token is hashed into one of 16 feature buckets and the
    * corpus is summarized per (source, bucket) — occurrence mass and
    * document frequency, i.e. the bucketed feature matrix a linear model
    * trains on without materializing a vocabulary. The bucket hash is the
    * ENGINE-PORTABLE md5 recipe (24-bit hex-prefix value mod 16), so both
    * engines derive identical buckets (SURVEY §2.14). One explode + one
    * mergeable aggregate: at 100 TB this is a pure map-side-combine scan —
    * the bucket space (16) is tiny, so partial aggregation collapses each
    * partition to ≤ sources×16 rows before the shuffle. */
  def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat(token, ':fh')), 1, 6), 16, 10) " +
          "AS BIGINT) % 16"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs")))

  /** Smoothed mean target encoding (the categorical-feature staple):
    * each market segment is encoded as the shrunk mean order value
    * `(sum + m·prior) / (n + m)` with m = 10 and prior = the global mean —
    * the standard leakage-resistant encoding for high-cardinality
    * categoricals. All arithmetic is cent-exact BIGINT; both divisions
    * have non-negative operands, so Spark's truncating `div` and DuckDB's
    * flooring `//` agree. The fact-side join keys on custkey (a plain
    * shuffle equi-join — the dimension is customer-sized, NOT broadcast
    * at 100 TB); the global prior is a 1-row broadcast. */
  def qTargetEncode(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val per = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    val prior = o.agg(expr("sum(cents) div count(1)").as("prior_cents"))
    orderedAll(per.crossJoin(broadcast(prior))
      .selectExpr("segment", "n_orders", "sum_cents", "prior_cents",
        "(sum_cents + 10 * prior_cents) div (n_orders + 10) AS enc_cents"))
  }

  /** Chi-square independence audit between market segment and order
    * priority — the categorical-feature-selection statistic (does this
    * feature carry signal about that label?). The contingency table is
    * exact BIGINT counts; marginals come from windows over the ≤ 25-cell
    * AGGREGATE (never the fact table). Each cell emits its χ² contribution
    * `(O·N − R·C)² / (R·C·N)`: the numerator difference is exact BIGINT,
    * then one fixed sequence of IEEE double ops (square, three divides)
    * that both engines correctly-round identically — the q_abtest
    * epilogue recipe. Per-cell contributions (not a pre-summed total) so
    * no cross-cell double addition order exists to disagree on. */
  def qChisq(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "orders").select("o_custkey", "o_orderpriority")
      .join(t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("observed"))
    orderedAll(cells
      .withColumn("r_tot",
        sum(col("observed")).over(Window.partitionBy("segment")))
      .withColumn("c_tot",
        sum(col("observed")).over(Window.partitionBy("priority")))
      .withColumn("n_tot", sum(col("observed")).over(Window.partitionBy()))
      .selectExpr("segment", "priority", "observed", "r_tot", "c_tot",
        "n_tot",
        """round(
          |  CAST(observed * n_tot - r_tot * c_tot AS DOUBLE)
          |    * CAST(observed * n_tot - r_tot * c_tot AS DOUBLE)
          |    / CAST(r_tot AS DOUBLE) / CAST(c_tot AS DOUBLE)
          |    / CAST(n_tot AS DOUBLE), 4) AS chi2_contrib""".stripMargin))
  }

  /** Exact trailing EWMA of per-type daily revenue — the smoothed series
    * every monitoring dashboard plots. Instead of the textbook infinite
    * recurrence (whose floating accumulation is engine- and
    * order-dependent), the trailing-7 dyadic approximation: weights
    * 64,32,…,1 over the 7 most recent daily observations, normalized by
    * the weights actually present — ALL integer arithmetic, so the
    * smoothing is bit-exact in both engines and mergeable-window-friendly.
    * One window shuffle on event_type over the DAILY aggregate (≤ types ×
    * days rows — the window input is never raw events). */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day")
      .agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lags = (0 to 6).map(k =>
      (if (k == 0) col("cents") else lag(col("cents"), k).over(w))
        .as(s"x$k"))
    val num = (0 to 6).map(k =>
      coalesce(col(s"x$k"), lit(0L)) * lit(1L << (6 - k))).reduce(_ + _)
    val den = (0 to 6).map(k =>
      when(col(s"x$k").isNotNull, lit(1L << (6 - k))).otherwise(lit(0L)))
      .reduce(_ + _)
    orderedAll(daily
      .select(col("event_type") +: col("day") +: lags: _*)
      .withColumn("num", num).withColumn("den", den)
      .selectExpr("event_type", "day", "x0 AS cents",
        "num div den AS ewma_c"))
  }

  /** CUSUM changepoint accumulation per event type: the running sum of
    * each day's deviation from the type's mean daily revenue — the
    * classic drift detector (a sustained shift makes |CUSUM| grow
    * linearly; noise cancels). The target is `total div n_days`
    * (non-negative, so floor = truncation in both engines); deviations
    * and their running sum are SIGNED exact BIGINTs — no rounding or
    * division ever touches a negative. Two same-key shuffles over the
    * daily aggregate: the per-type target (a tiny aggregate broadcast
    * back) and one running-sum window. */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day")
      .agg(sum(col("cents")).as("cents"))
    val target = daily.groupBy(col("event_type").as("et"))
      .agg(expr("sum(cents) div count(1)").as("target_c"))
    orderedAll(daily
      .join(broadcast(target), col("event_type") === col("et"))
      .withColumn("cusum_c",
        sum(col("cents") - col("target_c")).over(
          Window.partitionBy("event_type").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("event_type"), col("day"), col("cents"),
        col("target_c"), col("cusum_c")))
  }

  /** Multi-hop BFS reachability on the token co-occurrence graph: from
    * the lexicographically smallest token, the minimum hop count (≤ 3) to
    * every reachable token — the neighborhood-expansion primitive behind
    * "related terms" and graph-feature extraction. Each hop is one keyed
    * equi-join frontier expansion plus a left-anti against the visited
    * set (vocabulary-sized frames, never doc-sized), exactly the
    * iterative-join shape that scales: a 1000-executor BFS is the same
    * three joins with the frontier shuffle-partitioned by token. The hop
    * bound makes the loop statically finite (the q_kmeans_iter /
    * q_pagerank precedent). */
  def qGraphBfs(s: SparkSession, dir: String): DataFrame = {
    val dt = t(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "").distinct()
    val und = dt.as("a")
      .join(dt.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("a.token") < col("b.token"))
      .select(col("a.token").as("src"), col("b.token").as("dst"))
      .distinct()
    // Pin the edge list (the k-core/pagerank loop discipline): it is
    // joined once per hop, and unpinned each hop re-runs the doc-sized
    // posting self-join — the corpus-scale cost; the edge list itself
    // is vocabulary², tiny. Measured 15.5 → 4.2 s at 100×.
    val edges = graft.ops.Pins.pin(und.unionAll(
      und.select(col("dst").as("src"), col("src").as("dst"))),
      Pins.slot("bfs_edges", dir))
    // r16 optimization: pin the SEED and each hop's frontier too (the
    // full loop-pin discipline, not just the edge list). Left lazy,
    // hop k's anti-join and the final union re-evaluated every earlier
    // frontier — frontier 2 ran twice, frontier 1 three times, the
    // corpus-scan seed aggregate four times (1916 plan lines, 66
    // scans; at scale each re-evaluation re-joins the big edge list).
    // Pinned, every hop runs exactly once (212 lines, 1.2 -> 0.8 s
    // steady at sf0.1); frontiers are vocabulary-sized, so the pins
    // are trivial.
    val seed = graft.ops.Pins.pin(
      dt.agg(min(col("token")).as("token")).withColumn("hops", lit(0L)),
      Pins.slot("bfs_seed", dir))
    var visited = seed
    var frontier = seed.select("token")
    for (k <- 1 to 3) {
      frontier = graft.ops.Pins.pin(edges
        .join(frontier.withColumnRenamed("token", "src"), "src")
        .select(col("dst").as("token")).distinct()
        .join(visited.select("token"), Seq("token"), "left_anti"),
        Pins.slot(s"bfs_f$k", dir))
      visited = visited.unionAll(
        frontier.withColumn("hops", lit(k.toLong)))
    }
    orderedAll(visited)
  }

  /** Order-to-ship latency tail report per ship month: n, min, p50, p90,
    * max of the order-date→ship-date gap in whole days. Percentiles are
    * EXACT rank selections — p50 is the sum of the two middle order
    * statistics (×2, so no division leaves the integers; the
    * q_rolling_median device) and p90 is the element at rank ⌈0.9·n⌉ =
    * (9n+9) div 10. Day math is integer epoch-days.
    *
    * Physical strategy — value-histogram k-select, NO row-level sort:
    * day-granular latency has a tiny value domain (≤ a few hundred
    * distinct days), so the exact distribution per month IS a small
    * histogram. One mergeable (month, lat_days) count — pure map-side
    * combine over the fact join — then every rank selection happens on
    * that months×values aggregate: a cumulative-count window locates
    * the histogram row holding each target rank (k ∈ [cum_before,
    * cum_before+cnt) picks the k-th order statistic without ever
    * ordering raw rows). The first cut was the obvious per-month
    * row-level rank window; month keys are low-cardinality, so that
    * sort serializes onto #months tasks. At local[32] the 100× smoke
    * reads the same (~28 s) for both — the 60 M ⋈ 6 M key join
    * dominates either way (co-locating by orderkey, q_join_bucketed
    * style, is the join's own 100 TB fix) — but the histogram plan is
    * the shape that survives 1000 executors: raw rows are touched
    * exactly once, by a combinable aggregate, and per-month
    * parallelism stops mattering. Since only the latency VALUE is
    * emitted, the k-th order statistic is tie-break-free and the
    * rewrite is bit-equal by construction. */
  def qShipLatency(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate")
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
    val lat = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        expr("year(l_shipdate) * 100 + month(l_shipdate)").cast("long")
          .as("ship_ym"),
        (expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
          - expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
          .as("lat_days"))
    val wv = Window.partitionBy("ship_ym").orderBy("lat_days")
    orderedAll(lat
      .groupBy("ship_ym", "lat_days").agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before", coalesce(sum("cnt").over(
        wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n",
        sum("cnt").over(Window.partitionBy("ship_ym")))
      .groupBy("ship_ym")
      .agg(max(col("n")).as("n"),
        min(col("lat_days")).as("min_days"),
        // the two middle ranks coincide for odd n — selecting each rank
        // separately counts the median twice, keeping med2 = 2·median
        sum(when(expr("(n + 1) div 2 - 1 " +
          "BETWEEN cum_before AND cum_before + cnt - 1"),
          col("lat_days"))).as("m_lo"),
        sum(when(expr("(n + 2) div 2 - 1 " +
          "BETWEEN cum_before AND cum_before + cnt - 1"),
          col("lat_days"))).as("m_hi"),
        max(when(expr("(n * 9 + 9) div 10 - 1 " +
          "BETWEEN cum_before AND cum_before + cnt - 1"),
          col("lat_days"))).cast("long").as("p90_days"),
        max(col("lat_days")).as("max_days"))
      .selectExpr("ship_ym", "n", "min_days",
        "CAST(m_lo + m_hi AS BIGINT) AS med2_days", "p90_days",
        "max_days"))
  }

  /** Incremental aggregate maintenance (the IVM merge): the per
    * (status, order month) revenue state computed from the base partition
    * (orders before 1997) is merged with a late-arriving delta batch
    * (orders from 1997 on) WITHOUT rescanning the base — count and sum
    * merge by addition, max by greatest, over a full-outer join on the
    * group key (a key can exist in either side alone). This is the
    * mergeable-partial-aggregate contract every streaming/batch
    * incremental pipeline relies on; the oracle recomputes from scratch
    * and must agree exactly. Both aggregates are mergeable and the merge
    * join keys on the group columns — at 100 TB the base is a stored
    * state table and only the delta is scanned. */
  def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1997-01-01").cast("timestamp")
    def agg(df: DataFrame, pfx: String): DataFrame = df
      .groupBy(
        col("o_orderstatus").as("status"),
        expr("year(o_orderdate) * 100 + month(o_orderdate)").cast("long")
          .as("ym"))
      .agg(count(lit(1)).as(s"n_$pfx"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as(s"c_$pfx"),
        max(col("o_orderkey")).as(s"mx_$pfx"))
    val o = t(s, dir, "orders")
    val base = agg(o.filter(col("o_orderdate") < cut), "base")
    val delta = agg(o.filter(col("o_orderdate") >= cut), "delta")
    orderedAll(base
      .join(delta, Seq("status", "ym"), "full_outer")
      .selectExpr("status", "ym",
        "coalesce(n_base, 0) AS n_base",
        "coalesce(n_delta, 0) AS n_delta",
        "coalesce(n_base, 0) + coalesce(n_delta, 0) AS n_total",
        "coalesce(c_base, 0) + coalesce(c_delta, 0) AS cents_total",
        "greatest(coalesce(mx_base, 0), coalesce(mx_delta, 0)) " +
          "AS max_orderkey"))
  }

  /** Hash-collision sweep (§2.98): the feature-hashing trade-off table
    * behind [[qFeatureHash]]'s bucket choice — for table sizes 2⁸, 2¹²
    * and 2¹⁶, how many DISTINCT vocabulary tokens collide (tokens −
    * occupied buckets), the collision share bp, and the worst bucket's
    * load. Hash: the engine-portable md5-prefix BIGINT used across the
    * sketch family (60-bit, mod 2ᵏ — identical in DuckDB). One distinct
    * vocab collapse feeds three literal-k folds; everything merges. */
  def qHashCollisions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = t(s, dir, "documents").filter(col("lang") === "en")
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "").distinct()
      .withColumn("h", expr(
        "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT)"))
    val ks = Seq(8, 12, 16).map(k => (k.toLong, 1L << k)).toDF("k", "m")
    orderedAll(vocab.crossJoin(broadcast(ks))
      .withColumn("bucket", expr("h % m"))
      .groupBy("k", "m", "bucket").agg(count(lit(1)).as("load"))
      .groupBy("k", "m")
      .agg(sum("load").cast("long").as("n_tokens"),
        count(lit(1)).as("buckets_used"),
        max("load").cast("long").as("max_load"))
      .withColumn("collisions", expr("n_tokens - buckets_used"))
      .withColumn("coll_bp", expr("collisions * 10000 div n_tokens"))
      .select("k", "m", "n_tokens", "buckets_used", "collisions",
        "coll_bp", "max_load"))
  }
}
