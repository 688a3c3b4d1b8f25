package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 ranking-fusion / time-weighted readouts (SURVEY §2.67):
  * reciprocal-rank fusion of two retrieval runs (the standard way to
  * merge lexical + vector rankings without score calibration), the
  * volume-weighted average price curve (the quantity-robust price
  * readout), and an exponential-decay engagement score (the
  * recency-weighted user ranking behind every "active user" surface).
  * RRF and decay weights are per-row ×10⁶ integer quantizations, so
  * every sum is exact and order-independent. */
object Fusion {

  /** RRF rank weights ×10⁶ for ranks 1..10 (k = 60, the canonical
    * constant): round(10⁶ / (60 + r)). Shared with the oracle as
    * interpolated literals — no engine divides at query time. */
  val rrfWeights: IndexedSeq[Long] =
    (1 to 10).map(r => math.round(1e6 / (60 + r)))

  /** Reciprocal-rank fusion (§2.67): per probe (vec_id < 20), fuse the
    * exact-cosine top-10 with the raw-dot top-10 (unnormalized — ranks
    * genuinely differ when norms vary) via RRF_u = Σ runs w(rank), and
    * emit the fused top-5 under the (score desc, vec_id asc) total
    * order. One broadcast-probe scan feeds BOTH rankers; the fusion is
    * arithmetic on ≤ 20·|candidates| ranked rows. */
  def qRrf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val scored = emb.join(broadcast(probes), col("vec_id") =!= col("pid"))
      .withColumn("cos", Vectors.cosine(col("pe"), col("embedding")))
      .withColumn("dot", Vectors.dot(col("pe"), col("embedding")))
    val wa = Window.partitionBy(col("pid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val wb = Window.partitionBy(col("pid"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    val wCase = (r: String) => rrfWeights.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN ${w}L" }
      .mkString(s"CASE $r ", " ", " ELSE 0L END")
    val fused = scored
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter(col("ra") <= 10 || col("rb") <= 10)
      .withColumn("rrf_u",
        expr(wCase("ra")) + expr(wCase("rb")))
    val wf = Window.partitionBy(col("pid"))
      .orderBy(col("rrf_u").desc, col("vec_id").asc)
    orderedAll(fused
      .withColumn("fused_rank", row_number().over(wf).cast("long"))
      .filter(col("fused_rank") <= 5)
      .select(col("pid"), col("fused_rank"), col("vec_id"),
        col("rrf_u")))
  }

  /** Volume-weighted average price (§2.67): per 30-day ship bucket,
    * total quantity, exact price·quantity cents, and the VWAP in
    * centi-milli (cents ×10³) — the size-robust price curve a plain
    * average distorts. One mergeable aggregate; all products exact
    * BIGINTs. */
  def qVwap(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "lineitem")
      .select(
        expr("CAST(unix_micros(l_shipdate) div 86400000000 div 30 " +
          "AS BIGINT)").as("bucket"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("q"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_lines"),
        sum("q").cast("long").as("qty"),
        sum(expr("c * q")).cast("long").as("pq_cents"))
      .withColumn("vwap_cm", expr("pq_cents * 1000 div qty"))
      .select("bucket", "n_lines", "qty", "pq_cents", "vwap_cm"))

  /** Exponential-decay engagement score (§2.67): per user, the
    * half-life-weighted (7-day) cents sum anchored at 2024-01-31 —
    * contrib = cents · round(2⁻ᵃᵍᵉ/⁷ ×10⁶), summed exactly, emitted
    * div 10⁶ — and the top-20 users under (score desc, user asc). The
    * per-row weight is the ONLY double op (same pow both engines);
    * sums are exact integers, so aggregation order cannot flap the
    * hash. */
  def qDecayScore(s: SparkSession, dir: String): DataFrame = {
    val anchor = 19753L // 2024-01-31 as epoch days
    val scored = t(s, dir, "events")
      .select(col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr(s"$anchor - unix_micros(ts) div 86400000000").as("age"))
      .withColumn("w_u", expr(
        "CAST(round(pow(0.5, CAST(age AS DOUBLE) / 7.0) * 1000000) " +
          "AS BIGINT)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cents * w_u")).cast("long").as("raw"))
      .withColumn("score_u", expr("raw div 1000000"))
    // top-20 under a global order: the serial spelling is one
    // unpartitioned window over the USER aggregate; at scale
    // `spark.graft.rankBuckets` = B engages the shared [[DistRank]]
    // two-pass rank with maxRank pruning — only the buckets that can
    // contain ranks ≤ 20 are ever sorted (bit-equal, Round9RankSpec).
    // High crossover: the serial plan is a cheap top-20 over a user
    // aggregate (BASELINE.md 100×: serial 2.1 s vs gated 3.1 s) — the
    // bucket pass only wins once the user dim outgrows one task.
    val (b, scoredG) = DistRank.gate(s, scored, 10000000L, Pins.slot("decay_auto", dir))
    val w = Window.orderBy(col("score_u").desc, col("user_id").asc)
    val top =
      if (b <= 0) scoredG.withColumn("rk", row_number().over(w).cast("long"))
      else DistRank.withRank(scoredG, -col("score_u"), col("user_id"), b,
        "rk", maxRank = 20L)
    orderedAll(top
      .filter(col("rk") <= 20)
      .select("rk", "user_id", "n_events", "score_u"))
  }
}
