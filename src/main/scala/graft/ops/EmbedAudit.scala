package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 embedding-space audits (SURVEY §2.64): split-half centroid
  * drift per label (is the class geometry stable across the corpus?),
  * scalar-quantization distortion per PQ subspace (the error budget
  * behind q_vector_pq / q_vector_quantize), and the most-correlated
  * dimension pairs (the "is this embedding whitened" readout before
  * anyone trusts a product quantizer's independence assumption).
  * Coordinates ride the ×10⁴ integer lane policy; cross-engine doubles
  * appear only in sequential 64-lane folds or one final sqrt. */
object EmbedAudit {

  /** Split-half centroid cosine (§2.64): per label, the cosine between
    * the centroid of even vec_ids and odd vec_ids — 1.0 means the
    * class geometry is stable under the deterministic split; a drop
    * flags intra-class drift. Centroids are exact ×10⁴ integer-sum
    * lanes (the q_confusion recipe) divided once; the cosine folds the
    * 64 lanes SEQUENTIALLY (both engines: identical order). */
  def qCentroidShift(s: SparkSession, dir: String): DataFrame = {
    val cent = t(s, dir, "embeddings")
      .select(col("label"), (col("vec_id") % 2 === 0).as("even"),
        posexplode(col("embedding")))
      .groupBy(col("label"), col("even"), (col("pos") + 1).as("i"))
      .agg(sum(expr("CAST(round(CAST(col AS DOUBLE) * 10000) AS BIGINT)"))
        .as("s_u"), count(lit(1)).as("n"))
      .groupBy("label", "even")
      .agg(max("n").as("n"),
        transform(
          array_sort(collect_list(struct(col("i"), col("s_u"), col("n")))),
          x => x.getField("s_u").cast("double") / x.getField("n"))
          .as("cv"))
    val ev = cent.filter(col("even"))
      .select(col("label"), col("n").as("n_even"), col("cv").as("ca"))
    val od = cent.filter(!col("even"))
      .select(col("label").as("l2"), col("n").as("n_odd"),
        col("cv").as("cb"))
    val dot = aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
      acc + element_at(col("ca"), i.cast("int")) *
        element_at(col("cb"), i.cast("int")))
    val na = aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
      acc + element_at(col("ca"), i.cast("int")) *
        element_at(col("ca"), i.cast("int")))
    val nb = aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
      acc + element_at(col("cb"), i.cast("int")) *
        element_at(col("cb"), i.cast("int")))
    orderedAll(ev.join(od, col("label") === col("l2"))
      .withColumn("cos_u",
        round(dot / sqrt(na * nb) * 10000).cast("long"))
      .select(col("label").cast("long").as("label"), col("n_even"),
        col("n_odd"), col("cos_u")))
  }

  /** Scalar-quantization distortion (§2.64): per 8-dim PQ subspace,
    * the exact error profile of snapping ×10⁴ integer lanes to a 0.1
    * grid (step 1000 in lane units, round-half-up via a +500000 shift
    * so floor division is sign-safe in both engines): lane count, sum
    * of squared errors (exact BIGINT, in 10⁻⁸ units), MSE µ-units, and
    * the max |error|. The error-budget table read before shipping a
    * quantized index. One posexplode + one mergeable aggregate. */
  def qPqDistortion(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "embeddings")
      .select(posexplode(col("embedding")))
      .select(expr("pos div 8 + 1").cast("long").as("subspace"),
        expr("CAST(round(CAST(col AS DOUBLE) * 10000) AS BIGINT)")
          .as("x_u"))
      .withColumn("q_u", expr(
        "((x_u + 500500) div 1000) * 1000 - 500000"))
      .withColumn("err", col("x_u") - col("q_u"))
      .groupBy("subspace")
      .agg(count(lit(1)).as("n_lanes"),
        sum(expr("err * err")).cast("long").as("sse"),
        max(abs(col("err"))).cast("long").as("max_err"))
      .withColumn("mse_u", expr("sse div n_lanes"))
      .select("subspace", "n_lanes", "sse", "mse_u", "max_err"))

  /** Most-correlated dimension pairs (§2.64): Pearson r over the ×10⁴
    * lanes for all 2016 dimension pairs, top 10 by (|r|, i, j) — the
    * whitening audit behind any PQ independence assumption. Cross
    * moments are exact BIGINT sums over an IN-ROW pair expansion (the
    * q_brand_affinity idiom — no self-join); the 2016-row moment table
    * then ranks in one tiny window. r's numerator is exact; the only
    * double is the final sqrt division. */
  def qDimCorr(s: SparkSession, dir: String): DataFrame = {
    val lanes = t(s, dir, "embeddings").withColumn("xu",
      expr("transform(embedding, v -> " +
        "CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT))"))
    // r16 optimization: the 2016-pair moment table used to come from an
    // in-row pair explode (2016 struct rows PER embedding — a 2016× row
    // blowup through a wide hash aggregate, 2.4 s steady at sf0.1).
    // graft.functions.LaneMoments computes the identical (i, j, n, sx,
    // sy, qx, qy, sxy) table in ONE mergeable pass — per-partition
    // 33 KiB buffers, no row blowup (0.5 s at sf0.1); null/short-array
    // lanes keep the explode's exact count/sum semantics (scaladoc).
    val pairs = lanes
      .agg(graft.functions.LaneMoments.moments(col("xu"), 64).as("ms"))
      .select(explode(col("ms")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.n").as("n"),
        col("p.sx").as("sx"), col("p.sy").as("sy"),
        col("p.qx").as("qx"), col("p.qy").as("qy"),
        col("p.sxy").as("sxy"))
    val scored = pairs.withColumn("corr_milli", expr(
      "CASE WHEN n * qx - sx * sx = 0 OR n * qy - sy * sy = 0 THEN NULL " +
        "ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) * 1000 / " +
        "sqrt(CAST(n * qx - sx * sx AS DOUBLE) * " +
        "CAST(n * qy - sy * sy AS DOUBLE))) AS BIGINT) END"))
    val w = Window.orderBy(abs(col("corr_milli")).desc, col("i").asc,
      col("j").asc)
    orderedAll(scored.filter(col("corr_milli").isNotNull)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("i", "j", "n", "corr_milli"))
  }

  /** PQ codebook occupancy balance (§2.95): per 8-dim block, how evenly
    * the 16 codes share the corpus — codes used, max/min occupancy, and
    * the imbalance factor max·K·10⁴ div N in bp (10 000 = perfectly
    * uniform). A skewed block means its codebook wastes bits (half the
    * codes idle) AND its inverted lists go lopsided at query time — the
    * audit read next to q_pq_distortion before shipping a quantizer.
    * Folds q_vector_pq's assignment (same codebook contract); two tiny
    * aggregates on top. */
  def qPqBalance(s: SparkSession, dir: String): DataFrame = {
    val occ = Vectors.qVectorPq(s, dir)
      .groupBy("block", "code").agg(count(lit(1)).as("c"))
    orderedAll(occ.groupBy("block")
      .agg(countDistinct("code").as("codes_used"),
        max("c").as("max_occ"), min("c").as("min_occ"),
        sum("c").cast("long").as("n_vecs"))
      .withColumn("imbalance_bp",
        expr("max_occ * 16 * 10000 div n_vecs"))
      .select("block", "codes_used", "max_occ", "min_occ", "n_vecs",
        "imbalance_bp"))
  }

  /** Label balance audit (§2.97): the class distribution of the
    * embeddings' label column — count, share bp, and each class's
    * size relative to the SMALLEST class (×10³) — the imbalance
    * check run before any classifier or contrastive-sampling job
    * (q_knn_classify's accuracies mean little if one label dominates).
    * One mergeable label fold + one 1-row broadcast back. */
  def qLabelBalance(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = l.agg(sum("n_vecs").as("n_total"),
      min("n_vecs").as("n_min"))
    orderedAll(l.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n_vecs * 10000 div n_total"))
      .withColumn("vs_min_milli", expr("n_vecs * 1000 div n_min"))
      .select("label", "n_vecs", "share_bp", "vs_min_milli"))
  }

  /** Semantic-mix audit (§2.111): per label, how its vectors spread
    * over the 16 fixed semantic clusters (the q_vector_pq codebook
    * rows as full-vector cosine centroids) — the "is each data slice
    * topically concentrated or diverse" readout a mix decision reads
    * next to q_label_balance's pure counts. Emits per label: n, the
    * dominant cluster and its share, and the cluster ENTROPY per
    * vector in micro-nats — Σ c_k·round(ln(n/c_k)·10⁶) div n, each ln
    * quantized to a ×10⁶ BIGINT before the EXACT integer sum (the
    * cross-group double-sum ban; ln of a rational is irrational, so
    * the round is boundary-safe — except ln(1)=0 when a label sits
    * entirely in one cluster, which rounds to exactly 0 in both
    * engines). Assignment is the one-projection greatest() argmax over
    * 16 literal centroids (the qAnnIvf shape — no ×16 explode). */
  def qSemanticMix(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = emb.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    require(cb.length == 16,
      s"codebook needs the 16 vec_id<16 rows, found ${cb.length}")
    val best = greatest(cb.map { case (cid, ce) =>
      struct(Vectors.cosine(typedLit(ce), col("embedding")).as("csim"),
        lit(-cid).as("ncid"))
    }.toIndexedSeq: _*)
    val assigned = emb
      .select(col("label").cast("long").as("label"),
        (best.getField("ncid") * -1).as("cluster"))
      .groupBy("label", "cluster").agg(count(lit(1)).as("c"))
    val byLabel = assigned.groupBy("label")
      .agg(sum("c").cast("long").as("n"),
        max(struct(col("c"), (-col("cluster")).as("nc"))).as("top"))
      .select(col("label"), col("n"),
        (-col("top.nc")).as("top_cluster"),
        col("top.c").as("top_c"))
    orderedAll(assigned.join(byLabel, "label")
      .withColumn("h_term", expr(
        "c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT)"))
      .groupBy("label")
      .agg(max("n").as("n_vecs"),
        max("top_cluster").as("top_cluster"),
        max(expr("top_c * 10000 div n")).as("top_share_bp"),
        sum("h_term").cast("long").as("h_sum"))
      .withColumn("entropy_u", expr("h_sum div n_vecs"))
      .select("label", "n_vecs", "top_cluster", "top_share_bp",
        "entropy_u"))
  }
}
