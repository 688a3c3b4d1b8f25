package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval- and model-evaluation metrics over the `embeddings` table
  * (SURVEY §2.33) — the measurement rim of the similarity-search family:
  * a vector pipeline is not done when ANN returns rows, it is done when
  * its recall/ranking quality is MEASURED, and these are the six numbers
  * every retrieval/classifier eval report carries.
  *
  * Determinism policy (§5.3): every ranking is derived from the §2.12
  * sequential-fold cosine (bit-identical in both engines) with an id
  * tie-break; every emitted metric is either an exact BIGINT or an exact
  * integer ratio in basis points; the one transcendental (nDCG's 1/log₂
  * rank discount) is folded to 10 shared Scala-computed literals, so no
  * engine evaluates a log at all.
  *
  * Scale shape (100 TB): probe sets and per-label/per-plane aggregates
  * are broadcast-sized by construction; the corpus side is always one
  * scan-shaped projection feeding either a mergeable aggregate or a
  * per-probe top-k ([[Vectors.topK]]) — the brute-force/kNN scale
  * story of §2.12 applies unchanged, and the ANN-recall audit is
  * exactly the query one runs on a sampled probe set to pick LSH/IVF
  * parameters before committing the full corpus to them. */
object Evaluation {

  /** Codegen'd dot against the j-th q_ann_lsh md5-sign plane
    * ([[Sketches.lshSigns]]; bit-identical to the oracle's list_sum fold
    * over the same ±1 doubles). The recall audit reuses the LSH's own
    * planes 0..7 (it measures THAT index); scoring queries use plane
    * indices ≥ 100 so they never alias it. */
  private def planeScore(j: Int): Column =
    Vectors.dot(col("embedding"), typedLit(Sketches.lshSigns(j, 64)))

  /** nDCG rank discounts ×10⁶, rank 1..10: round(10⁶ / log₂(r+1)).
    * Shared with the oracle (Oracles interpolates the same values), so
    * both engines compare exact BIGINTs and no log is ever evaluated at
    * query time. */
  val ndcgWeights: IndexedSeq[Long] = (1 to 10).map { r =>
    math.round(1e6 / (math.log(r + 1.0) / math.log(2.0)))
  }

  /** ANN-recall audit: for each probe (vec_id < 50), how much of the
    * EXACT cosine top-10 the q_ann_lsh bucket (8 md5 hyperplanes, 256
    * buckets) would have retrieved — the parameter-picking measurement
    * that must precede any at-scale ANN rollout. Emits candidate-set
    * size, hits, and recall in basis points (k = 10 fixed). The exact
    * side is the broadcast-probe brute-force scan; the candidate side is
    * a bucket-equality semi join — both corpus-linear. */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("bucket", Sketches.lshBucketExpr(col("embedding"), 8, 64))
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("bucket").as("pb"))
    val top10 = Vectors.topK(Vectors.probePairs(emb, probes), 10)
      .select(col("pid"), col("vec_id").as("nid"))
    val cand = Vectors.probePairs(emb, probes, Some(col("bucket") === col("pb")))
      .select(col("pid"), col("vec_id").as("nid"))
    val nCand = cand.groupBy("pid").agg(count(lit(1)).as("n_cand"))
    val hits = top10.join(cand, Seq("pid", "nid"), "left_semi")
      .groupBy("pid").agg(count(lit(1)).as("hits"))
    orderedAll(probes.select("pid")
      .join(nCand, Seq("pid"), "left").join(hits, Seq("pid"), "left")
      .select(col("pid"),
        coalesce(col("n_cand"), lit(0L)).cast("long").as("n_cand"),
        coalesce(col("hits"), lit(0L)).cast("long").as("hits"))
      .withColumn("recall_bp", expr("hits * 10000 div 10")))
  }

  /** nDCG@10 of the exact cosine ranking, relevance = same label as the
    * probe (vec_id < 20): per-rank discounts are the shared ×10⁶ literal
    * table, DCG/IDCG are exact BIGINT sums over them, and nDCG is one
    * integer division in basis points. IDCG re-ranks the SAME retrieved
    * 10 ideally (relevant first) — the declared contract, so a probe
    * with n relevant in its top-10 has IDCG = Σ first n discounts. */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plabel"))
    val wLit = typedLit(ndcgWeights)
    val top = Vectors.topK(Vectors.probePairs(emb, probes), 10)
      .withColumn("rel",
        when(col("label") === col("plabel"), 1L).otherwise(0L))
    val iw = Window.partitionBy(col("pid"))
      .orderBy(col("rel").desc, col("cos").desc, col("vec_id").asc)
    orderedAll(top
      .withColumn("irn", row_number().over(iw))
      .groupBy("pid")
      .agg(sum(col("rel")).cast("long").as("n_rel"),
        sum(col("rel") * element_at(wLit, col("rn").cast("int")))
          .cast("long").as("dcg_u"),
        sum(col("rel") * element_at(wLit, col("irn").cast("int")))
          .cast("long").as("idcg_u"))
      .withColumn("ndcg_bp",
        when(col("idcg_u") > 0, expr("dcg_u * 10000 div idcg_u"))
          .otherwise(lit(0L))))
  }

  /** ROC curve table (§2.109): TPR/FPR in bp at the 9 coverage-decile
    * thresholds of the plane-100 score — the curve q_auc summarizes to
    * one number, emitted as the 9 points a threshold-picking review
    * actually plots. Threshold for decile k = the LARGEST score whose
    * predicted-positive set (score ≥ t) covers ≥ k/10 of the corpus —
    * an exact integer rule off the score HISTOGRAM's descending
    * cumulative counts (aggregated-input window; at extreme N the same
    * DistRank gate as the q_ks_test class applies — documented swap).
    * The threshold row is picked per k by struct-max on score_u
    * (unique in the histogram — deterministic). */
  def qRocCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = t(s, dir, "embeddings")
      .select((col("label") >= 5).cast("long").as("y"),
        round(planeScore(100) * 10000).cast("long").as("score_u"))
    val h = sc.groupBy("score_u")
      .agg(count(lit(1)).as("n"), sum("y").as("np"))
    val wD = Window.orderBy(col("score_u").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum("n").as("n_all"), sum("np").as("p_all"))
    val cum = h
      .withColumn("cum_n", sum("n").over(wD))
      .withColumn("cum_tp", sum("np").over(wD))
      .crossJoin(broadcast(tot))
    val ks = (1L to 9L).toDF("k")
    orderedAll(cum.crossJoin(broadcast(ks))
      .filter(col("cum_n") * 10 >= col("k") * col("n_all"))
      .groupBy("k")
      .agg(max(struct(col("score_u"), col("cum_tp"), col("cum_n"),
        col("p_all"), col("n_all"))).as("t"))
      .selectExpr("k", "t.score_u AS threshold_u",
        "t.cum_tp * 10000 div t.p_all AS tpr_bp",
        "(t.cum_n - t.cum_tp) * 10000 div (t.n_all - t.p_all)" +
          " AS fpr_bp"))
  }

  /** Distributed logistic-gradient step (§2.109): the per-dimension
    * gradient of the logistic loss at w = 0 over (embedding, label≥5)
    * — g_j = Σᵢ (σ(0) − yᵢ)·xᵢⱼ = ½(Σ_neg xⱼ − Σ_pos xⱼ) — THE
    * map-combining aggregate every distributed GD/L-BFGS iteration
    * reduces to on Spark (the full trainer is this fold in a loop).
    * Features are the §2.72 ×10⁴-quantized lanes (round(x·10⁴) BIGINT
    * — the q_power_iter convention; a float→DECIMAL cast is NOT
    * engine-portable: Spark rounds the shortest-string double repr,
    * DuckDB the binary value, and the 1e-10 disagreements survive a
    * 2000-row sum). grad_u = (Σ_neg q − Σ_pos q)·50 ≡ g·10⁶ on the
    * quantized scale — exact integers end-to-end, no rounding
    * anywhere. 64-row output; one scan, one mergeable aggregate. */
  def qGradStep(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "embeddings")
      .select((col("label") >= 5).cast("long").as("y"),
        posexplode(col("embedding")))
      .select(col("y"), (col("pos") + 1).cast("long").as("dim"),
        expr("CAST(round(CAST(col AS DOUBLE) * 10000) AS BIGINT)")
          .as("q"))
      .groupBy("dim")
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).cast("long")
        .as("n_pos"),
        sum(when(col("y") === 1L, col("q")).otherwise(0L)).cast("long")
          .as("sp"),
        sum(when(col("y") === 0L, col("q")).otherwise(0L)).cast("long")
          .as("sn"))
      .selectExpr("dim", "n_pos", "(sn - sp) * 50 AS grad_u"))

  /** Exact ROC AUC (Mann–Whitney U form) of three fixed md5-hyperplane
    * scores against the binary class label ≥ 5 — the
    * rank statistic computed entirely in BIGINTs: ties contribute their
    * exact mid-rank via minrank + maxrank (×2 throughout, one final
    * division). Scores are the §2.12 fold rounded to 4 decimals, so rank
    * and tie structure are engine-identical. One scan, one rank window
    * per plane over the scored corpus, 3-row output. */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scored = Seq(100, 101, 102).map { j =>
      emb.select(lit((j - 100).toLong).as("plane"),
        col("label"),
        round(planeScore(j) * 10000).cast("long").as("score_u"))
    }.reduce(_ unionAll _)
      .withColumn("pos", (col("label") >= 5).cast("long"))
    val wRank = Window.partitionBy(col("plane")).orderBy(col("score_u").asc)
    val wTie = Window.partitionBy(col("plane"), col("score_u"))
    orderedAll(scored
      .withColumn("minr", rank().over(wRank).cast("long"))
      .withColumn("maxr", col("minr") + count(lit(1)).over(wTie) - 1L)
      .groupBy("plane")
      .agg(sum(col("pos")).cast("long").as("n_pos"),
        sum(lit(1L) - col("pos")).cast("long").as("n_neg"),
        sum(when(col("pos") === 1L, col("minr") + col("maxr"))
          .otherwise(0L)).cast("long").as("possum2"))
      .withColumn("auc_bp", expr(
        "(possum2 - n_pos * (n_pos + 1)) * 10000 div (2 * n_pos * n_neg)"))
      .select("plane", "n_pos", "n_neg", "auc_bp"))
  }

  /** Nearest-centroid classifier confusion matrix: per-label centroids
    * from ×10⁴-quantized lanes (exact BIGINT sums ÷ count — every
    * centroid component is the same IEEE double in both engines), each
    * vector assigned to its max-cosine centroid (tie → smaller label;
    * a zero-norm vector's cosines are null, so the smallest label),
    * then the full (true, pred) contingency with per-cell recall and
    * precision in basis points (diagonal rows = the per-class report).
    * Corpus side is one scan against a broadcast 10-row centroid table;
    * marginals are windows over the ≤100-cell aggregate. */
  def qConfusion(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cent = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label").as("cand"), (col("pos") + 1).as("i"))
      .agg(sum(round(col("col").cast("double") * 10000).cast("long"))
        .as("s_u"), count(lit(1)).as("n"))
      .groupBy("cand")
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("s_u"), col("n")))),
        x => x.getField("s_u").cast("double") / x.getField("n"))
        .as("cv"))
    val dotC = aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
      acc + element_at(col("embedding"), i.cast("int")).cast("double") *
        element_at(col("cv"), i.cast("int")))
    val normC = aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
      acc + element_at(col("cv"), i.cast("int")) *
        element_at(col("cv"), i.cast("int")))
    // a window, not the heap top-k: over 10 candidates per vector the
    // heap measured slower warm (RunOne at sf0.1)
    val pred = emb.crossJoin(broadcast(cent))
      .withColumn("cos",
        dotC / Vectors.normProduct(Vectors.norm2(col("embedding")), normC))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("cand").asc)))
      .filter(col("rn") === 1)
      .select(col("label").cast("long").as("true_label"),
        col("cand").cast("long").as("pred"))
    val cells = pred.groupBy("true_label", "pred")
      .agg(count(lit(1)).as("n"))
    orderedAll(cells
      .withColumn("row_tot",
        sum(col("n")).over(Window.partitionBy(col("true_label"))))
      .withColumn("col_tot",
        sum(col("n")).over(Window.partitionBy(col("pred"))))
      .withColumn("recall_bp", expr("n * 10000 div row_tot"))
      .withColumn("precision_bp", expr("n * 10000 div col_tot")))
  }

  /** Calibration curve of a fixed md5-hyperplane score against the
    * binary class label ≥ 5: scores ×10⁴ floor-binned into 0.2-wide
    * cosine bands (floor division spelled sign-safely — Spark div
    * truncates; DuckDB //'s negative-operand behavior is
    * version-dependent, so no negative ever reaches it), per-bin
    * count, positives, positive
    * rate in basis points, and the exact score range. Pure scan + one
    * mergeable aggregate. */
  def qCalibration(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "embeddings")
      .select(col("label"),
        round(planeScore(103) * 10000).cast("long").as("score_u"))
      .withColumn("bin",
        expr("(score_u - pmod(score_u, 2000)) div 2000"))
      .withColumn("pos", (col("label") >= 5).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("pos")).cast("long").as("n_pos"),
        min(col("score_u")).as("lo_u"),
        max(col("score_u")).as("hi_u"))
      .withColumn("rate_bp", expr("n_pos * 10000 div n")))

  /** Expected calibration error (§2.111): the single-number fold of
    * [[qCalibration]]'s reliability bins — ECE = Σ_b (n_b/N)·
    * |acc_b − conf_b| with conf_b the bin's MEAN score. On the ×10⁴
    * integer score scale the per-bin contribution is exactly
    * |n_pos·10⁴ − Σscore_u| / (N·10⁴), so ECE·10⁶ =
    * (Σ_b |n_pos_b·10⁴ − s_u_b|) · 100 div N — EXACT integers end to
    * end (a rational must never pass through round()); the bin sums
    * ride DECIMAL(38,0) so a 10¹²-row corpus cannot wrap them. Same
    * fixed md5-hyperplane score and 0.2-wide bins as the graded
    * calibration table, so the two queries read off one contract. */
  def qCalibrationEce(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "embeddings")
      .select(col("label"),
        round(planeScore(103) * 10000).cast("long").as("score_u"))
      .withColumn("bin",
        expr("(score_u - pmod(score_u, 2000)) div 2000"))
      .withColumn("pos", (col("label") >= 5).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("score_u")).cast("long").as("s_u"))
    orderedAll(b.agg(
      count(lit(1)).as("n_bins"),
      sum("n").cast("long").as("n_total"),
      sum(expr("abs(CAST(n_pos AS DECIMAL(38,0)) * 10000 - s_u)"))
        .as("dev_u"))
      .withColumn("ece_u", expr(
        "CAST(dev_u * 100 div n_total AS BIGINT)"))
      .select("n_bins", "n_total", "ece_u"))
  }

  /** Mean-reciprocal-rank inputs: for each probe (vec_id < 50), the rank
    * of the FIRST same-label neighbor in the exact cosine ranking,
    * searched to depth 20 (bounded frontier — the eval-set contract);
    * probes with no match in 20 emit NULL rank and rr_u = 0. Reciprocal
    * rank is the exact integer 10⁶ div rank, so the corpus MRR is a
    * plain average over rr_u downstream. */
  def qMrr(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plabel"))
    val ranked = Vectors.topK(Vectors.probePairs(emb, probes), 20)
    val best = ranked.filter(col("label") === col("plabel"))
      .groupBy("pid").agg(min(col("rn")).as("best_rank"))
    orderedAll(probes.select("pid")
      .join(best, Seq("pid"), "left")
      .withColumn("rr_u",
        when(col("best_rank").isNotNull, expr("1000000 div best_rank"))
          .otherwise(lit(0L))))
  }

  // ---- §2.44 ranking-quality metrics -----------------------------------

  /** The shared §2.44 retrieval table: per probe (vec_id < 20), the
    * top-10 exact-cosine neighbors with 1-based rank and same-label
    * relevance — the q_ndcg construction, reused verbatim so the three
    * ranking metrics grade the SAME retrieval run. */
  private def top10(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plabel"))
    Vectors.topK(Vectors.probePairs(emb, probes), 10)
      .withColumn("rel",
        when(col("label") === col("plabel"), 1L).otherwise(0L))
  }

  /** Mean-average-precision inputs (§2.44): per probe, AP@10 ×10⁶ =
    * (Σ_{rel ranks r} cum_rel(r)·10⁶ div r) div n_rel — precision at
    * each relevant rank, averaged over the relevant results found in
    * the top-10 (the declared denominator contract, matching q_ndcg's
    * retrieved-set IDCG convention; probes with no relevant top-10 get
    * 0). Complements q_ndcg (graded discounts) and q_mrr (first hit
    * only): AP is the area under the precision-recall hops. Same scale
    * shape as q_ndcg — broadcast probes, one per-probe top-k, per-probe
    * cumulative over ≤10 rows. */
  def qMapAtK(s: SparkSession, dir: String): DataFrame = {
    val wc = Window.partitionBy("pid").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orderedAll(top10(s, dir)
      .withColumn("cum", sum("rel").over(wc))
      .groupBy("pid")
      .agg(sum("rel").cast("long").as("n_rel"),
        sum(when(col("rel") === 1, expr("cum * 1000000 div rn"))
          .otherwise(0L)).cast("long").as("ap_sum_u"))
      .withColumn("ap_u",
        when(col("n_rel") > 0, expr("ap_sum_u div n_rel"))
          .otherwise(lit(0L))))
  }

  /** Precision@k curve (§2.44): for k ∈ {1, 5, 10}, the pooled
    * precision over all probes in exact basis points —
    * Σ rel@k ·10⁴ div (k·n_probes). The capacity-planning curve that
    * says how deep a reranker must read. One 3-row broadcast k-grid
    * against the shared top-10 table; everything else is a mergeable
    * aggregate. */
  def qPrecisionAtK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ks = Seq(1L, 5L, 10L).toDF("k")
    orderedAll(top10(s, dir)
      .crossJoin(broadcast(ks))
      .filter(col("rn") <= col("k"))
      .groupBy("k")
      .agg(countDistinct(col("pid")).as("n_probes"),
        sum("rel").cast("long").as("tot_rel"))
      .withColumn("prec_bp",
        expr("tot_rel * 10000 div (k * n_probes)")))
  }

  /** Per-class one-vs-rest P/R/F1 (§2.57): a deterministic 10-class
    * hyperplane classifier (pred = argmax over md5 planes 110..119 of
    * the embedding dot, ties to the smallest plane index via a
    * (score, −j) struct max) scored against the true label — the
    * class-level readout q_confusion's cell grid doesn't collapse to.
    * The prediction is a pure scan (ten codegen'd literal dots, no
    * join); margins and the diagonal are ≤10-row aggregates joined
    * broadcast-side. F1 = 2·tp / (row_tot + col_tot), basis points;
    * never-predicted or absent classes yield NULL precision/recall. */
  def qF1Class(s: SparkSession, dir: String): DataFrame = {
    val withScores = (110 to 119).foldLeft(t(s, dir, "embeddings")) {
      (df, j) => df.withColumn(s"s$j", planeScore(j))
    }
    val pred = withScores
      .withColumn("pred", expr(
        (110 to 119).map(j => s"struct(s$j AS sc, ${-j} AS nj)")
          .mkString("greatest(", ", ", ").nj")).cast("long") * -1L
        - 110L)
      .select(col("label").cast("long").as("truth"), col("pred"))
    val diag = pred.filter(col("truth") === col("pred"))
      .groupBy(col("truth").as("class")).agg(count(lit(1)).as("tp"))
    val rows = pred.groupBy(col("truth").as("class"))
      .agg(count(lit(1)).as("row_tot"))
    val cols = pred.groupBy(col("pred").as("class"))
      .agg(count(lit(1)).as("col_tot"))
    orderedAll(rows.join(cols, Seq("class"), "full_outer")
      .join(diag, Seq("class"), "left")
      .withColumn("tp", coalesce(col("tp"), lit(0L)))
      .withColumn("row_tot", coalesce(col("row_tot"), lit(0L)))
      .withColumn("col_tot", coalesce(col("col_tot"), lit(0L)))
      .withColumn("precision_bp", expr(
        "CASE WHEN col_tot = 0 THEN NULL " +
          "ELSE tp * 10000 div col_tot END"))
      .withColumn("recall_bp", expr(
        "CASE WHEN row_tot = 0 THEN NULL " +
          "ELSE tp * 10000 div row_tot END"))
      .withColumn("f1_bp", expr(
        "CASE WHEN row_tot + col_tot = 0 THEN NULL " +
          "ELSE 2 * tp * 10000 div (row_tot + col_tot) END")))
  }

  /** Matthews correlation coefficient (§2.57): the binary
    * q_calibration classifier (md5 plane 103 score ≥ 0 vs label ≥ 5)
    * collapsed to its 2×2 confusion and the single balance-robust
    * correlation number — exact BIGINT numerator tp·tn − fp·fn, the
    * four margin products under one sqrt, MCC in milli (round of one
    * double division; a zero margin yields NULL in both engines). One
    * conditional-aggregate scan. */
  def qMcc(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "embeddings")
      .withColumn("pred", planeScore(103) >= 0.0)
      .withColumn("truth", col("label") >= 5)
      .agg(
        sum(when(col("pred") && col("truth"), 1L).otherwise(0L))
          .cast("long").as("tp"),
        sum(when(col("pred") && !col("truth"), 1L).otherwise(0L))
          .cast("long").as("fp"),
        sum(when(!col("pred") && col("truth"), 1L).otherwise(0L))
          .cast("long").as("fn"),
        sum(when(!col("pred") && !col("truth"), 1L).otherwise(0L))
          .cast("long").as("tn"))
      .withColumn("mcc_milli", expr(
        "CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0 " +
          "THEN NULL ELSE CAST(round(CAST(tp * tn - fp * fn AS DOUBLE) " +
          "* 1000 / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) " +
          "* (tn + fp) * (tn + fn))) AS BIGINT) END")))

  // ---- §2.88 threshold sweeps / score-quality readouts (round 9) -------

  /** Precision–recall sweep (§2.88): the plane-100 score against label
    * ≥ 5 at 9 fixed score_u thresholds — per threshold: predictions,
    * true positives, precision/recall/F1 in bp. A broadcast 9-row
    * threshold spine × the scored scan, folded per threshold (the
    * conditional-aggregate spelling of a PR curve; the spine factor is
    * a constant, so the expansion stays mergeable map-side). */
  def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = t(s, dir, "embeddings")
      .select((col("label") >= 5).cast("long").as("pos"),
        round(planeScore(100) * 10000).cast("long").as("score_u"))
    val th = Seq(-20000L, -15000L, -10000L, -5000L, 0L,
      5000L, 10000L, 15000L, 20000L).toDF("t")
    orderedAll(sc.crossJoin(broadcast(th))
      .groupBy("t")
      .agg(sum(when(col("score_u") >= col("t"), 1L).otherwise(0L))
        .cast("long").as("n_pred"),
        sum(when(col("score_u") >= col("t"), col("pos")).otherwise(0L))
          .cast("long").as("tp"),
        sum("pos").cast("long").as("n_pos"))
      .withColumn("precision_bp", expr(
        "CASE WHEN n_pred = 0 THEN NULL " +
          "ELSE tp * 10000 div n_pred END"))
      .withColumn("recall_bp", expr("tp * 10000 div n_pos"))
      .withColumn("f1_bp", expr(
        "CASE WHEN n_pred + n_pos = 0 THEN NULL " +
          "ELSE 2 * tp * 10000 div (n_pred + n_pos) END"))
      .select("t", "n_pred", "tp", "n_pos", "precision_bp", "recall_bp",
        "f1_bp"))
  }

  /** Log-loss + Brier score (§2.88): each plane's score mapped to a
    * milli-probability by the fixed affine clamp p_milli =
    * clamp((score_u + 10000) div 20, 1, 999), then per-row
    * ×10⁶-quantized cross-entropy (the ln of a SMALL RATIONAL —
    * identical IEEE double in both engines, the q_ngram_lm convention)
    * and the exact-integer Brier term (p_milli − y·1000)². Emits per
    * plane the means in micro-units. One scan, mergeable. */
  def qLogLoss(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scored = Seq(100, 101, 102).map { j =>
      emb.select(lit((j - 100).toLong).as("plane"),
        (col("label") >= 5).cast("long").as("pos"),
        round(planeScore(j) * 10000).cast("long").as("score_u"))
    }.reduce(_ unionAll _)
      .withColumn("p_milli", expr(
        "least(greatest((score_u + 10000) div 20, CAST(1 AS BIGINT))," +
          " CAST(999 AS BIGINT))"))
      .withColumn("loss_u", expr(
        "-CAST(round(ln(CAST(CASE WHEN pos = 1 THEN p_milli " +
          "ELSE 1000 - p_milli END AS DOUBLE) / 1000.0) * 1000000) " +
          "AS BIGINT)"))
      .withColumn("brier_sq", expr(
        "(p_milli - pos * 1000) * (p_milli - pos * 1000)"))
    orderedAll(scored.groupBy("plane")
      .agg(count(lit(1)).as("n"),
        sum("loss_u").cast("long").as("sum_loss_u"),
        sum("brier_sq").cast("long").as("sum_brier"))
      .withColumn("mean_loss_u", expr("sum_loss_u div n"))
      // per-row brier term is milli² = micro-units already
      .withColumn("mean_brier_u", expr("sum_brier div n"))
      .select("plane", "n", "mean_loss_u", "mean_brier_u"))
  }

  /** Ranker agreement under dimension truncation (§2.88): per probe
    * (vec_id < 50), the overlap of the full-64-dim cosine top-10 and
    * the FIRST-32-DIMS cosine top-10 over the rest of the corpus
    * (ties → smaller vec_id in both), plus the overlap Jaccard in
    * bp — the "can retrieval run on half the vector" audit behind
    * dimension-reduction / PQ-prefix decisions. (The fixture
    * embeddings are unit-norm, so cosine-vs-dot agreement is vacuous;
    * truncation is the comparison with signal.) Both ranks come from
    * ONE probe-partitioned pass (two windows, same partitioning). */
  def qRankOverlap(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val scored = Vectors.probePairs(emb, probes)
      .withColumn("cos32", Vectors.cosine(
        slice(col("pe"), 1, 32), slice(col("embedding"), 1, 32)))
    // List size per probe is least(10, n−1): on a corpus under 11 vectors
    // the top-10 lists are shorter than 10, and a hardcoded union of
    // 20 − overlap would mislabel jaccard_bp. The candidate count rides
    // the SAME pid partitioning as the rank windows (no extra shuffle);
    // rc/rd ≤ 10 is already ≤ ls when ls < 10 since rank never exceeds
    // the candidate count.
    orderedAll(scored
      .withColumn("rc", Vectors.rankBy())
      .withColumn("rd", Vectors.rankBy(col("cos32")))
      .withColumn("ncand",
        count(lit(1)).over(Window.partitionBy("pid")))
      .filter(col("rc") <= 10 || col("rd") <= 10)
      .groupBy("pid")
      .agg(sum(when(col("rc") <= 10 && col("rd") <= 10, 1L).otherwise(0L))
        .cast("long").as("overlap"),
        max(least(lit(10L), col("ncand"))).as("ls"))
      .withColumn("jaccard_bp",
        expr("overlap * 10000 div (2 * ls - overlap)"))
      .select("pid", "overlap", "jaccard_bp"))
  }

  /** kNN label classification accuracy (§2.95): probes (vec_id < 30)
    * classified by majority label of their 5 nearest candidates
    * (vec_id ≥ 30 — no probe leaks into its own neighbor list), folded
    * to per-true-label accuracy in bp — the "are these embeddings good
    * for anything" sanity eval run before any retrieval ships.
    * Deterministic end to end: cosine ties break to smaller vec_id,
    * vote ties to the smaller label. Probes broadcast; the top-k and
    * the vote window shard by probe. */
  def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("true_label"))
    val votes = Vectors.topK(
        Vectors.probePairs(emb.filter(col("vec_id") >= 30), probes), 5)
      .groupBy("pid", "true_label", "label")
      .agg(count(lit(1)).as("v"))
    val wVote = Window.partitionBy("pid")
      .orderBy(col("v").desc, col("label").asc)
    orderedAll(votes
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .groupBy(col("true_label").cast("long").as("true_label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("label") === col("true_label"), 1L).otherwise(0L))
          .cast("long").as("n_correct"))
      .withColumn("acc_bp", expr("n_correct * 10000 div n_probes")))
  }

  /** Truncated-RBO@10 tail weights ×10⁹, p = 0.9: an item present in
    * both top-10 lists at ranks (rc, rd) contributes to the agreement
    * term of every depth d ≥ max(rc, rd), so its total weight is
    * w_m = (1−p)·Σ_{d=m..10} p^(d−1)/d with m = max(rc, rd) — the
    * per-item regrouping of RBO's per-depth sum. Computed EXACTLY in
    * rationals here (p = 9/10), rounded once to e9; the oracle embeds
    * the SAME Scala-computed literals (the Forensic.benford2Bp
    * pattern), so cross-engine parity is by construction. Identical
    * full lists sum to 1 − p¹⁰ = 0.6513…e9 — RBO@10 is prefix-
    * truncated, not extrapolated. */
  val rboWeightsE9: IndexedSeq[Long] = {
    import scala.math.BigInt
    // (1-p)·Σ p^(d-1)/d over d=m..10 in exact rationals: each term
    // (1/10)·9^(d-1)/(10^(d-1)·d) = 9^(d-1)·10^(10-d)·(L/d) over the
    // common denominator 10^10·L, L = lcm(1..10) = 2520 (the 10^(10-d)
    // = 10^(11-d)/10 already carries the (1-p) = 1/10 factor).
    val L = 2520L
    (1 to 10).map { m =>
      val num = (m to 10).map { d =>
        BigInt(9).pow(d - 1) * BigInt(10).pow(10 - d) * (L / d)
      }.sum
      val scaled = num * BigInt(1000000000L)  // target e9 scale
      val den = BigInt(10).pow(10) * L
      ((scaled + den / 2) / den).toLong  // round half up
    }
  }

  /** Rank-biased overlap @10 (§2.96): per probe (vec_id < 50), the
    * truncated RBO (p = 0.9) between the full-64-dim cosine top-10 and
    * the first-32-dims top-10 over the rest of the corpus — the
    * top-weighted cousin of q_rank_overlap's flat Jaccard (RBO rewards
    * agreeing at rank 1 ~6× more than at rank 10, which is what a
    * retrieval UI actually experiences). Ties break to smaller vec_id
    * in both rankings; everything after the two shared-partition rank
    * windows is an integer fold over [[rboWeightsE9]]. */
  def qRbo(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val scored = Vectors.probePairs(emb, probes)
      .withColumn("cos32", Vectors.cosine(
        slice(col("pe"), 1, 32), slice(col("embedding"), 1, 32)))
    val wCase = rboWeightsE9.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN ${w}L" }
      .mkString("CASE greatest(rc, rd) ", " ", " ELSE 0L END")
    orderedAll(scored
      .withColumn("rc", Vectors.rankBy())
      .withColumn("rd", Vectors.rankBy(col("cos32")))
      .filter(col("rc") <= 10 || col("rd") <= 10)
      .withColumn("w_e9", expr(
        s"CASE WHEN rc <= 10 AND rd <= 10 THEN $wCase ELSE 0L END"))
      .groupBy("pid")
      .agg(sum(when(col("rc") <= 10 && col("rd") <= 10, 1L)
        .otherwise(0L)).cast("long").as("n_both"),
        sum("w_e9").cast("long").as("rbo_e9"))
      .select("pid", "n_both", "rbo_e9"))
  }

  /** kNN margin audit (§2.97): per probe (vec_id < 50), the cosine
    * gap between its 1st and 2nd nearest candidates, ×10⁴ — the
    * retrieval-confidence histogramless readout (a thin margin means
    * the top hit is interchangeable; ANN error there is invisible to
    * users, which is why margins gate ANN rollouts). One per-probe top-k
    * on the broadcast-probe NLJ; both cosines are bit-identical
    * doubles in the two engines (the q_knn_cosine contract), so the
    * single round(·,4)-style quantization is deterministic. Ties in
    * cosine break to smaller vec_id — n1 < n2 then disambiguates. */
  def qKnnMargin(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    orderedAll(Vectors.topK(Vectors.probePairs(emb, probes), 2)
      .groupBy("pid")
      .agg(min(when(col("rn") === 1, col("vec_id"))).as("n1"),
        min(when(col("rn") === 2, col("vec_id"))).as("n2"),
        expr("CAST(round((max(CASE WHEN rn = 1 THEN cos END)" +
          " - max(CASE WHEN rn = 2 THEN cos END)) * 10000) AS BIGINT)")
          .as("margin_e4"))
      .select("pid", "n1", "n2", "margin_e4"))
  }

  /** Murphy decomposition of the Brier score (§2.99): the q_calibration
    * score (plane 103) min-max rescaled to an exact integer forecast
    * p_u ∈ [0, 10⁴] (the q_minmax_scale idiom — no sigmoid, no
    * transcendental), floor-binned into 10 forecast bands, then the
    * per-bin reliability n·(p̄_b − ȳ_b)² and resolution n·(ȳ_b − ȳ)²
    * terms in exact 10⁴-unit² integers — reliability says the forecast
    * is miscalibrated, resolution says it separates; summing the
    * columns downstream yields the classic REL − RES + UNC identity up
    * to the shared truncation. The score range and global base rate are
    * 1-row broadcast folds; the rest is one mergeable aggregate. Bin
    * means truncate (div) BEFORE squaring, identically in both
    * engines, so every emitted value is a BIGINT with no float in the
    * pipeline. */
  def qBrierDecomp(s: SparkSession, dir: String): DataFrame = {
    val sc = t(s, dir, "embeddings")
      .select((col("label") >= 5).cast("long").as("pos"),
        round(planeScore(103) * 10000).cast("long").as("score_u"))
    val rng = sc.agg(min("score_u").as("lo"), max("score_u").as("hi"),
      count(lit(1)).as("n_all"), sum("pos").cast("long").as("pos_all"))
    orderedAll(sc.crossJoin(broadcast(rng))
      .withColumn("p_u", when(col("hi") === col("lo"), 0L)
        .otherwise(expr("(score_u - lo) * 10000 div (hi - lo)")))
      .withColumn("bin", least(expr("p_u div 1000"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum("p_u").cast("long").as("p_sum"),
        sum("pos").cast("long").as("n_pos"),
        max("n_all").as("n_all"), max("pos_all").as("pos_all"))
      .withColumn("pbar_u", expr("p_sum div n"))
      .withColumn("ybar_u", expr("n_pos * 10000 div n"))
      .withColumn("ybar_all_u", expr("pos_all * 10000 div n_all"))
      .withColumn("rel_u", expr(
        "n * (pbar_u - ybar_u) * (pbar_u - ybar_u)"))
      .withColumn("res_u", expr(
        "n * (ybar_u - ybar_all_u) * (ybar_u - ybar_all_u)"))
      .select("bin", "n", "pbar_u", "ybar_u", "ybar_all_u", "rel_u",
        "res_u"))
  }

  /** McNemar's test inputs (§2.100): two fixed md5-hyperplane
    * classifiers (planes 104 and 105, score > 0 ⇒ positive) scored
    * against the label ≥ 5 ground truth on the SAME examples — the
    * paired-correctness test that decides "is model A actually better
    * than model B" where two independent proportions would double-count
    * the shared examples. Only the discordant cells carry signal:
    * b = A right / B wrong, c = the reverse; the χ² statistic
    * (b−c)²·1000 div (b+c) is exact integer arithmetic (NULL when the
    * classifiers never disagree). One scan, one mergeable fold. */
  def qMcnemar(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "embeddings")
      .select((col("label") >= 5).as("pos"),
        (planeScore(104) > 0).as("pa"),
        (planeScore(105) > 0).as("pb"))
      .withColumn("ra", col("pa") === col("pos"))
      .withColumn("rb", col("pb") === col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ra") && col("rb"), 1L).otherwise(0L))
          .cast("long").as("n_both"),
        sum(when(col("ra") && !col("rb"), 1L).otherwise(0L))
          .cast("long").as("b"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L))
          .cast("long").as("c"),
        sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L))
          .cast("long").as("n_neither"))
      .withColumn("chi2_milli", expr(
        "CASE WHEN b + c = 0 THEN NULL " +
          "ELSE (b - c) * (b - c) * 1000 div (b + c) END")))
}
