package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 collocation / language-model scores over the en corpus
  * (SURVEY §2.106): pointwise mutual information over the adjacency
  * stream (the collocation score q_collocation's Dunning LLR
  * complements — PMI is the one people actually eyeball), and per-doc
  * add-1 unigram negative log-likelihood (the LM-based quality filter
  * every corpus pipeline thresholds on, emitted WITHOUT an exp: exp's
  * last-ULP is libm-specific, so perplexity stays in exact log space).
  * Float policy: every ln quantizes to a ×10⁶ BIGINT per TERM before
  * any sum (the q_dsir idiom — aggregate-order-proof). */
object Colloc {

  /** Bigram PMI (§2.106): for adjacency bigrams occurring ≥ 5 times,
    * pmi_u = round(ln(c_ab·N / (c_a·c_b))·10⁶) where c_a / c_b are the
    * bigram stream's left/right marginals and N its total — exact
    * integers into ONE ln (c_ab·N ≤ 2⁵³ at any graded SF, and the
    * product is spelled inside the ln identically in both engines).
    * Two marginal aggregates broadcast onto the bigram table; the
    * count floor keeps the output the interesting tail, not the
    * hapax noise. */
  def qPmi(s: SparkSession, dir: String): DataFrame = {
    val bg = CorpusStats.bigramRows(s, dir)
    val ab = bg.groupBy("ta", "tb").agg(count(lit(1)).as("c_ab"))
    val n = ab.agg(sum("c_ab").cast("long").as("n_bg"))
    val la = ab.groupBy("ta").agg(sum("c_ab").cast("long").as("c_a"))
    val rb = ab.groupBy("tb").agg(sum("c_ab").cast("long").as("c_b"))
    orderedAll(ab.filter(col("c_ab") >= 5)
      .join(la, "ta").join(rb, "tb")
      .crossJoin(broadcast(n))
      .selectExpr("ta", "tb", "c_ab", "c_a", "c_b",
        "CAST(round(ln(CAST(c_ab AS DOUBLE) * n_bg / " +
          "(CAST(c_a AS DOUBLE) * c_b)) * 1000000) AS BIGINT) AS pmi_u"))
  }

  /** Per-doc unigram LM score (§2.106): token-level negative
    * log-likelihood of each en doc under the CORPUS add-1 unigram LM —
    * the quality/fluency filter a training-data pipeline thresholds
    * before anything fancier. Per-token lp_u = round(ln((c_tok+1) /
    * (N+V))·10⁶) quantizes on the VOCAB table (one ln per distinct
    * token, broadcast back), doc scores are exact BIGINT sums of those
    * integers, and the per-token average is an integer division —
    * no exp, no float aggregate anywhere. Docs score against the LM
    * including themselves (the one-pass corpus-filter convention). */
  def qPerplexity(s: SparkSession, dir: String): DataFrame = {
    val occ = Text.tokDf(t(s, dir, "documents").filter(col("lang") === "en"))
    val vocab = occ.groupBy("token").agg(count(lit(1)).as("c_tok"))
    val consts = vocab.agg(sum("c_tok").cast("long").as("n_occ"),
      count(lit(1)).as("v"))
    val lp = vocab.crossJoin(broadcast(consts))
      .selectExpr("token",
        "CAST(round(ln(CAST(c_tok + 1 AS DOUBLE) / (n_occ + v)) " +
          "* 1000000) AS BIGINT) AS lp_u")
    orderedAll(occ.join(lp, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        (-sum(col("lp_u"))).cast("long").as("nll_u"))
      .withColumn("nll_per_tok_milli",
        expr("nll_u div (n_toks * 1000)")))
  }

  /** Good–Turing frequency-of-frequencies table (§2.106): for each
    * observed token count r over the en vocab, how many types have it
    * (N_r) and the GT-adjusted count r* = (r+1)·N_{r+1}/N_r in milli
    * (exact integer division; 0 where N_{r+1} is unobserved — the
    * truncation every practical GT smoother patches). The table is
    * bounded by the distinct COUNT values, not the vocab — two
    * aggregates and one self-join on r+1. */
  def qGoodTuring(s: SparkSession, dir: String): DataFrame = {
    val vocab = Text.tokDf(
        t(s, dir, "documents").filter(col("lang") === "en"), keep = Nil)
      .groupBy("token").agg(count(lit(1)).as("r"))
    val fof = vocab.groupBy("r").agg(count(lit(1)).as("n_r"))
    val nxt = fof.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    orderedAll(fof.join(nxt, Seq("r"), "left")
      .selectExpr("r", "n_r",
        "coalesce((r + 1) * coalesce(n_r1, 0) * 1000 div n_r, 0)" +
          " AS rstar_milli"))
  }

  /** Yule's K lexical-diversity characteristic (§2.106): per source,
    * K = 10⁴·(Σ c² − N)/N² over that source's token counts — the
    * repetitiveness constant that separates template-y sources from
    * diverse ones (higher K = fewer types doing more of the work).
    * FULLY integer: K·1000 = (Σc² − N)·10⁷ div N² through
    * DECIMAL(38,0) (Σc²·10⁷ wraps int64 on big sources). One
    * (source, token) collapse + one source fold. */
  def qYuleK(s: SparkSession, dir: String): DataFrame = {
    val c = Text.tokDf(t(s, dir, "documents"), keep = Seq(col("source")))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    orderedAll(c.groupBy("source")
      .agg(sum("c").cast("long").as("n_occ"),
        count(lit(1)).as("n_types"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sc2"))
      .selectExpr("source", "n_occ", "n_types",
        "CAST((sc2 - n_occ) * 10000000 div " +
          "(CAST(n_occ AS DECIMAL(38,0)) * n_occ) AS BIGINT)" +
          " AS yule_k_milli"))
  }
}
