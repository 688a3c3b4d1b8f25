package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline text scoring (beyond SURVEY §2.10; declared in
  * SURVEY §2.14): language-ID scoring, quality scoring, token counting,
  * and document fingerprinting. All built-in expressions, all with DuckDB
  * oracles.
  *
  * Scale shape: the per-doc scores are pure projections (no shuffle); the
  * language profiles are one small aggregate that would be broadcast on a
  * cluster exactly as here.
  */
object Pipeline {

  /** Additive-smoothed naive-Bayes language scores: for each probe doc
    * (doc_id<50) and each candidate language, Σ_tokens ln((cnt(tok,lang)+1)
    * / (tot(lang)+V)). Emits the score matrix, NOT an argmax — the corpus
    * vocabulary is shared across languages, so scores are near-ties and an
    * argmax would be FP-ambiguous across engines (SURVEY §5.3 spirit). */
  def qLangScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tok = Text.tokDf(docs, keep = Seq(col("doc_id"), col("lang")))
    val profile = tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val tot = tok.groupBy("lang").agg(count(lit(1)).as("tot"))
    val vocab = tok.agg(countDistinct(col("token")).as("v"))
    val probe = tok.filter(col("doc_id") < 50)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("k"))
      .withColumnRenamed("token", "p_token")
    val langs = tot.select(col("lang").as("cand"), col("tot"))
    val prof = profile.select(col("lang").as("pr_lang"),
      col("token").as("pr_token"), col("cnt"))
    orderedAll(probe
      .crossJoin(broadcast(langs))
      .join(broadcast(prof),
        col("p_token") === col("pr_token") && col("cand") === col("pr_lang"),
        "left")
      .crossJoin(broadcast(vocab))
      .withColumn("contrib", col("k") *
        log((coalesce(col("cnt"), lit(0L)) + lit(1.0)) /
          (col("tot") + col("v"))))
      .groupBy(col("doc_id"), col("cand"))
      .agg(round(sum(col("contrib")), 4).as("score")))
  }

  /** Per-doc quality profile: token counts, type-token ratio, average
    * token length (exact, from single-space-joined text), and a composite
    * score. Everything derives from integers → cross-engine exact. */
  def qQualityScore(s: SparkSession, dir: String): DataFrame =
    orderedAll(qualityCols(t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        col("n_chars"))))

  /** The quality-feature columns off (n_toks, n_distinct, n_chars) —
    * the CORE shared by [[qQualityScore]] and graft.api's entry point:
    * type-token ratio, average token length (chars net of the
    * single-space separators), and the length×diversity composite. */
  private[graft] def qualityCols(df: DataFrame): DataFrame = df
    .withColumn("ttr",
      round(col("n_distinct").cast("double") / col("n_toks"), 4))
    .withColumn("avg_tok_len",
      round((col("n_chars") - (col("n_toks") - 1)).cast("double") /
        col("n_toks"), 4))
    .withColumn("quality", round(log(col("n_chars") + 1) * col("ttr"), 4))

  /** Token counting two ways per language: whitespace tokens and the
    * chars/4 subword (BPE-ish) estimate used for LLM budget accounting. */
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .withColumn("n_ws", size(tokens(col("text"))).cast("long"))
      .withColumn("n_subword",
        ceil(col("n_chars").cast("double") / 4.0).cast("long"))
      .groupBy("lang")
      .agg(sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_subword")).as("subword_tokens"),
        round(avg(col("n_ws")), 4).as("avg_ws_tokens")))

  /** Corpus mixing (§2.16): deterministic per-source downsampling to
    * target weights — the data-mixing step of every LLM training-data
    * pipeline (upweight rare/high-quality sources, downweight crawl).
    * Weights by source tier (src# mod 4 → 1/8, 1/4, 1/2, keep-all); the
    * keep decision compares two lowercase hex chars of md5(doc_id+salt)
    * LEXICOGRAPHICALLY — fixed-length lowercase hex sorts numerically, so
    * both engines agree exactly and the sample is identical on any
    * cluster size/partitioning (same idiom as q_sample_det, weighted).
    * Pure projection + filter + mergeable agg: scan-shaped at 100 TB. */
  def qMixSources(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .withColumn("wh", expr(
        "element_at(array('1f','3f','7f','ff'), " +
          "CAST(substring(source, 4) AS INT) % 4 + 1)"))
      .filter(expr(
        "substring(md5(concat(CAST(doc_id AS STRING), ':mix')), 1, 2) <= wh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept")))

  /** Stratified downsampling to the smallest stratum (§2.17): every
    * language is sampled down to (approximately) the size of the rarest
    * one — the language-rebalancing step of multilingual corpus curation,
    * and the data-DEPENDENT cousin of qMixSources' fixed tier weights.
    * Per-stratum keep thresholds are computed from the stratum counts in
    * integer arithmetic (2³²·min_count div count — exact in both
    * engines), and the keep decision compares the first 32 md5 bits of
    * the doc id (as an integer) against the stratum threshold. Topology:
    * one tiny agg (|langs| rows) broadcast back onto a scan-shaped
    * filter — two jobs, no corpus-sized shuffle, deterministic under any
    * partitioning. */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val cnt = d.groupBy("lang").agg(count(lit(1)).as("n"))
    val thr = cnt.crossJoin(broadcast(cnt.agg(min(col("n")).as("m"))))
      .select(col("lang"),
        expr("(4294967296L * m) div n").as("thr"))
    orderedAll(d.join(broadcast(thr), "lang")
      .filter(expr(
        """CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),
          |  ':strat')), 1, 8), 16, 10) AS BIGINT)""".stripMargin)
        < col("thr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("chars_kept")))
  }

  /** Rabin-Karp-style rolling fingerprint of the token sequence (doc_id <
    * 100): fold h → (h·1000003 + code(tok)) mod (2³¹−1), where code is an
    * engine-portable integer image of the token (first-char code and
    * length). Order-sensitive by construction — permuted docs differ. */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), expr(
        """aggregate(toks, CAST(0 AS BIGINT),
          |  (h, t) -> (h * 1000003L +
          |             (ascii(substring(t, 1, 1)) * 64 + length(t)))
          |            % 2147483647L)""".stripMargin).as("fp")))

  /** Train/val/test split manifest (§2.17): every doc assigned to a split
    * by its md5 hash (first two hex chars: <'1a' → val ≈10%, <'34' →
    * test ≈10%, else train), with per-(split, lang) corpus accounting —
    * the split-assignment + manifest step that precedes any training run.
    * The assignment is content-addressed and salt-keyed, so it is stable
    * under re-partitioning, re-ingestion, and corpus growth (a doc never
    * changes split when other docs arrive) — the property that keeps
    * eval sets honest at 100 TB. Lexicographic compare of fixed-length
    * lowercase hex is numeric in both engines (q_mix_sources idiom);
    * all emitted stats are exact integers. Scan-shaped: projection +
    * one mergeable aggregate. */
  def qSplitManifest(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .withColumn("h2", expr(
        "substring(md5(concat(CAST(doc_id AS STRING), ':split')), 1, 2)"))
      .withColumn("split",
        when(col("h2") < "1a", "val")
          .when(col("h2") < "34", "test")
          .otherwise("train"))
      .withColumn("n_toks",
        expr("size(filter(split(lower(text), ' '), x -> x != ''))")
          .cast("long"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("tot_chars"),
        sum(col("n_toks")).as("tot_toks"),
        countDistinct(col("source")).as("n_sources")))

  /** LM-based document quality scoring: mean negative log-probability of
    * each probe doc (doc_id < 100) under an add-1-smoothed bigram LM
    * trained on the full en corpus — the perplexity filter of the
    * CCNet/Gopher-style curation pipeline (docs scoring far from the
    * corpus mean are boilerplate or noise). Bigrams are built IN-ROW
    * with array lambdas (the q_ngrams idiom — no per-token explode
    * before the count); the LM tables are vocabulary²-bounded aggregates
    * (broadcast dims here, shuffle joins at a real vocabulary — either
    * way corpus-size-independent state); the score join is scan-shaped
    * over the probe's bigrams. Float policy: ln-sum via avg + round(4),
    * the q_lang_score precedent (bit-stable under re-partitioning,
    * proven by the partition audit). */
  def qDocPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val bg = docs.select(col("doc_id"), explode(expr(
      """transform(slice(toks, 1, size(toks) - 1), (x, i) ->
        |  struct(x AS w1, element_at(toks, i + 2) AS w2))""".stripMargin))
      .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(col("toks")).as("w"))
      .filter(col("w") =!= "").agg(countDistinct(col("w")).as("v"))
    orderedAll(bg.filter(col("doc_id") < 100)
      .join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("nll",
        -log((col("c2") + lit(1.0)) / (col("c1") + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 4).as("nll")))
  }
}
