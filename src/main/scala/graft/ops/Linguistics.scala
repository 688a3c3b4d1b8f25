package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 §2.31 corpus-linguistics extensions: per-source readability
  * profiling, keyword-in-context (KWIC) concordance, and per-source
  * discriminative-token extraction (the naive-Bayes feature-selection
  * statistic). All DuckDB-oracled; all arithmetic is integer (counts,
  * lengths, and non-negative integer divisions).
  *
  * Scale shape: everything here is scan → in-row array/regex work →
  * mergeable aggregate; the only joins are against vocabulary- or
  * source-sized aggregates (broadcast). Documents shard arbitrarily, so
  * every pipeline parallelizes to any partition count.
  */
object Linguistics {

  /** Per-source readability profile: document, word, syllable (vowel-run
    * approximation), and letter counts, plus syllables-per-word and
    * word-length ratios ×100 — the Flesch-style signal set over a corpus
    * with no sentence punctuation. All extraction is in-row regex/array
    * work feeding one mergeable aggregate. */
  def qReadability(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .select(col("source"),
        expr("CAST(size(filter(split(lower(text), ' '), x -> x != '')) " +
          "AS BIGINT)").as("words"),
        expr("CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) " +
          "AS BIGINT)").as("sylls"),
        expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").as("chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("words").as("n_words"),
        sum("sylls").as("n_sylls"),
        sum("chars").as("n_chars"))
      .withColumn("spw_x100", expr("n_sylls * 100 div n_words"))
      .withColumn("wlen_x100", expr("n_chars * 100 div n_words")))

  /** KWIC concordance for the corpus keyword `join`: every occurrence
    * position (1-based) with up to two tokens of left/right context —
    * the corpus-inspection primitive behind every "show me usages"
    * tool. Positions index the RAW space-split sequence so both engines
    * agree byte-for-byte; context windows clamp at document edges.
    * posexplode + two in-row slices — no join anywhere. */
  def qConcordance(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("idx", "tok")))
      .filter(col("tok") === "join")
      .withColumn("pos", (col("idx") + 1).cast("long"))
      .select(col("doc_id"), col("pos"),
        expr("array_join(slice(toks, greatest(1, pos - 2), " +
          "least(2, pos - 1)), ' ')").as("left_ctx"),
        expr("array_join(slice(toks, pos + 1, 2), ' ')").as("right_ctx")))

  /** Discriminative tokens per source (naive-Bayes lift): for each
    * (source, token) with ≥ 5 occurrences, lift = P(token|source) /
    * P(token) in exact basis points — n_st·N·10⁴ div (n_t·n_s) — and
    * the top 5 per source under the unique (lift desc, token) order.
    * Token marginals are vocabulary-sized (broadcast); the corpus total
    * is one row. */
  def qNaiveBayes(s: SparkSession, dir: String): DataFrame = {
    val st = Text.tokDf(t(s, dir, "documents"), keep = Seq(col("source")))
      .groupBy("source", "token").agg(count(lit(1)).as("n_st"))
    val nt = st.groupBy("token").agg(sum("n_st").as("n_t"))
    val ns = st.groupBy("source").agg(sum("n_st").as("n_s"))
    val tot = st.agg(sum("n_st").as("n_tot"))
    val w = Window.partitionBy("source")
      .orderBy(col("lift_bp").desc, col("token").asc)
    orderedAll(st.filter(col("n_st") >= 5)
      .join(broadcast(nt), "token")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .withColumn("lift_bp",
        expr("n_st * n_tot * 10000 div (n_t * n_s)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("source", "token", "n_st", "lift_bp", "rank"))
  }

  /** One BPE training step applied (§2.32): find the corpus's most
    * frequent adjacent token pair (tie → lexicographically smallest),
    * merge its occurrences into a single `a_b` token via a left-to-right
    * string replace over the space-joined sequence, and re-count the
    * top-20 pairs of the MERGED corpus — the inner loop of
    * byte-pair-encoding tokenizer training, one iteration unrolled (the
    * fixpoint loop is a driver-side constant count, the qPagerank
    * idiom). The winning pair is folded into the plan as a literal (the
    * q_ann_ivf collected-literal tier). The merge is the byte-level
    * replace() approximation of the token-level scan: both engines scan
    * left-to-right non-overlapping over identical bytes, so results are
    * exact-identical cross-engine; a match spanning a token boundary
    * (byte coincidence like `dat·a b` for pair `a b`) is part of the
    * declared contract. Pair generation is in-row (transform over the
    * hoisted token array) — no positional self-join. */
  def qBpeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id"),
        array_join(expr("filter(split(lower(text), ' '), x -> x != '')"),
          " ").as("joined"))
    // sequence(1, 0) DESCENDS in Spark where DuckDB's generate_series is
    // empty — the size guard keeps sub-2-token docs cross-engine-safe
    def pairCounts(d: DataFrame): DataFrame =
      d.select(expr("split(joined, ' ')").as("toks"))
        .select(explode(expr(
          "CASE WHEN size(toks) < 2 THEN array() " +
            "ELSE transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', " +
            "element_at(toks, i + 1))) END")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
    val top = pairCounts(docs)
      .orderBy(col("n").desc, col("pair").asc).limit(1)
      .collect()(0).getString(0)
    val merged = docs.withColumn("joined",
      expr(s"replace(joined, '$top', '${top.replace(' ', '_')}')"))
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    orderedAll(pairCounts(merged)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select("rank", "pair", "n"))
  }
}
