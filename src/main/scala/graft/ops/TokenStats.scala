package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 tokenizer-design profiles (SURVEY §2.76): the token-length
  * histogram per language (the subword-budget predictor), bytes- and
  * chars-per-token per source (the compression-denominated tokenizer
  * metric), and vocabulary fan-out by prefix length (the trie-shape
  * readout behind prefix indexes and autocomplete). One scan + one or
  * two mergeable aggregates each. */
object TokenStats {

  /** Token-length profile (§2.76): per (lang, token length), token
    * count and share bp of that language's tokens — long-tail lengths
    * predict subword splits. */
  def qTokenLenProfile(s: SparkSession, dir: String): DataFrame = {
    val tl = Text.tokDf(t(s, dir, "documents"), keep = Seq(col("lang")))
      .select(col("lang"), length(col("token")).cast("long").as("len"))
      .groupBy("lang", "len").agg(count(lit(1)).as("n_tokens"))
    val tot = tl.groupBy(col("lang").as("l2"))
      .agg(sum("n_tokens").as("tot"))
    orderedAll(tl.join(broadcast(tot), col("lang") === col("l2")))
      .withColumn("share_bp", expr("n_tokens * 10000 div tot"))
      .select("lang", "len", "n_tokens", "share_bp")
  }

  /** Bytes/chars per token (§2.76): per source, total UTF-8 bytes and
    * characters of the text against its whitespace token count, both
    * ratios in milli — the bytes-per-token number a tokenizer budget
    * is priced in. Pure scan + one mergeable aggregate. */
  def qBytesPerToken(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .select(col("source"),
        expr("CAST(octet_length(text) AS BIGINT)").as("bytes"),
        expr("CAST(length(text) AS BIGINT)").as("chars"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("bytes").cast("long").as("bytes"),
        sum("chars").cast("long").as("chars"),
        sum("toks").cast("long").as("tokens"))
      .withColumn("bytes_per_tok_milli", expr("bytes * 1000 div tokens"))
      .withColumn("chars_per_tok_milli", expr("chars * 1000 div tokens")))

  /** Prefix fan-out (§2.76): for prefix lengths 1..4 over the corpus
    * vocabulary, the distinct-prefix count and the largest bucket
    * (tokens sharing one prefix) — the trie-shape numbers a prefix
    * index is sized by. The vocabulary is a mergeable distinct; the
    * prefix axis explodes in-row over 4 literals. */
  def qPrefixVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = Text.tokDf(t(s, dir, "documents"), keep = Nil).distinct()
    val ks = Seq(1, 2, 3, 4).toDF("k")
    orderedAll(vocab.crossJoin(broadcast(ks))
      .filter(length(col("token")) >= col("k"))
      .select(col("k").cast("long").as("k"),
        expr("substring(token, 1, k)").as("prefix"))
      .groupBy("k", "prefix").agg(count(lit(1)).as("bucket"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_prefixes"),
        sum("bucket").cast("long").as("n_tokens"),
        max("bucket").cast("long").as("max_bucket")))
  }

  /** Tokenizer fertility (§2.96): per (lang, source), pieces per
    * whitespace word in bp, where "pieces" is a word-piece-style
    * segmentation — maximal [a-z0-9]+ runs plus every other non-space
    * character as its own piece (the pre-tokenization rule BPE-family
    * tokenizers start from). Fertility ≈ 1 means whitespace ≈ the
    * tokenizer; ≫ 1 flags scripts/sources the subword budget will pay
    * extra for. The regex is engine-portable (same RE2-compatible
    * pattern in DuckDB); counts fold as exact BIGINTs — one scan, one
    * mergeable aggregate. */
  def qFertility(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .select(col("lang"), col("source"),
        size(array_remove(tokens(col("text")), "")).cast("long")
          .as("n_words"),
        size(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_pieces"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").cast("long").as("words"),
        sum("n_pieces").cast("long").as("pieces"))
      .withColumn("fertility_bp", expr(
        "CASE WHEN words = 0 THEN NULL " +
          "ELSE pieces * 10000 div words END"))
      .select("lang", "source", "n_docs", "words", "pieces",
        "fertility_bp"))
}
