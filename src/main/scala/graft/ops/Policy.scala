package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 curation-policy deltas (SURVEY §2.80): representative-
  * choice sensitivity (keep-first vs keep-longest pick different
  * survivors — how often does the policy matter?), train/val/test
  * balance audit of the deterministic md5 split against the corpus
  * language mix, and the quality-filter redundancy matrix (which of
  * the q_filter_funnel gates reject the same documents). All
  * scan-shaped over flags computed in-row. */
object Policy {

  /** Representative-choice sensitivity (§2.80): over exact-duplicate
    * text clusters of size ≥ 2, how many clusters pick a DIFFERENT
    * survivor under keep-first (min doc_id) vs keep-longest
    * (max n_chars, doc_id tie-break) — the dedup-policy delta the
    * corpus actually feels. One text-keyed collapse; struct min/max
    * pick both candidates in the same aggregate. */
  def qRepChoice(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .groupBy("text")
      .agg(count(lit(1)).as("k"),
        min(col("doc_id")).as("first_id"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid")))
          .getField("nid").as("neg_longest_id"))
      .filter(col("k") >= 2)
      .withColumn("longest_id", -col("neg_longest_id"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("k").cast("long").as("n_docs"),
        sum(when(col("first_id") =!= col("longest_id"), 1L)
          .otherwise(0L)).cast("long").as("n_differ"))
      .withColumn("differ_bp", expr(
        "CASE WHEN n_clusters = 0 THEN NULL " +
          "ELSE n_differ * 10000 div n_clusters END")))

  /** Split balance audit (§2.80): per (split, lang), the document
    * share within the split in bp against the corpus-wide language
    * share — the deviation that flags a skewed holdout. The split is
    * q_split_manifest's md5 gate verbatim; margins broadcast. */
  def qSplitBalance(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("h2", expr(
        "substring(md5(concat(CAST(doc_id AS STRING), ':split')), 1, 2)"))
      .withColumn("split",
        when(col("h2") < "1a", "val")
          .when(col("h2") < "34", "test")
          .otherwise("train"))
    val corpus = d.groupBy(col("lang").as("l2"))
      .agg(count(lit(1)).as("n_corpus"))
    val tot = d.agg(count(lit(1)).as("nn"))
    val splitTot = d.groupBy(col("split").as("s2"))
      .agg(count(lit(1)).as("n_split"))
    orderedAll(d.groupBy("split", "lang")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(splitTot), col("split") === col("s2"))
      .join(broadcast(corpus), col("lang") === col("l2"))
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n * 10000 div n_split"))
      .withColumn("corpus_bp", expr("n_corpus * 10000 div nn"))
      .withColumn("dev_bp", expr(
        "n * 10000 div n_split - n_corpus * 10000 div nn"))
      .select("split", "lang", "n", "share_bp", "corpus_bp", "dev_bp"))
  }

  /** Filter redundancy matrix (§2.80): for every pair of the four
    * q_filter_funnel gates, how many docs BOTH reject and the Jaccard
    * of their rejection sets in bp — near-1 pairs are redundant
    * thresholds, near-0 pairs are orthogonal policy. Flags are the
    * same integer rules computed in-row; the pair axis is 6 literal
    * rows over one aggregate. */
  def qFilterOverlap(s: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "for")
    val nStop = stops.map(w =>
      when(array_contains(col("toks"), w), 1).otherwise(0))
      .reduce(_ + _)
    val flagged = t(s, dir, "documents")
      .withColumn("toks", expr(
        "filter(split(lower(text), ' '), x -> x != '')"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("tok_chars",
        col("n_chars") - (col("n_toks") - 1L))
      .withColumn("r_len",
        !(col("n_toks") >= 50L && col("n_toks") <= 100000L))
      .withColumn("r_wordlen", !(
        col("tok_chars") >= col("n_toks") * 3L &&
          col("tok_chars") <= col("n_toks") * 10L))
      .withColumn("r_ttr", expr(
        "NOT (10 * size(array_distinct(toks)) >= 3 * n_toks)"))
      .withColumn("r_stop", nStop < 2)
    val names = Seq("r_len", "r_wordlen", "r_ttr", "r_stop")
    val counts = flagged.agg(
      count(lit(1)).as("n_docs"),
      names.map(f => sum(when(col(f), 1L).otherwise(0L)).cast("long")
        .as(s"n_$f")) ++
        (for {
          i <- names.indices; j <- i + 1 until names.length
        } yield sum(when(col(names(i)) && col(names(j)), 1L)
          .otherwise(0L)).cast("long")
          .as(s"b_${names(i)}_${names(j)}")): _*)
    // the 1-row aggregate is pinned once: six union branches hang off
    // it, and without the pin each would re-run the corpus scan
    val counts1 = Pins.pin(counts, "filter_overlap_counts")
    val pairRows = (for {
      i <- names.indices; j <- i + 1 until names.length
    } yield (names(i), names(j))).map { case (a, b) =>
      counts1.selectExpr(s"'$a' AS filter_a", s"'$b' AS filter_b",
        s"n_$a AS rej_a", s"n_$b AS rej_b",
        s"b_${a}_$b AS rej_both",
        s"CASE WHEN n_$a + n_$b - b_${a}_$b = 0 THEN NULL " +
          s"ELSE b_${a}_$b * 10000 div (n_$a + n_$b - b_${a}_$b) END" +
          " AS jaccard_bp")
    }.reduce(_ unionAll _)
    orderedAll(pairRows)
  }
}
