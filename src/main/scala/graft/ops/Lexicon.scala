package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 policy-lexicon / vocabulary-structure audits (SURVEY
  * §2.66): denylist hit accounting (the blocklist step every
  * production corpus filter runs, with per-term attribution),
  * pairwise source vocabulary overlap (SET overlap — the mix-design
  * complement of q_jsd_sources' distributional distance), and top
  * character trigrams per language (the script/orthography profile a
  * language-ID model trains on). */
object Lexicon {

  private val denylist = Seq("slow", "dup", "deprecated")

  /** Denylist accounting (§2.66): per source × denylist term, docs
    * hit and total occurrences, plus per-source docs removed (any
    * term) and removal bp — the blocklist report with per-term
    * attribution (which rule actually fires). The term axis is a tiny
    * literal array; flags are in-row; two mergeable aggregates. */
  def qLexiconFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
    // single scan: the 3-term axis explodes IN-ROW (a unionAll of
    // per-term branches would re-scan the corpus once per term)
    val perTerm = toks
      .select(col("source"), col("toks"),
        explode(array(denylist.map(lit): _*)).as("term"))
      .select(col("source"), col("term"),
        expr("array_contains(toks, term)").as("hit"),
        expr("size(filter(toks, x -> x = term))").cast("long")
          .as("occ"))
    val bySource = toks
      .withColumn("any_hit",
        denylist.map(tm => array_contains(col("toks"), tm))
          .reduce(_ || _))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("any_hit"), 1L).otherwise(0L)).cast("long")
          .as("docs_removed"))
      .withColumn("removal_bp", expr("docs_removed * 10000 div n_docs"))
    orderedAll(perTerm
      .groupBy("source", "term")
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).cast("long")
        .as("docs_hit"),
        sum("occ").cast("long").as("occurrences"))
      .join(broadcast(bySource), "source")
      .select("source", "term", "docs_hit", "occurrences", "n_docs",
        "docs_removed", "removal_bp"))
  }

  /** Pairwise source vocabulary overlap (§2.66): for every source
    * pair, |A∩B|, |A|, |B| and Jaccard bp over DISTINCT token sets —
    * the "do these sources even share words" mix-design readout next
    * to q_jsd_sources (which weighs frequencies). Intersections come
    * from an in-row pair expansion of each token's source set (the
    * q_cooccur_pmi idiom — per-token fan-out is ≤ |sources|², never a
    * corpus-sized self-join); sizes join back broadcast. */
  def qVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val st = Text.tokDf(t(s, dir, "documents"), keep = Seq(col("source")))
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = st.groupBy("token")
      .agg(array_sort(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    orderedAll(inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("sz").as("size_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("sz").as("size_b"))), "src_b")
      .withColumn("jaccard_bp", expr(
        "inter * 10000 div (size_a + size_b - inter)"))
      .select("src_a", "src_b", "size_a", "size_b", "inter",
        "jaccard_bp"))
  }

  /** Top character trigrams per language (§2.66): the 10 most frequent
    * 3-grams of the raw text (spaces included — word boundaries carry
    * signal) per lang under the (count desc, trigram asc) total order
    * — the orthography profile behind byte/char language-ID. The
    * trigram fan-out is in-row (length-bounded transform); counts are
    * one mergeable aggregate; the rank window sees ≤ |langs|·|grams|
    * aggregated rows. */
  def qCharTrigrams(s: SparkSession, dir: String): DataFrame = {
    val grams = spread(t(s, dir, "documents")
      // guard: sequence(a, b) runs backwards when a > b (the §2.64
      // phantom-index trap), so sub-3-char docs are filtered out
      .filter(length(col("text")) >= 3)
      .select(col("lang"), col("text")), dir, "documents")
      .select(col("lang"), explode(expr(
        """transform(sequence(1, length(text) - 2),
          |  i -> substring(text, i, 3))""".stripMargin)).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("g").asc)
    orderedAll(grams
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select("lang", "rk", "g", "cnt"))
  }

  /** Prefix autocomplete table (§2.98): for every 2-character prefix
    * of the en corpus, the top-3 completions by occurrence count
    * (ties → token asc), completions shorter than 3 chars or rarer
    * than 5 occurrences excluded — the materialized suggest index a
    * search box reads. Token counts collapse BEFORE the prefix rank
    * window (vocab-sized input, not corpus-sized); output is
    * prefixes × ≤3. */
  def qAutocomplete(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents").filter(col("lang") === "en")
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) >= 3)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .withColumn("prefix", substring(col("token"), 1, 2))
    val w = Window.partitionBy("prefix")
      .orderBy(col("n").desc, col("token").asc)
    orderedAll(counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("prefix", "rk", "token", "n"))
  }
}
