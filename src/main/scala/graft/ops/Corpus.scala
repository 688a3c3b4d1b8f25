package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 §2.22 corpus-construction extensions: the tokenizer-and-mixing
  * rim of a pretraining data pipeline. Line-level dedup (the CCNet /
  * RefinedWeb paragraph pass — removes boilerplate that document-level
  * dedup can't see), BPE merge-candidate pair counting (the first step of
  * tokenizer training), the classic inverted index (the canonical
  * MapReduce lab job, posting lists capped by a TopKPerGroup-shaped
  * window), and the token-budget mixing planner (per-source epoch math a
  * mix schedule needs). All DuckDB-oracled; integer arithmetic throughout.
  *
  * The fixture text is flat words + spaces (no newlines), so "lines" are
  * derived as non-overlapping 5-token windows — the established
  * q_chunk_docs idiom: the grouping/accounting machinery is the real,
  * portable part, and both engines see identical derived lines. */
object Corpus {

  /** Line-level exact dedup (CCNet's paragraph dedup): explode every doc
    * into 5-token lines, keep only each line's FIRST occurrence under the
    * (doc_id, line_idx) total order — encoded as one composite BIGINT so
    * the keep decision is a single `min` aggregate, not a window sort —
    * and account kept/removed per source. At 100 TB the line-keyed
    * aggregate map-combines and the join back is a plain shuffle join on
    * the line content key (hash the line to 128 bits first to bound
    * shuffle width); nothing is corpus-sized on one node. */
  def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("source"),
        posexplode(expr(
          "transform(sequence(0, (size(toks) - 1) div 5), " +
            "i -> concat_ws(' ', slice(toks, i * 5 + 1, 5)))"))
          .as(Seq("line_idx", "line")))
      // okey packs (doc_id, line_idx) into one BIGINT: doc_id << 32 keeps
      // the order total for up to 2^32 lines/doc (a ~20 GB single doc),
      // far past any real corpus bound.
      .withColumn("okey",
        shiftleft(col("doc_id").cast("long"), 32) + col("line_idx"))
    val firsts = lines.groupBy("line").agg(min("okey").as("first_key"))
    orderedAll(lines.join(firsts, "line")
      .groupBy("source")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("okey") === col("first_key"), 1L).otherwise(0L))
          .cast("long").as("n_kept"),
        sum(when(col("okey") === col("first_key"), 0L).otherwise(1L))
          .cast("long").as("n_removed"),
        countDistinct(col("line")).as("n_distinct")))
  }

  /** BPE merge-candidate counting: frequency of every ADJACENT token pair
    * across the corpus, top 50 under the (count desc, pair asc) total
    * order — the exact statistic a byte-pair-encoding trainer maximizes
    * at each merge step. Pairs are generated in-row with a sequence
    * lambda (no self-join), the count map-combines, and the top-50 is a
    * TakeOrdered over vocab²-bounded partials — the 100 TB shape. */
  def qBpePairs(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(50))

  /** The canonical MapReduce inverted index: token → document frequency +
    * first/last posting + the first 10 doc_ids as a comma-joined posting
    * prefix. The cap rides [[graft.functions.BoundedMinK]] — a native
    * bottom-k `TypedImperativeAggregate` with O(k) per-group state that
    * merges map-side — so stats and capped postings are ONE aggregate
    * over one exchange: no per-token window sort (a single-task skew
    * hazard on stopword-grade hub tokens, whose posting list is
    * corpus-sized at 100 TB), no stats⋈caps join, and no collect_list
    * holding an unbounded posting buffer. This is the core of a
    * (doc_id, text) frame with `maxPostings` ids kept per token, shared
    * with graft.api.Graft.invertedIndex; emits (token, df, first_doc,
    * last_doc, postings). */
  private[graft] def invertedIndex(docs: DataFrame,
                                   maxPostings: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("df"), min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        graft.functions.BoundedMinK.minK(col("doc_id"), maxPostings)
          .as("cap"))
      .withColumn("postings",
        array_join(expr("transform(cap, x -> CAST(x AS STRING))"), ","))
      .drop("cap")

  def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    orderedAll(invertedIndex(t(s, dir, "documents"), 10))

  /** Token-budget mixing planner: per-source token inventory plus the two
    * numbers a mix schedule is built from — the source's share of the
    * corpus and the repeat factor ("epochs") needed to hit an equal-share
    * target mix, both in exact basis points (epochs_bp > 10000 means the
    * source must be upsampled). One mergeable aggregate; the 1-row totals
    * ride in via broadcast. All operands non-negative, so `div` is exact
    * floor division in both engines. */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents")
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("toks"))
    val tot = per.agg(sum("toks").as("total_toks"),
      count(lit(1)).cast("long").as("n_sources"))
    orderedAll(per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("toks"),
        expr("CAST(toks * 10000 div total_toks AS BIGINT)").as("share_bp"),
        expr("CAST((total_toks div n_sources) * 10000 div toks AS BIGINT)")
          .as("epochs_bp")))
  }

  /** Per-source boilerplate audit (§2.36) — the within-domain frequent-
    * line detector (the C4/RefinedWeb template-removal signal that
    * GLOBAL line dedup can't see: a nav bar repeated across one site is
    * boilerplate even if unique to that site). Lines are the derived
    * 5-token windows (q_line_dedup idiom); a line is a candidate when it
    * appears in ≥ 2 DISTINCT docs of its source and boilerplate when in
    * ≥ 10% of them. Emits one audit row per source: doc count, distinct
    * lines, candidate/boilerplate counts, and the top line under the
    * (df desc, line asc) total order. Scale shape: (source, line) is the
    * aggregate key (map-combines), the source roll-up is 20 rows, and
    * the top line is a per-source rank window over line-distinct rows —
    * nothing corpus-sized crosses a single partition. */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(0, (size(toks) - 1) div 5), " +
            "i -> concat_ws(' ', slice(toks, i * 5 + 1, 5)))"))
          .as("line"))
      .distinct()
    val nd = t(s, dir, "documents").groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val df = lines.groupBy("source", "line")
      .agg(count(lit(1)).as("df_docs"))
    val w = Window.partitionBy("source")
      .orderBy(col("df_docs").desc, col("line").asc)
    val top = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("df_docs").as("top_df"),
        col("line").as("top_line"))
    orderedAll(df.join(broadcast(nd), "source")
      .groupBy("source", "n_docs")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df_docs") >= 2, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("df_docs") * 10 >= col("n_docs"), 1L).otherwise(0L))
          .as("n_boiler"))
      .join(broadcast(top), "source")
      .select("source", "n_docs", "n_lines", "n_cand", "n_boiler",
        "top_df", "top_line"))
  }

  /** Cross-source content-overlap matrix (§2.38): for every source pair,
    * the number of DISTINCT derived 5-token lines present in both, and
    * the line-set Jaccard in basis points — the leakage audit that
    * catches one domain mirroring another before both are "independent"
    * mix components. The join is keyed by the line itself, and each
    * line's posting is bounded by the SOURCE count (≤20), so pair
    * generation is Σ C(sources-per-line, 2) ≤ 190·|lines| — never
    * corpus², and at 100 TB the line key hashes to 128 bits first
    * (the q_line_dedup note). Output is ≤ C(20,2) rows. */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sl = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(col("source"),
        explode(expr(
          "transform(sequence(0, (size(toks) - 1) div 5), " +
            "i -> concat_ws(' ', slice(toks, i * 5 + 1, 5)))"))
          .as("line"))
      .distinct()
    val sizes = sl.groupBy("source").agg(count(lit(1)).as("nl"))
    val shared = sl.as("a")
      .join(sl.as("b"),
        col("a.line") === col("b.line") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    orderedAll(shared
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("nl").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("nl").as("nb"))), "src_b")
      .withColumn("jac_bp",
        expr("shared * 10000 div (na + nb - shared)"))
      .select("src_a", "src_b", "na", "nb", "shared", "jac_bp"))
  }

  /** Per-source dataset card (§2.39): the one-row-per-source summary a
    * mix decision actually reads — doc/token counts, exact-duplicate
    * share, mean doc length, dominant language — composed from the §2
    * primitives in one scan plus a source-keyed rank window. The point
    * of the operator is the COMPOSITION contract: every number is the
    * same integer the standalone operators emit, so the card never
    * drifts from the audits it summarizes. */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("n_toks",
        expr("size(filter(split(lower(text), ' '), x -> x != ''))")
          .cast("long"))
    val base = d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("toks"),
        countDistinct(col("text")).as("n_distinct"),
        sum("n_chars").as("chars"))
      .withColumn("dup_bp",
        expr("(n_docs - n_distinct) * 10000 div n_docs"))
      .withColumn("mean_chars", expr("chars div n_docs"))
    val w = Window.partitionBy("source")
      .orderBy(col("n").desc, col("lang").asc)
    val topLang = d.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("n").as("top_lang_docs"))
    orderedAll(base.join(broadcast(topLang), "source")
      .select("source", "n_docs", "toks", "dup_bp", "mean_chars",
        "top_lang", "top_lang_docs"))
  }

  // ---- §2.52 IR / search primitives ------------------------------------

  /** Exact phrase search via the positional inverted index (§2.52):
    * every occurrence of the phrase "merge join" as (doc_id, pos) — the
    * position-aligned posting join (pos of 'merge' meets pos+1 of
    * 'join') that a positional index runs instead of rescanning text.
    * Postings build in one posexplode pass; the alignment join is keyed
    * by (doc_id, pos) — equi, never a scan of the cross product. At
    * 100 TB each term's posting list is the unit of distribution and
    * rare-term-first intersection orders the join (declared; with two
    * terms the optimizer's build-side choice already is that). */
  def qPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val pos = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("token"))
    val a = pos.filter(col("token") === "merge")
      .select(col("doc_id"), col("pos"))
    val b = pos.filter(col("token") === "join")
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    orderedAll(a.join(b, Seq("doc_id", "pos"), "left_semi"))
  }

  /** Boolean search via posting-set algebra (§2.52): documents matching
    * (hash AND join AND NOT stream) — two semi joins and one anti join
    * on the distinct (token, doc) posting table, the set-algebra plan a
    * search engine runs for boolean queries (each term's posting list
    * streams through a hash join; nothing is materialized per doc).
    * Emits the matching docs with their source for mix accounting. */
  def qBooleanSearch(s: SparkSession, dir: String): DataFrame = {
    val post = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("token"))
    def docsWith(term: String) =
      post.filter(col("token") === term).select("doc_id")
    orderedAll(t(s, dir, "documents").select("doc_id", "source")
      .join(docsWith("hash"), Seq("doc_id"), "left_semi")
      .join(docsWith("join"), Seq("doc_id"), "left_semi")
      .join(docsWith("stream"), Seq("doc_id"), "left_anti"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (§2.110) — the
    * language-model ranking function next to q_bm25 (the OTHER classic
    * IR scorer; Zhai & Lafferty's µ-smoothing): for the literal query
    * {merge, vector, stream} over the en corpus, score(d) =
    * Σ_q ln((tf(q,d)·|C| + µ·cf(q)) / ((|d|+µ)·|C|)) with µ = 2000.
    * Every per-term log-likelihood quantizes to a ×10⁶ BIGINT (the
    * q_pmi ln policy — irrational, so the round is boundary-safe) and
    * the doc score is their EXACT integer sum; emitted for docs
    * matching ≥ 2 query terms (the conjunctive-ish candidate prune a
    * search engine applies before scoring the long tail). Shapes: one
    * occurrence scan → (doc, term) tf counts for the 3-term literal
    * spine (docs × 3 via a broadcast literal grid, linear in corpus),
    * corpus stats are one broadcast row; products ride DECIMAL(38,0)
    * so tf·|C| cannot wrap at any corpus size. */
  def qQueryLikelihood(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mu = 2000L
    val terms = Seq("merge", "vector", "stream").toDF("term")
    val occ = Text.tokDf(t(s, dir, "documents").filter(col("lang") === "en"))
    val lens = occ.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val cf = occ.join(broadcast(terms), col("token") === col("term"))
      .groupBy("term").agg(count(lit(1)).as("cf"))
    val cTot = occ.agg(count(lit(1)).as("c_tot"))
    val tf = occ.join(broadcast(terms), col("token") === col("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val grid = lens.crossJoin(broadcast(terms.join(cf, "term")))
      .crossJoin(broadcast(cTot))
      .join(tf, Seq("doc_id", "term"), "left")
      .withColumn("tf", coalesce(col("tf"), lit(0L)))
      .withColumn("lp_u", expr(
        s"CAST(round(ln(CAST(CAST(tf AS DECIMAL(38,0)) * c_tot + " +
          s"$mu * CAST(cf AS DECIMAL(38,0)) AS DOUBLE) / " +
          s"CAST(CAST(len + $mu AS DECIMAL(38,0)) * c_tot AS DOUBLE)) " +
          "* 1000000) AS BIGINT)"))
    orderedAll(grid.groupBy("doc_id")
      .agg(sum(when(col("tf") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_matched"),
        sum("lp_u").cast("long").as("score_u"))
      .filter(col("n_matched") >= 2))
  }
}
