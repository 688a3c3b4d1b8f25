package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus statistics & data-mixing operators (SURVEY §2.34) — the
  * measurement layer between raw text and a training mix: collocation
  * strength (Dunning LLR), rank-frequency structure (Zipf slope),
  * graph-degree keywording (RAKE), domain importance weights (DSIR
  * shape), a MinHash-LSH recall/precision audit against exact Jaccard
  * truth, and per-token burstiness (over-dispersion).
  *
  * Determinism policy (§5.3): counts are exact BIGINTs; every
  * transcendental enters through ONE shared expression string (Spark SQL
  * and DuckDB share the syntax, so both engines evaluate the identical
  * IEEE sequence — the q_math_funcs ln() precedent), or through
  * per-term ×10⁶ quantization to BIGINT BEFORE any sum, so aggregate
  * order never touches a float.
  *
  * Scale shape (100 TB): everything is token/bigram-keyed mergeable
  * aggregation; the only broadcasts are vocabulary- or vocab²-bounded
  * marginal tables and 1-row corpus constants. The one pair-listing
  * intermediate (the recall audit's candidate/truth sets) rides the
  * exact-pairs core ([[Text.exactPairs]]) and the band equi-join. */
object CorpusStats {

  /** (doc_id, token) DISTINCT postings of the en corpus. */
  private def dt(s: SparkSession, dir: String): DataFrame =
    Text.tokDf(t(s, dir, "documents").filter(col("lang") === "en"))
      .distinct()

  /** Sequential (first, second) adjacent-token rows of the en corpus —
    * occurrence-grade, not distinct (collocation counts want every
    * adjacency). In-row transform, no positional self-join. */
  private[ops] def bigramRows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("lang") === "en")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS ta, " +
          "element_at(toks, i + 1) AS tb))")).as("bg"))
      .select(col("doc_id"), col("bg.ta").as("ta"), col("bg.tb").as("tb"))

  /** The Dunning LLR epilogue over exact integer cells — ONE expression
    * string shared verbatim with the oracle (identical IEEE sequence in
    * both engines). Expects columns k11, k12, k21, k22, ca, cb, n. */
  val llrSql: String = {
    def term(k: String, r: String, c: String) =
      s"(CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) * " +
        s"ln(CAST($k AS DOUBLE) * CAST(n AS DOUBLE) / " +
        s"(CAST($r AS DOUBLE) * CAST($c AS DOUBLE))) ELSE 0 END)"
    "round(2 * (" + Seq(
      term("k11", "ca", "cb"), term("k12", "ca", "(n - cb)"),
      term("k21", "(n - ca)", "cb"), term("k22", "(n - ca)", "(n - cb)")
    ).mkString(" + ") + "), 4)"
  }

  /** Dunning log-likelihood-ratio collocations: for every adjacent
    * bigram with count ≥ 5, the 2×2 contingency (bigram vs its token
    * marginals over all N adjacencies) and the LLR statistic — the
    * classic collocation-extraction score that, unlike PMI, does not
    * explode on rare pairs. Marginal tables are vocabulary-sized
    * broadcasts; N is one broadcast row; cells are exact BIGINTs and
    * the LLR is the shared single-expression epilogue. */
  def qCollocationLlr(s: SparkSession, dir: String): DataFrame = {
    val bg = bigramRows(s, dir)
    val pairCnt = bg.groupBy("ta", "tb").agg(count(lit(1)).as("k11"))
    val caDf = bg.groupBy("ta").agg(count(lit(1)).as("ca"))
    val cbDf = bg.groupBy("tb").agg(count(lit(1)).as("cb"))
    val nRow = bg.agg(count(lit(1)).as("n"))
    orderedAll(pairCnt
      .join(broadcast(caDf), "ta").join(broadcast(cbDf), "tb")
      .crossJoin(broadcast(nRow))
      .filter(col("k11") >= 5)
      .withColumn("k12", col("ca") - col("k11"))
      .withColumn("k21", col("cb") - col("k11"))
      .withColumn("k22",
        col("n") - col("ca") - col("cb") + col("k11"))
      .selectExpr("ta", "tb", "CAST(k11 AS BIGINT) AS k11",
        s"$llrSql AS llr"))
  }

  /** Zipf rank-frequency slope per source: OLS of ln(count) on ln(rank)
    * over each source's top-20 tokens. Both regressors are ×10⁶-
    * quantized to BIGINT per row BEFORE summing, so Σx/Σy/Σxy/Σxx are
    * exact integers and the slope/intercept divisions are one fixed
    * IEEE sequence — aggregate order cannot flap the result. The rank
    * window runs over the vocabulary-sized per-source count aggregate,
    * never over token occurrences. */
  def qZipf(s: SparkSession, dir: String): DataFrame = {
    val cnt = Text.tokDf(t(s, dir, "documents"), keep = Seq(col("source")))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("token").asc)
    orderedAll(cnt
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 20)
      .selectExpr("source",
        "CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS xu",
        "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS yu")
      .groupBy("source")
      .agg(count(lit(1)).as("n_fit"),
        sum(col("xu")).as("sx"), sum(col("yu")).as("sy"),
        sum(col("xu") * col("yu")).as("sxy"),
        sum(col("xu") * col("xu")).as("sxx"))
      .selectExpr("source", "CAST(n_fit AS BIGINT) AS n_fit",
        "round(CAST(n_fit * sxy - sx * sy AS DOUBLE) / " +
          "CAST(n_fit * sxx - sx * sx AS DOUBLE), 4) AS slope",
        "round((CAST(sy AS DOUBLE) / n_fit - " +
          "(CAST(n_fit * sxy - sx * sy AS DOUBLE) / " +
          "CAST(n_fit * sxx - sx * sx AS DOUBLE)) * " +
          "(CAST(sx AS DOUBLE) / n_fit)) / 1000000, 4) AS intercept"))
  }

  /** RAKE-style keyword scores over the en corpus: freq = total
    * occurrences, deg = Σ over containing docs of (doc's distinct-token
    * count − 1) — the co-occurrence degree a token accumulates inside
    * its documents — and the degree-to-frequency ratio in basis points
    * (high ratio = appears in rich contexts, the RAKE keyword signal).
    * Two token-keyed mergeable aggregates + one doc-keyed size join. */
  def qKeywordRake(s: SparkSession, dir: String): DataFrame = {
    val occ = Text.tokDf(t(s, dir, "documents").filter(col("lang") === "en"))
    val freq = occ.groupBy("token").agg(count(lit(1)).as("freq"))
    val d = dt(s, dir)
    val sizes = d.groupBy("doc_id").agg(count(lit(1)).as("ndist"))
    val deg = d.join(sizes, "doc_id")
      .groupBy("token")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ndist") - 1).cast("long").as("deg"))
    orderedAll(freq.join(deg, "token")
      .withColumn("score_bp", expr("deg * 10000 div freq"))
      .select("token", "n_docs", "freq", "deg", "score_bp"))
  }

  /** DSIR-shape domain importance weights: per en doc, the add-1-
    * smoothed bigram log-likelihood ratio between a target subset
    * (doc_id ≡ 0 mod 4 — a deterministic ~25% "domain" at every SF)
    * and the whole en corpus — the score used to importance-sample a
    * general corpus toward a target distribution.
    * Per-bigram log ratios are ×10⁶-quantized to BIGINT BEFORE the
    * per-doc sum (aggregate-order-proof); the bigram LM tables are
    * vocab²-bounded broadcasts and the three corpus constants ride one
    * broadcast row. */
  def qDsir(s: SparkSession, dir: String): DataFrame = {
    val bg = bigramRows(s, dir)
      .withColumn("is_t", (col("doc_id") % 4 === 0).cast("long"))
    val lm = bg.groupBy("ta", "tb")
      .agg(count(lit(1)).as("cc"), sum(col("is_t")).as("ct"))
    val consts = bg.agg(count(lit(1)).as("nc"),
      sum(col("is_t")).cast("long").as("nt"))
      .crossJoin(broadcast(lm.agg(count(lit(1)).as("v"))))
    val lw = lm.crossJoin(broadcast(consts))
      .selectExpr("ta", "tb",
        "CAST(round(ln(CAST((ct + 1) * (nc + v) AS DOUBLE) / " +
          "CAST((cc + 1) * (nt + v) AS DOUBLE)) * 1000000) AS BIGINT)" +
          " AS lw_u")
    orderedAll(bg.join(broadcast(lw), Seq("ta", "tb"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lw_u")).cast("long").as("logw_u")))
  }

  /** MinHash-LSH audit: precision/recall of the q_dedup_minhash banding
    * (16 md5 lanes, 8 bands of 2) against EXACT Jaccard ≥ 0.5 truth on
    * the en corpus — the one number that justifies (or kills) a sketch
    * configuration before a 100 TB run. Truth rides the exact-pairs
    * core ([[Text.exactPairs]]);
    * candidates are the band-bucket equi-join; both sets are compared
    * by packed pair key and only the five summary counts are emitted —
    * the output is O(1), never the pair lists. */
  def qLshRecall(s: SparkSession, dir: String): DataFrame = {
    // Sampling gate for the exact-truth side: the audit's ground truth is
    // inherently pair-bound (it IS the brute-force the sketch exists to
    // avoid), so at scale one measures recall on a deterministic doc
    // sample — `spark.graft.lshRecallSampleMod` = m keeps docs with
    // doc_id % m == 0 on BOTH the truth and candidate sides (default 1 =
    // whole corpus, so fixture hashes are unchanged; the 10× smoke runs
    // m = 10). Precision/recall over an m-sample estimate the corpus
    // numbers unbiasedly because both sides restrict to the same induced
    // doc subset.
    val mod = s.conf.get("spark.graft.lshRecallSampleMod", "1").toInt
    // Round 9: postings and lane signatures come from the session pin
    // shared with q_dedup_minhash (Sketches.enPostings / mdLaneSigs —
    // identical token universe, so the audit measures exactly the
    // banding the dedup query runs). Per-doc signatures are independent
    // of other docs, so the sample gate filters the PINNED sig table —
    // same rows as re-deriving from filtered postings. Round 11: the
    // shared `spark.graft.dedupAuditSampleBp` md5 doc-sample gate
    // (DedupAudit.auditSample) composes with the legacy mod gate —
    // both sides restrict to the same induced doc subset, so
    // precision/recall stay unbiased estimates.
    // r16 optimization: at the default mod = 1 the truth side IS the
    // loose (cMul=3, sMul=1 ⟺ J ≥ 0.5) exact pair set over the SAME
    // sampled posting universe that q_dedup_sweep and q_minhash_accuracy
    // fold — so consume the session-pinned [[DedupAudit.candPairs]]
    // instead of re-deriving the whole mask-group/inverted pair tree per
    // run (the same shared-pin family as the r9 mdLaneSigs fix; the
    // audits now provably grade ONE truth set). The mod gate keeps its
    // private derivation: a mod-filtered universe is not the pinned one.
    val truth =
      (if (mod <= 1) DedupAudit.candPairs(s, dir)
       else Text.exactPairsOn(
         DedupAudit.auditSample(s, dir, Sketches.enPostings(s, dir))
           .filter(col("doc_id") % mod === 0), 3, 1))
        .select("a_id", "b_id")
    val sig0 = DedupAudit.auditSample(s, dir, Sketches.mdLaneSigs(s, dir))
    // r17: the band rows are byte-tiny (AQE coalesces their exchange to
    // ~one task) but the bucket self-join OUTPUT is pair-scale — hot
    // buckets (exact-dup clusters collide in every band) made the join
    // run serially. Pre-partition on the join key across cores:
    // hash-partitioning on (band, bkey) satisfies the join's
    // distribution requirement, so this adds no extra exchange, it just
    // pins the join's width.
    val bands = Sketches.mdBands(
      if (mod <= 1) sig0 else sig0.filter(col("doc_id") % mod === 0))
      .repartition(s.sparkContext.defaultParallelism,
        col("band"), col("bkey"))
    // Candidate pairs deliberately NOT .distinct()ed here: a pair that
    // collides in several bands appears once per band, and the flag
    // aggregate below dedups it in the same exchange that computes the
    // truth/candidate intersection. r16 optimization: the old spelling
    // evaluated the (expensive) truth subtree twice (semi-join probe +
    // n_truth count) and the candidate self-join twice (semi-join build
    // + n_cand count) — 314 physical operators, 148 Exchanges. One
    // union + one (a_id, b_id) aggregate + one 1-row aggregate computes
    // the identical three counts with each subtree evaluated ONCE
    // (5.6 s → 2.9 s steady at sf0.1; the plan halves). count() over
    // flag predicates (never sum) so an empty universe still yields
    // 0s, exactly as the old count(lit(1)) aggregates did.
    val candRaw = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val flags = truth
      .select(col("a_id"), col("b_id"), lit(1L).as("t"), lit(0L).as("c"))
      .unionAll(candRaw
        .select(col("a_id"), col("b_id"), lit(0L).as("t"), lit(1L).as("c")))
      .groupBy("a_id", "b_id")
      .agg(max(col("t")).as("t"), max(col("c")).as("c"))
    orderedAll(flags.agg(
        count(when(col("t") === 1L, true)).as("n_truth"),
        count(when(col("c") === 1L, true)).as("n_cand"),
        count(when(col("t") === 1L && col("c") === 1L, true)).as("tp"))
      .selectExpr("n_truth", "n_cand", "tp",
        "CASE WHEN n_cand > 0 THEN tp * 10000 div n_cand ELSE 0 END" +
          " AS precision_bp",
        "CASE WHEN n_truth > 0 THEN tp * 10000 div n_truth ELSE 0 END" +
          " AS recall_bp"))
  }

  /** Per-source KL divergence of the doc-length distribution vs the
    * corpus (§2.39): lengths bucket to n_chars div 100, both sides get
    * add-1 smoothing over the CORPUS bucket set (zeros included via the
    * sources × buckets grid), each log-ratio quantizes to a ×10⁶ BIGINT,
    * and KL_u = Σ (c_sb+1)·lr_u div (n_s+B) — the mix-divergence score
    * that says which sources actually add distributional variety.
    * Scale: docs collapse to (source, bucket) counts; the grid is
    * |sources|·|buckets| broadcast-sized. */
  def qKlSources(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "documents")
      .select(col("source"), expr("n_chars div 100").as("bucket"))
    val sb = b.groupBy("source", "bucket").agg(count(lit(1)).as("c_sb"))
    val cb = b.groupBy("bucket").agg(count(lit(1)).as("c_b"))
    val ns = b.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = cb.agg(sum("c_b").cast("long").as("nn"),
      count(lit(1)).as("bb"))
    val grid = ns.crossJoin(broadcast(cb)).crossJoin(broadcast(tot))
      .join(sb, Seq("source", "bucket"), "left")
      .withColumn("csb", coalesce(col("c_sb"), lit(0L)))
      .withColumn("lr_u", expr(
        "CAST(round(ln(CAST((csb + 1) * (nn + bb) AS DOUBLE) / " +
          "(CAST(n_s + bb AS DOUBLE) * (c_b + 1))) * 1000000) AS BIGINT)"))
    orderedAll(grid.groupBy("source", "n_s", "bb")
      .agg(sum(expr("(csb + 1) * lr_u")).as("wsum"),
        sum(when(col("csb") > 0, 1L).otherwise(0L)).as("n_present"))
      .withColumn("kl_u", expr("wsum div (n_s + bb)"))
      .select(col("source"), col("n_s").as("n_docs"), col("n_present"),
        col("kl_u")))
  }

  /** Token burstiness: variance-to-mean ratio of per-document occurrence
    * counts over ALL en docs (zeros included) — bursty content words
    * disperse far above 1, function words sit near it; the signal that
    * separates topical from structural vocabulary. The VMR is the exact
    * integer 10⁴·(n·Σc² − T²) div (n·T); only the doc-count constant
    * rides a broadcast row. */
  def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("lang") === "en")
    val nRow = docs.agg(count(lit(1)).as("n"))
    val occ = Text.tokDf(docs)
      .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    orderedAll(occ.groupBy("token")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c")).cast("long").as("total"),
        sum(col("c") * col("c")).cast("long").as("s2"))
      .crossJoin(broadcast(nRow))
      .withColumn("vmr_bp",
        expr("(n * s2 - total * total) * 10000 div (n * total)"))
      .select("token", "n_docs", "total", "vmr_bp"))
  }

  /** Heaps'-law vocabulary-growth curve (§2.37): cumulative token count
    * and DISTINCT vocabulary size at ten doc-count checkpoints of the
    * en corpus in doc_id order, with ×10⁶-quantized ln values for the
    * V = K·Nᵝ fit — the curve that predicts tokenizer vocab coverage at
    * 100 TB from a prefix. The trick that keeps it one pass: vocabulary
    * at a checkpoint = |tokens whose FIRST doc rank ≤ bound|, so the
    * cumulative-distinct window never exists — just a per-token min and
    * two 10-row broadcast range joins. */
  def qHeapsLaw(s: SparkSession, dir: String): DataFrame = {
    val occ = Text.tokDf(t(s, dir, "documents").filter(col("lang") === "en"))
    val docSize = occ.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.orderBy("doc_id")
    // r17 optimization: the ranked doc-size table has THREE consumers
    // (the checkpoint spine, the first-rank join, the cumulative-token
    // aggregate) — lazy, each re-ran the tokenize explode + doc window
    // (501 plan lines). Pin it once per call (multi-consumer pin
    // idiom); it is doc-dim-bounded at any scale.
    val ranked = Pins.pin(
      docSize.withColumn("r", row_number().over(w)), "heaps_ranked")
    val dn = ranked.agg(count(lit(1)).as("nd"))
    val cps = dn.select(explode(expr("sequence(1, 10)")).as("cp"),
      col("nd")).withColumn("bound", expr("nd * cp div 10"))
    val firsts = occ.join(ranked.select("doc_id", "r"), "doc_id")
      .groupBy("token").agg(min("r").as("fr"))
    val vocab = firsts.crossJoin(broadcast(cps.select("cp", "bound")))
      .filter(col("fr") <= col("bound"))
      .groupBy("cp").agg(count(lit(1)).as("vocab"))
    val toks = ranked.crossJoin(broadcast(cps.select("cp", "bound")))
      .filter(col("r") <= col("bound"))
      .groupBy("cp").agg(sum("sz").cast("long").as("n_toks"),
        count(lit(1)).as("n_docs"))
    orderedAll(toks.join(vocab, "cp")
      .withColumn("lnn_u", expr(
        "CAST(round(ln(CAST(n_toks AS DOUBLE)) * 1000000) AS BIGINT)"))
      .withColumn("lnv_u", expr(
        "CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT)"))
      .select(col("cp").cast("long").as("cp"), col("n_docs"),
        col("n_toks"), col("vocab"), col("lnn_u"), col("lnv_u")))
  }

  /** Language-ID confusion matrix (§2.37): every document scored by the
    * q_lang_score add-1-smoothed unigram LM against all five language
    * profiles — with each per-token log-likelihood ×10⁶-quantized to a
    * BIGINT before the per-doc sum, so the argmax is exact — then the
    * (declared, predicted) confusion counts. The audit that catches
    * mislabeled corpora before a mix is trained on them. Profiles and
    * totals are vocab-bounded broadcasts; scoring is one keyed join +
    * mergeable aggregate; the argmax is a doc-keyed rank window. */
  def qLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val tok = Text.tokDf(t(s, dir, "documents"),
      keep = Seq(col("doc_id"), col("lang")))
    val profile = tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val tot = tok.groupBy("lang").agg(count(lit(1)).as("tot"))
    val vocab = tok.agg(countDistinct(col("token")).as("v"))
    val probe = tok.groupBy("doc_id", "lang", "token")
      .agg(count(lit(1)).as("k"))
      .withColumnRenamed("lang", "declared")
      .withColumnRenamed("token", "p_token")
    val langs = tot.select(col("lang").as("cand"), col("tot"))
    val prof = profile.select(col("lang").as("pr_lang"),
      col("token").as("pr_token"), col("cnt"))
    val scored = probe
      .crossJoin(broadcast(langs))
      .join(broadcast(prof),
        col("p_token") === col("pr_token") && col("cand") === col("pr_lang"),
        "left")
      .crossJoin(broadcast(vocab))
      .withColumn("term_u", col("k") * expr(
        "CAST(round(ln(CAST(coalesce(cnt, 0) + 1 AS DOUBLE) / " +
          "(tot + v)) * 1000000) AS BIGINT)"))
      .groupBy("doc_id", "declared", "cand")
      .agg(sum("term_u").as("score_u"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_u").desc, col("cand").asc)
    orderedAll(scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("declared"), col("cand").as("predicted"))
      .agg(count(lit(1)).as("n_docs")))
  }

  // ---- §2.48 curation funnels / predictability -------------------------

  /** Gopher/C4-style quality-filter funnel (§2.48): per source, how many
    * docs pass each of four integer-rule gates and all of them — the
    * audit a curator reads before committing thresholds. Gates (all
    * integer arithmetic, no float boundary): length 50 ≤ n_toks ≤ 10⁵;
    * mean token length in [3, 10] via 3·n_toks ≤ tok_chars ≤ 10·n_toks
    * (tok_chars = n_chars − (n_toks − 1)); type-token ratio ≥ 0.3 via
    * 10·n_distinct ≥ 3·n_toks; ≥ 2 distinct stopwords from the fixed
    * 8-word list (sum of array_contains flags — portable, no
    * intersect-dedup dialect drift). Scan-shaped: per-doc flags in-row,
    * one mergeable aggregate. */
  def qFilterFunnel(s: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "for")
    val nStop = stops.map(w =>
      array_contains(col("toks"), w).cast("long")).reduce(_ + _)
    orderedAll(t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_distinct",
        size(array_distinct(col("toks"))).cast("long"))
      .withColumn("tok_chars", col("n_chars") - (col("n_toks") - 1))
      .withColumn("g_len",
        col("n_toks") >= 50 && col("n_toks") <= 100000)
      .withColumn("g_wordlen",
        col("tok_chars") >= col("n_toks") * 3 &&
          col("tok_chars") <= col("n_toks") * 10)
      .withColumn("g_ttr", col("n_distinct") * 10 >= col("n_toks") * 3)
      .withColumn("g_stop", nStop >= 2)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("g_len"), 1L).otherwise(0L)).cast("long")
          .as("pass_len"),
        sum(when(col("g_wordlen"), 1L).otherwise(0L)).cast("long")
          .as("pass_wordlen"),
        sum(when(col("g_ttr"), 1L).otherwise(0L)).cast("long")
          .as("pass_ttr"),
        sum(when(col("g_stop"), 1L).otherwise(0L)).cast("long")
          .as("pass_stop"),
        sum(when(col("g_len") && col("g_wordlen") && col("g_ttr") &&
          col("g_stop"), 1L).otherwise(0L)).cast("long").as("pass_all")))
  }

  /** Dedup-cascade funnel (§2.48): per source, survivors after each
    * stage of the standard cascade — exact full-text keep-first, then
    * the normalized 8-token-prefix key (q_dedup_exact's key; the key is
    * a function of the text, so stage-2 survivors = distinct keys) —
    * with basis-point removal accounting. The composition contract over
    * the §2.11 dedup primitives: a mix designer reads this table, not
    * the pair lists. Two count-distincts in one mergeable aggregate. */
  def qDedupCascade(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "documents")
      .withColumn("pkey",
        concat_ws(" ", slice(tokens(col("text")), 1, 8)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_exact"),
        countDistinct(col("pkey")).as("n_prefix"))
      .withColumn("exact_removed_bp",
        expr("(n_docs - n_exact) * 10000 div n_docs"))
      .withColumn("prefix_removed_bp",
        expr("(n_exact - n_prefix) * 10000 div n_exact")))

  /** Hapax-legomena profile (§2.55): per source, the vocabulary size,
    * the count of tokens occurring exactly once (hapax) and exactly
    * twice (dis), and the hapax share of the vocabulary in basis
    * points — the vocabulary-health number behind Heaps/Zipf (a
    * falling hapax share signals the corpus is saturating; a rising
    * one, contamination by noise). Token counts are one mergeable
    * aggregate; the profile is a second aggregate over the
    * (source, token) table. */
  def qHapax(s: SparkSession, dir: String): DataFrame =
    orderedAll(Text.tokDf(t(s, dir, "documents"), keep = Seq(col("source")))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).cast("long")
          .as("hapax"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).cast("long")
          .as("dis"),
        sum("cnt").cast("long").as("tokens"))
      .withColumn("hapax_bp", expr("hapax * 10000 div vocab")))

  /** Three-set audience Venn (§2.55): users bucketed by behavioral
    * segment membership — a = spend > $3,300, b = active ≥ 28 distinct
    * days, c = ≥ 13 purchases (thresholds near the sf0.01 medians so
    * every 2³ region is populated) — the inclusion–exclusion audit
    * behind q_type_affinity's pairwise numbers (pairwise overlap can
    * look fine while a triple region is empty). One user-keyed flag
    * aggregate, then an ≤8-row group. */
  def qVenn3(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        (sum(expr("CAST(round(value * 100) AS BIGINT)")) > 330000L)
          .as("a"),
        (countDistinct(expr("unix_micros(ts) div 86400000000")) >= 28L)
          .as("b"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          >= 13L).as("c"))
      .groupBy("a", "b", "c")
      .agg(count(lit(1)).as("n_users")))

  /** Per-source document-length percentiles (§2.55): discrete
    * p50/p90/p99 of n_chars — the corpus-card length profile
    * ([[DistRank.discrete]] on the curation axis; mean alone,
    * q_text_stats, hides the tail a chunker must plan for). */
  def qDoclenDisc(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "documents")
      .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val by = Seq("source")
    orderedAll(DistRank.discrete(DistRank.cumulative(h, by, "n_chars", "cnt",
        0), by, "n_chars", Seq(50 -> "p50", 90 -> "p90", 99 -> "p99"))
      .withColumnRenamed("tot", "n"))
  }

  /** Conditional bigram entropy (§2.48): per source,
    * H(b|a) = Σ_ab (n_ab/N)·ln(n_a/n_ab) with each ln quantized ×10⁶
    * BEFORE the weighted sum (exact BIGINTs; n_a = bigrams starting
    * with a) — the predictability/boilerplate signal q_token_entropy's
    * unigram float form can't see (a corpus of shuffled words and one
    * of repeated sentences share unigram entropy but not bigram).
    * Bigram counts are one mergeable aggregate; the n_a margin joins
    * back on the bigram-head key — the q_cooccur_pmi partitioning. */
  def qBigramEntropy(s: SparkSession, dir: String): DataFrame = {
    val bi = t(s, dir, "documents")
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), explode(expr(
        """filter(
          |  transform(toks, (x, i) ->
          |    CASE WHEN i < size(toks) - 1
          |         THEN struct(x AS a, toks[i + 1] AS b) END),
          |  g -> g IS NOT NULL)""".stripMargin)).as("bg"))
      .select(col("source"), col("bg.a").as("a"), col("bg.b").as("b"))
      .groupBy("source", "a", "b").agg(count(lit(1)).as("n_ab"))
    val head = bi.groupBy(col("source").as("s2"), col("a").as("a2"))
      .agg(sum("n_ab").as("n_a"))
    orderedAll(bi
      .join(head, col("source") === col("s2") && col("a") === col("a2"))
      .withColumn("term_u", expr(
        "n_ab * CAST(round(ln(CAST(n_a AS DOUBLE) / n_ab) * 1000000) " +
          "AS BIGINT)"))
      .groupBy("source")
      .agg(sum("n_ab").cast("long").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bg"),
        sum("term_u").cast("long").as("h_sum_u"))
      .withColumn("h_u", expr("h_sum_u div n_bigrams")))
  }

  /** Simpson diversity profile (§2.56): per source, the Simpson
    * concentration λ = Σ c(c−1) / (N(N−1)) over token counts in exact
    * parts-per-billion integer arithmetic (the probability two random
    * token draws collide — the diversity twin of q_token_entropy with
    * NO float in the pipeline), plus the inverse-Simpson effective
    * vocabulary in milli-tokens (how many equally-common tokens this
    * concentration corresponds to). Token counts are the q_wordcount
    * mergeable aggregate; the profile is a second aggregate per
    * source — nothing vocabulary-sized leaves its partition.
    * Degenerate sources emit NULL (all-unique tokens → coll = 0 has no
    * inverse; n_tokens < 2 has no pair to draw), and the ppb / inverse
    * products ride DECIMAL(38,0) (DuckDB mirrors in HUGEINT) — the qHhi
    * overflow convention, since coll·10⁹ wraps a BIGINT silently in
    * non-ANSI Spark on a large enough corpus. */
  def qSimpson(s: SparkSession, dir: String): DataFrame =
    orderedAll(Text.tokDf(t(s, dir, "documents"), keep = Seq(col("source")))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum("c").cast("long").as("n_tokens"),
        sum(expr("c * (c - 1)")).cast("long").as("coll"))
      .withColumn("simpson_ppb",
        expr("CAST(CASE WHEN n_tokens < 2 THEN NULL ELSE " +
          "CAST(coll AS DECIMAL(38,0)) * 1000000000 div " +
          "(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) END " +
          "AS BIGINT)"))
      .withColumn("eff_vocab_milli",
        expr("CAST(CASE WHEN coll = 0 OR n_tokens < 2 THEN NULL ELSE " +
          "CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1) * 1000 " +
          "div coll END AS BIGINT)")))

  /** Source-novelty Jensen–Shannon divergence (§2.56): per source, the
    * symmetric, ln2-bounded JSD between the source's token distribution
    * and its corpus complement, add-1 smoothed over the corpus
    * vocabulary grid (zeros included — the q_kl_sources grid on the
    * token axis). Each log-ratio ln(2p/(p+q)) reduces to a SINGLE
    * division of exact integer products (2·c1·d2 over c1·d2 + c2·d1),
    * quantized ×10⁶ BIGINT before the weighted sums, so both engines
    * evaluate one identical double op per grid cell. JSD_u =
    * (Σc1·lr1 div d1 + Σc2·lr2 div d2) div 2. Scale: the grid is
    * |sources|×|vocab| partitioned by token; only the corpus totals
    * row broadcasts. */
  def qJsdSources(s: SparkSession, dir: String): DataFrame = {
    val st = Text.tokDf(t(s, dir, "documents"), keep = Seq(col("source")))
    val sc = st.groupBy("source", "token").agg(count(lit(1)).as("c_st"))
    val ct = st.groupBy("token").agg(count(lit(1)).as("c_t"))
    val ns = st.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = ct.agg(sum("c_t").cast("long").as("nn"),
      count(lit(1)).as("vv"))
    val grid = ct.crossJoin(broadcast(ns))
      .crossJoin(broadcast(tot))
      .join(sc, Seq("source", "token"), "left")
      .withColumn("c1", coalesce(col("c_st"), lit(0L)) + 1L)
      .withColumn("c2", col("c_t") - coalesce(col("c_st"), lit(0L)) + 1L)
      .withColumn("d1", col("n_s") + col("vv"))
      .withColumn("d2", col("nn") - col("n_s") + col("vv"))
      .withColumn("lr1_u", expr(
        "CAST(round(ln(CAST(2 * c1 * d2 AS DOUBLE) / " +
          "CAST(c1 * d2 + c2 * d1 AS DOUBLE)) * 1000000) AS BIGINT)"))
      .withColumn("lr2_u", expr(
        "CAST(round(ln(CAST(2 * c2 * d1 AS DOUBLE) / " +
          "CAST(c1 * d2 + c2 * d1 AS DOUBLE)) * 1000000) AS BIGINT)"))
    // The quantized KL halves are ≥ −0.5·denominator (round error of
    // ±0.5 per grid cell, weights summing to the denominator), so a +1
    // offset before the integer division makes every dividend positive
    // and truncating (Spark div) vs flooring (DuckDB //) division agree.
    orderedAll(grid.groupBy("source", "n_s", "d1", "d2")
      .agg(sum(expr("c1 * lr1_u")).as("w1"),
        sum(expr("c2 * lr2_u")).as("w2"))
      .withColumn("jsd_u", expr(
        "((w1 + d1) div d1 + (w2 + d2) div d2) div 2 - 1"))
      .select(col("source"), col("n_s").as("n_tokens"), col("jsd_u")))
  }

  /** Max repeated-token run histogram (§2.95): per doc the longest run
    * of one token repeated consecutively ("batch batch batch" → 3),
    * folded to (run_len → docs, share bp) — the degenerate-generation /
    * stutter signal SUBSTRING-level dedup and quality filters key on,
    * orthogonal to q_repetition_ratio (distinct-share: insensitive to
    * adjacency) and q_burstiness (within-doc dispersion). Runs via the
    * gaps-and-islands trick on positions: pos − row_number over
    * (doc, token) is constant exactly within a consecutive run. The
    * only shuffle keys on doc_id (the posexplode is in-row); run/doc
    * folds are mergeable. */
  def qTokenRun(s: SparkSession, dir: String): DataFrame = {
    // r17: spread the docs before the posexplode (guide §2.5 — the
    // single-file scan otherwise tokenizes and shuffle-writes every
    // token instance from ONE task).
    val pos = spread(t(s, dir, "documents")
        .select(col("doc_id"), col("text")), dir, "documents",
        col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
    val w = Window.partitionBy("doc_id", "token").orderBy("pos")
    val runs = pos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "token", "grp")
      .agg(count(lit(1)).as("run"))
    val perDoc = runs.groupBy("doc_id").agg(max("run").as("max_run"))
    val tot = perDoc.agg(count(lit(1)).as("n_all"))
    orderedAll(perDoc.groupBy("max_run")
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n_docs * 10000 div n_all"))
      .select(col("max_run").as("run_len"), col("n_docs"),
        col("share_bp")))
  }
}
