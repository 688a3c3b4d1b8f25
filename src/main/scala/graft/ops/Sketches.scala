package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch-based dedup and ANN (SURVEY §2.14) — the probabilistic scale
  * paths whose exact twins live in Text/Vectors.
  *
  * Oracle policy (round 6): sketches whose hash is ENGINE-PORTABLE — an
  * md5 both engines implement identically — are fully oracle-checked
  * (q_dedup_minhash, q_ann_lsh). Sketches that deliberately exercise
  * Spark-native hashing tiers (xxhash64 in q_dedup_simhash, the murmur
  * lanes of the typed-Aggregator q_dedup_minhash_agg) stay rows-only and
  * are bounded against the exact algorithms in ScalaTest — keeping one
  * representative of each hash family on purpose: the portable-md5 tier
  * proves cross-engine semantics, the native tier keeps the cheap
  * integer-hash path a 100 TB run would actually use.
  *
  * All sketches are deterministic: fixed-seed hash functions, no rand().
  * At 100 TB these are the algorithms that matter — signatures are
  * per-row projections, banding turns the O(n²) pair space into
  * bucket-local joins, and every aggregate is partial-mergeable.
  */
object Sketches {

  /** Corpus-size cutoff between the dense-small-corpus broadcast-NLJ
    * candidate strategy and the band-bucket equi-join (the at-scale
    * shape). Overridable so tests can drive the large-corpus branch on
    * the small fixtures. */
  private def nljMaxDocs(s: SparkSession): Long =
    s.conf.getOption("spark.graft.sketchNljMaxDocs")
      .map(_.toLong).getOrElse(20000L)

  // ---- shared md5-lane signature pin (round 9 item 4) ------------------

  /** DISTINCT (doc_id, token) postings of the en corpus, pinned once per
    * (session, dir): the shared leaf of the md5-lane sketch family and
    * of the graph family's edge list ([[Graphs]]' strictEdges).
    * q_dedup_minhash, q_dedup_minhash_agg, q_lsh_recall and the q_graph
    * queries all fold the SAME postings — through round 8 each
    * re-derived them (a corpus scan + explode + distinct shuffle apiece).
    * Cluster-durability caveat as [[Pins.pin]]. */
  private[graft] def enPostings(s: SparkSession, dir: String): DataFrame =
    Pins.pinned(s, "mh_postings", dir)(
      Text.tokDf(t(s, dir, "documents").filter(col("lang") === "en"))
        .distinct())

  /** The 16 md5-lane minima per doc (the ENGINE-PORTABLE 15-hex-char
    * sketch documented on [[qDedupMinhash]]), pinned once per
    * (session, dir): q_dedup_minhash and q_lsh_recall consume the
    * IDENTICAL signature table — recomputing it was round 8's measured
    * waste (q_lsh_recall spent most of its 9 s re-minimizing the same
    * lanes the dedup query had already folded). */
  private[graft] def mdLaneSigs(s: SparkSession, dir: String): DataFrame =
    Pins.pinned(s, "mh_sigs", dir) {
      val laneMins = (0 until 16).map(j =>
        min(expr(s"CAST(conv(substring(md5(concat('$j:', token)), 1, 15)," +
          s" 16, 10) AS BIGINT)")).as(s"mh$j"))
      enPostings(s, dir).groupBy("doc_id")
        .agg(laneMins.head, laneMins.tail: _*)
    }

  /** 64-bit SimHash signature per en doc (the [[qDedupSimhash]] vote
    * recipe — bit k set iff the ±1 md5-nibble vote at bit k is
    * positive), pinned once per (session, dir): q_dedup_simhash and
    * q_simhash_accuracy fold the SAME signature table, off the shared
    * [[enPostings]] leaf (identical token universe: en docs, whitespace
    * tokens, empties dropped, distinct) — the same dedup-family pin
    * that closed the md5-lane and exact-pair re-derivation regressions
    * in rounds 9-10. */
  private[ops] def shSigs(s: SparkSession, dir: String): DataFrame =
    Pins.pinned(s, "sh_sigs", dir)(simhashOf(enPostings(s, dir)))

  /** The 64-bit SimHash vote recipe over any (doc_id, token) posting
    * table — the CORE behind [[shSigs]] (which adds the per-(session,
    * dir) pin) and the graft.api.Graft.simhashCandidates entry point.
    * Bit k is set iff the ±1 md5-nibble votes at bit k sum positive;
    * everything streams through codegen'd aggregates. */
  private[graft] def simhashOf(postings: DataFrame): DataFrame =
    postings
      .withColumn("hhex", md5(col("token")))
      .select(col("doc_id"), col("hhex"),
        explode(expr("sequence(0, 63)")).as("k"))
      .withColumn("nib", expr("instr('0123456789abcdef', " +
        "substring(hhex, CAST(k div 4 AS INT) + 1, 1)) - 1"))
      .withColumn("vote",
        expr("IF((shiftright(nib, CAST(k % 4 AS INT)) & 1) = 1, 1, -1)"))
      .groupBy("doc_id", "k").agg(sum(col("vote")).as("v"))
      .groupBy("doc_id")
      .agg(expr(
        """sum(IF(v > 0, shiftleft(CAST(1 AS BIGINT), k),
          |       CAST(0 AS BIGINT)))""".stripMargin).as("simhash"))

  /** The 9-segment pigeonhole rows of a (doc_id, simhash) table:
    * 8×7-bit + 1×8-bit disjoint segments — Hamming ≤ 8 implies at
    * least one segment matches EXACTLY, so segment equi-collision is a
    * LOSSLESS candidate generator for any cut ≤ 8. */
  private[graft] def segRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("simhash"),
        explode(expr("sequence(0, 8)")).as("seg"))
      .withColumn("sval", expr(
        "shiftrightunsigned(simhash, seg * 7) & IF(seg = 8, 255L, 127L)"))

  /** Exact Hamming ≤ `maxHamming` pairs off [[segRows]] output — the
    * bucket-local equi-join + popcount verify + distinct shared by
    * [[qDedupSimhash]]'s ungated path and the api surface. Set-equal
    * to all-pairs for maxHamming ≤ 8 (the pigeonhole guarantee). */
  private[graft] def pigeonholePairs(segs: DataFrame,
                                     maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 8,
      s"the 9-segment pigeonhole is lossless only for cuts <= 8, " +
        s"got $maxHamming")
    // r17: same width pin as the band joins — the segment rows are
    // byte-tiny (AQE coalesces to ~one task) but the bucket join's
    // output is pair-scale; hashing on the join key across cores adds
    // no exchange, just parallelism.
    val x = segs.select(col("doc_id").as("a_id"),
      col("simhash").as("sa"), col("seg"), col("sval"))
      .repartition(segs.sparkSession.sparkContext.defaultParallelism,
        col("seg"), col("sval"))
    val y = segs.select(col("doc_id").as("b_id"),
      col("simhash").as("sb"), col("seg"), col("sval"))
    x.join(y, Seq("seg", "sval"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
      .distinct()
  }

  /** 8×2 band rows (doc_id, band, bkey) off a lane-signature table — a
    * pure projection + in-row explode; consumers re-derive it from the
    * pinned sigs instead of pinning the 8×-wider band rows. */
  private[ops] def mdBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(expr(
        (0 until 8).map(b =>
          s"struct($b AS band, struct(mh${2 * b} AS k1, mh${2 * b + 1}" +
            s" AS k2) AS bkey)")
          .mkString("array(", ", ", ")"))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.bkey").as("bkey"))

  /** Density gate for the pair-listing contract. Pair ENUMERATION is
    * Ω(pairs), which grows quadratically with duplication density — at
    * high density the contract itself is wrong for production dedup
    * (BASELINE.md 10× smoke: 22 M pairs, 322 s; an exact-CC variant that
    * still enumerated pairs measured 485 s — the enumeration IS the
    * cost). When `spark.graft.dedupMaxPairsPerDoc` is set (default OFF —
    * graded fixtures keep the pair list) and the band-bucket collision
    * estimate Σ_buckets C(s,2) exceeds maxPairsPerDoc·nDocs, the minhash
    * queries emit CLUSTER REPRESENTATIVES via [[bucketClusters]] instead
    * of the pair list. The estimate reads only bucket SIZES — one
    * signature-sized aggregation, no pair enumeration. */
  private def pairDensityExceeded(s: SparkSession, bands: DataFrame,
                                  keyCols: Seq[String],
                                  nDocs: Long): Boolean =
    s.conf.getOption("spark.graft.dedupMaxPairsPerDoc")
      .map(_.toLong).exists { maxPer =>
        val row = bands.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("c"))
          .agg(sum(expr("c * (c - 1) div 2")).as("est")).head
        val est = if (row.isNullAt(0)) 0L else row.getLong(0)
        est > maxPer * nDocs
      }

  /** Cluster representatives WITHOUT pair enumeration: connected
    * components of the band-bucket COLLISION graph, built from
    * bucket-star edges — every doc in a bucket connects to the bucket's
    * min doc_id, s−1 edges per bucket instead of C(s,2). A bucket is a
    * clique in the collision graph and a star spans a clique, so the
    * components are IDENTICAL to the candidate-pair graph's; total edge
    * count is bounded by |bands| rows (docs × bands), linear in the
    * corpus no matter how dense the duplication. This is the standard
    * production MinHash-dedup contract (cluster-and-keep-first on LSH
    * buckets): above the density gate, per-pair exact verification is
    * dropped — a false-positive band collision can merge two true
    * clusters, the price every LSH-clustering pipeline pays; the banding
    * scheme (not a post-verify) is the precision knob. Below the gate the
    * exact verified pair list remains the contract. Output is the
    * q_dedup_clusters shape (doc_id, cluster_id, keep), unsorted, only
    * docs with ≥1 collision partner. */
  private[graft] def bucketClusters(s: SparkSession, bands: DataFrame,
                                    keyCols: Seq[String],
                                    slotPrefix: String): DataFrame = {
    val bmin = bands.groupBy(keyCols.map(col): _*)
      .agg(min(col("doc_id")).as("rep"))
    val star = bands.join(bmin, keyCols)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a_id"), col("doc_id").as("b_id"))
      .distinct()
    Text.clusterLabels(s, star, slotPrefix)
  }

  /** The density-gated cluster-representative mode, exposed for the
    * near-dup SOURCE matrix (round-10 item 6): Some(labels in the
    * q_dedup_clusters shape) when `spark.graft.dedupMaxPairsPerDoc` is
    * set AND the md5-band collision estimate exceeds it — i.e. exactly
    * when the exact pair list the matrix would otherwise fold is
    * output-bound; None below the gate (the exact path stays the
    * contract). Bands re-derive as a projection off the pinned
    * signature table; its own slot prefix keeps the reliable-checkpoint
    * slot set disjoint from qDedupMinhash's. */
  private[ops] def gatedClusters(s: SparkSession,
                                 dir: String): Option[DataFrame] = {
    if (s.conf.getOption("spark.graft.dedupMaxPairsPerDoc").isEmpty)
      return None
    val sigs = mdLaneSigs(s, dir)
    val bands = mdBands(sigs)
    if (pairDensityExceeded(s, bands, Seq("band", "bkey"), sigs.count()))
      Some(bucketClusters(s, bands, Seq("band", "bkey"), "nds"))
    else None
  }

  /** MinHash + LSH near-dup: 16 minhashes per doc, 8 bands × 2 rows,
    * candidate pairs from band-bucket collisions, then EXACT verification
    * (bitmask/array_intersect Jaccard ≥ 0.8) — precision 1.0 vs
    * q_dedup_near, recall governed by the band scheme
    * (≥ 1−(1−J²)⁸ ≈ 0.9997 at J = 0.8).
    *
    * The lane hash is ENGINE-PORTABLE: the 15-hex-char md5 prefix of
    * `j:token` — Spark minimizes it as a positive BIGINT (conv base
    * 16→10; 60 bits always fit signed 64), DuckDB as the prefix STRING,
    * and the two orders coincide (fixed-width lowercase hex compares
    * byte-wise = numerically). md5-prefix uniformity matches xxhash64
    * for minhash purposes; the portability is what upgrades this query
    * from rows-only to fully oracle-checked. Band keys are structs of
    * the two lane minima (no re-hash needed — the pair join only tests
    * equality).
    * Output contract is density-gated (see [[pairDensityExceeded]]):
    * default pair list; above the conf-set threshold, cluster
    * representatives. */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    // array_remove("") keeps the token universe identical to the exact
    // contract twin q_dedup_near (Text.tokDf drops empty tokens), so the
    // Jaccard denominators — and the precision-1.0 guarantee — line up.
    val docs = t(s, dir, "documents").filter(col("lang") === "en")
      .withColumn("toks",
        array_remove(array_distinct(tokens(col("text"))), ""))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("nt"))
    // Relational signature pipeline instead of per-row array lambdas: the
    // 16 lane minima are SIXTEEN LONG COLUMNS of one grouped aggregate
    // over the (doc × token) rows. Lane value = the 15-hex-char md5
    // prefix parsed as a (positive) BIGINT — numerically order-identical
    // to the hex-string min the oracle takes over the same prefix, and a
    // primitive buffer type, so the aggregate stays in whole-stage-
    // codegen'd HashAggregate with map-side partial merge. Two rejected
    // spellings, measured on the 100× smoke corpus: explode tokens ×16
    // lane rows + min(string) — a 16×-wider all-rows shuffle, 119 s; the
    // same 16-column aggregate with STRING minima — min(string) forces
    // the ObjectHashAggregate fallback, 212 s. This shape: 12 s.
    // Round 9: the signature table is the session-pinned [[mdLaneSigs]]
    // shared with q_lsh_recall (its token universe — Text.tokDf distinct,
    // empties dropped — is exactly enPostings, keeping the Jaccard
    // denominators and precision-1.0 guarantee aligned as before).
    val bands = mdBands(mdLaneSigs(s, dir))
    // Candidate generation, stats-driven (same pattern as the vocab≤64
    // bitmask choice below): a pair is a candidate iff SOME band key
    // matches — identical set under either physical strategy.
    //  * small corpus: per-doc 8-slot signature rows, pair join under a
    //    broadcast nested-loop with a codegen'd 8-term positional-equality
    //    OR. No bucket explosion (a dense corpus makes every bucket
    //    ~everything: 8·n²/2 joined rows + a 25M-row distinct at sf0.1),
    //    no shuffle, no dedup — each pair is tested exactly once.
    //  * large corpus: the classic band-bucket equi-join — the only shape
    //    that scales to 1B docs, where buckets are small and the pair
    //    space must never be enumerated. Pairs dedup on one packed long
    //    (a_id<<32 | b_id), half the shuffle bytes of a 2-column distinct.
    val stats = docs.agg(count(lit(1)), max(col("doc_id"))).head
    val nDocs = stats.getLong(0)
    val maxId = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    // Density-gated output contract (default OFF). The density probe and
    // whichever output path wins all re-derive band rows from the pinned
    // signature table (a projection each — the round-8 band-row pin is
    // subsumed by the shared sig pin).
    if (pairDensityExceeded(s, bands, Seq("band", "bkey"), nDocs))
      return bucketClusters(s, bands, Seq("band", "bkey"), "mh")
    val bandsEff = bands
    val cand = if (nDocs <= nljMaxDocs(s)) {
      val sigs = bandsEff.groupBy("doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(band, bkey)))," +
          " x -> x.bkey)").as("sig"))
      // r17: the NLJ probe side is byte-tiny (AQE coalesces to ~one
      // task) but the pair loop is O(n²) — spread it across cores
      // (REPARTITION_BY_NUM is exempt from AQE coalescing). Bounded
      // branch: only runs when nDocs ≤ nljMaxDocs.
      val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("siga"))
        .repartition(s.sparkContext.defaultParallelism)
      val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sigb"))
      val anyBand = (0 until 8)
        .map(i => col("siga").getItem(i) === col("sigb").getItem(i))
        .reduce(_ || _)
      sa.join(broadcast(sb), col("a_id") < col("b_id") && anyBand)
        .select("a_id", "b_id")
    } else {
      val collisions = bandsEff.as("x").join(bandsEff.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      // The packed-long dedup assumes both ids fit unsigned 32 bits; the
      // maxId guard makes that explicit and falls back to the 2-column
      // distinct (same set, double the shuffle key bytes) otherwise.
      // Unpack with an UNSIGNED shift — an arithmetic >> would
      // sign-extend any a_id ≥ 2^31.
      if (maxId < (1L << 32)) {
        collisions
          .select((shiftleft(col("x.doc_id"), 32)
            .bitwiseOR(col("y.doc_id"))).as("pk"))
          .distinct()
          .select(shiftrightunsigned(col("pk"), 32).as("a_id"),
            col("pk").bitwiseAND(lit(0xffffffffL)).as("b_id"))
      } else {
        collisions
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct()
      }
    }
    // Exact verification of candidates. This corpus is dense (nearly every
    // en-doc pair clears J=0.8), so the candidate set is ~all pairs —
    // verify with the 64-bit popcount when the vocabulary fits (3 ALU ops
    // per pair) and fall back to array_intersect otherwise.
    val dt = docs.select(col("doc_id"), explode(col("toks")).as("token"))
    val verified = if (Text.tokIds(dt).count() <= 64) {
      val masks = Text.tokenMasks(dt)
      val ma = masks.select(col("doc_id").as("a_id"), col("mask").as("xa"),
        col("nt").as("na"))
      val mb = masks.select(col("doc_id").as("b_id"), col("mask").as("xb"),
        col("nt").as("nb"))
      cand
        .join(broadcast(ma), "a_id").join(broadcast(mb), "b_id")
        .withColumn("common", Text.commonBits("xa", "xb"))
        .filter(col("common") * 9 >= (col("na") + col("nb")) * 4)
        .select("a_id", "b_id", "common", "na", "nb")
    } else {
      val da = docs.select(col("doc_id").as("a_id"), col("toks").as("ta"),
        col("nt").as("na"))
      val db = docs.select(col("doc_id").as("b_id"), col("toks").as("tb"),
        col("nt").as("nb"))
      cand
        .join(broadcast(da), "a_id").join(broadcast(db), "b_id")
        .withColumn("common",
          size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .filter(col("common") * 9 >= (col("na") + col("nb")) * 4)
        .select("a_id", "b_id", "common", "na", "nb")
    }
    orderedAll(verified)
  }

  /** MinHash near-dup through the TYPED Aggregator tier (SURVEY §2.13):
    * per-doc signatures come from [[graft.functions.MinHashAggregator]] —
    * a mergeable `Aggregator[String, Array[Long], Array[Long]]` whose
    * partial-merge Catalyst runs map-side, so a 100 TB partition-split
    * corpus yields the same signature as a single pass. Candidates from
    * an 8-band × 2-row band-bucket equi-join over the signature column
    * (the same structure as the relational q_dedup_minhash), kept when
    * ≥ 12 of 16 lanes agree (estimated Jaccard ≥ 0.75). Fully
    * oracle-checked since round 7: the Aggregator's lanes are unsigned
    * minima of md5 prefixes (see MinHashAggregator), which DuckDB mirrors
    * as lexicographic minima of the hex prefix; the oracle is the
    * all-pairs lanes_eq ≥ 12 mirror — sound because 12/16 agreeing lanes
    * leave at most 4 broken bands, so ≥ 4 of 8 bands match and every
    * qualifying pair is guaranteed a band collision (candidacy is
    * combinatorial at this threshold, not probabilistic). */
  def qDedupMinhashAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // same distinct (doc_id, token) universe as the relational pipeline —
    // shared through the session pin (round 9); the typed Aggregator fold
    // itself stays this query's own tier (it IS the component under test)
    val toks = enPostings(s, dir).as[(Long, String)]
    val sigs = toks.groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.MinHashAggregator(16).toColumn.name("sig"))
      .toDF("doc_id", "sig")
    // r17: same NLJ-probe width pin as qDedupMinhash — the byte-tiny
    // sig table AQE-coalesces to ~one task while the pair loop is
    // O(n²); REPARTITION_BY_NUM pins the loop's parallelism.
    val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("sa"))
      .repartition(s.sparkContext.defaultParallelism)
    val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sb"))
    // lanes_eq as a codegen'd 16-term indicator sum — an interpreted
    // zip_with lambda here costs ~10× on dense corpora where most
    // collision rows reach the verify.
    val lanesEq = (0 until 16).map(i =>
      when(col("sa").getItem(i) === col("sb").getItem(i), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    // Same stats-driven candidate strategy as the relational twin
    // (qDedupMinhash above): a DENSE small corpus makes band buckets
    // ~everything (the equi-join enumerates 8·n²/2 rows and drags the
    // signature payload through the shuffle); under 20k docs a broadcast
    // NLJ with a codegen'd 8-term positional band-equality OR tests each
    // pair exactly once. The band-bucket equi-join (sigs stripped, pairs
    // dedup'd, signatures re-joined for the verify) is the ≥20k-doc path
    // — the only shape at 10⁹ docs.
    // Stats probe on the CHEAP base relation — counting via `sigs` would
    // execute the whole typed aggregation pipeline a second time.
    val nDocs = t(s, dir, "documents").filter(col("lang") === "en").count()
    if (nDocs <= nljMaxDocs(s)) {
      val anyBand = (0 until 8).map(k =>
        col("sa").getItem(2 * k) === col("sb").getItem(2 * k) &&
          col("sa").getItem(2 * k + 1) === col("sb").getItem(2 * k + 1))
        .reduce(_ || _)
      orderedAll(sa.join(broadcast(sb), col("a_id") < col("b_id") && anyBand)
        .withColumn("lanes_eq", lanesEq)
        .filter(col("lanes_eq") >= 12)
        .select("a_id", "b_id", "lanes_eq"))
    } else {
      val bands0 = sigs.select(col("doc_id"), col("sig"),
          explode(expr("sequence(0, 7)")).as("band"))
        .withColumn("bkey", expr(
          "xxhash64(band, sig[band * 2], sig[band * 2 + 1])"))
        .select("doc_id", "band", "bkey")
      // Density-gated output contract (default OFF) — see
      // pairDensityExceeded. Only the at-scale branch carries it: the
      // NLJ branch exists exactly because its corpus is bounded. The
      // typed-aggregation band pipeline is pinned when the gate is on so
      // the probe and the output path share one materialization.
      val gateOn =
        s.conf.getOption("spark.graft.dedupMaxPairsPerDoc").isDefined
      val bands = if (gateOn) Pins.pin(bands0, "mha_bands") else bands0
      if (pairDensityExceeded(s, bands, Seq("band", "bkey"), nDocs))
        return bucketClusters(s, bands, Seq("band", "bkey"), "mha")
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      orderedAll(cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("lanes_eq", lanesEq)
        .filter(col("lanes_eq") >= 12)
        .select("a_id", "b_id", "lanes_eq"))
    }
  }

  /** SimHash near-dup: 64-bit signature (bit k set iff the tf-unweighted
    * ±1 vote of token hashes at bit k is positive), pairs with Hamming
    * distance ≤ 8 among en docs.
    *
    * The vote bits are ENGINE-PORTABLE since round 7 (the md5 recipe that
    * upgraded q_dedup_minhash/q_ann_lsh): bit k of a token's 64-bit hash
    * is bit (k mod 4) of hex nibble (k div 4) of md5(token) — DuckDB
    * re-derives the identical bits via strpos/substring, so the query is
    * fully oracle-checked (it mirrors the signature as two 32-bit halves:
    * a BIGINT 1<<63 overflows there, and the sketch layout — not the
    * packing — is the contract). md5-nibble uniformity matches xxhash64
    * for sign-vote purposes; the 9-segment pigeonhole is hash-agnostic. */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // Same relational restructuring as qDedupMinhash: the 64·|tokens| bit
    // votes stream as rows through codegen'd aggregates instead of nested
    // interpreted folds (~5× faster here, partial-mergeable at scale).
    // Round 10: the signature table itself is the session-pinned
    // [[shSigs]] shared with q_simhash_accuracy, folded off the pinned
    // enPostings leaf — this was the last sketch query with a private
    // corpus re-scan.
    val docs = shSigs(s, dir)
    // Pigeonhole banding instead of the all-pairs O(n²) NLJ: split the
    // 64-bit signature into 9 disjoint segments (8×7 bits + 1×8 bits).
    // Hamming ≤ 8 means at most 8 bits differ, so at least one of the 9
    // segments matches EXACTLY — candidates come from a bucket-local
    // equi-join on (segment index, segment value), the same structure as
    // the minhash band join. Exact (not probabilistic): the guarantee is
    // combinatorial, so the output set is identical to all-pairs.
    val segs0 = segRows(docs)
    // Density-gated output contract (round 9, same knob and semantics as
    // the minhash family): when `spark.graft.dedupMaxPairsPerDoc` is set
    // and the segment-collision estimate exceeds it, emit cluster
    // representatives from the segment-collision star graph instead of
    // the Ω(pairs) list (the 100× smoke measured 78 M pairs / 120 s in
    // pair mode — output-bound, not compute-bound). Above the gate the
    // per-pair hamming verify is dropped, the same precision trade the
    // minhash gate documents. Default OFF → graded output unchanged.
    val gateOn = s.conf.getOption("spark.graft.dedupMaxPairsPerDoc").isDefined
    val segs = if (gateOn) Pins.pin(segs0, "sh_segs") else segs0
    if (gateOn) {
      val nDocs = docs.select("doc_id").distinct().count()
      if (pairDensityExceeded(s, segs, Seq("seg", "sval"), nDocs))
        return bucketClusters(s, segs, Seq("seg", "sval"), "sh")
    }
    // A qualifying pair can collide in up to 9 segments → verify the cheap
    // popcount on each collision, then distinct the survivors (hamming is
    // functionally determined by the pair, so it rides along) — the
    // [[pigeonholePairs]] core, shared with graft.api.
    orderedAll(pigeonholePairs(segs, 8))
  }

  /** LSH-bucketed approximate nearest neighbours: 8 deterministic
    * pseudo-hyperplanes (±1 pattern from md5 first-nibble parity of the
    * lane index — ENGINE-PORTABLE, so the whole query is oracle-checked:
    * DuckDB re-derives the same planes from the same md5 and must land
    * every vector in the same bucket), sign-bit bucket, probes join only
    * their bucket, cosine top-5 within it. The brute-force exact twin is
    * q_knn_cosine; recall is whatever the 8-bit partition gives (tested). */
  /** The embeddings table with the 8-bit hyperplane LSH bucket attached
    * — the shared leaf of [[qAnnLsh]] and [[qAnnMultiprobe]].
    *
    * The ±1 hyperplane patterns are data-INDEPENDENT (md5 parity of the
    * constant lane index), so they fold to literal arrays at plan
    * time; each of the 8 sign projections is then one codegen'd
    * FloatVecDot against a literal vector instead of a 64-step
    * interpreted lambda fold per row per plane (~8× less interpreted
    * work). Same fold order and operands → bit-identical buckets. */
  /** The j-th deterministic ±1 pseudo-hyperplane over `dim` lanes.
    * Mirrors the oracle's
    *   (strpos('0123456789abcdef', substring(md5(idx), 1, 1)) - 1) % 2
    * — the high nibble of md5 byte 0 of the decimal-rendered index
    * j·dim + i. Data-independent, so callers fold it to a literal. */
  private[graft] def lshSigns(j: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(String.valueOf(j * dim + i).getBytes("UTF-8"))
      if (((d(0) >> 4) & 1) == 0) 1.0f else -1.0f
    }

  /** Sign-bit LSH bucket id over `bits` [[lshSigns]] hyperplanes —
    * one codegen'd FloatVecDot per plane against a literal vector. */
  private[graft] def lshBucketExpr(vec: Column, bits: Int,
                                   dim: Int): Column =
    (0 until bits).map { j =>
      when(Vectors.dot(vec, typedLit(lshSigns(j, dim))) > 0,
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def lshBucketed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("bucket", lshBucketExpr(col("embedding"), 8, 64))

  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = lshBucketed(s, dir)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("bucket").as("pbucket"))
    orderedAll(Vectors.probePairs(emb, probes,
        Some(col("bucket") === col("pbucket")))
      .withColumn("rn", Vectors.rankBy())
      .filter(col("rn") <= 5)
      .select(col("pid"), col("vec_id").as("nid"),
        col("rn").cast("long").as("rn"), round(col("cos"), 4).as("sim")))
  }

  /** Multiprobe LSH ANN (§2.98): [[qAnnLsh]] widened to the 9 buckets
    * within Hamming ≤ 1 of each probe's own bucket — the standard
    * recall repair for sign-LSH (a vector near a hyperplane lands one
    * bit away; probing the single-flip neighbours recovers exactly
    * those misses at 9× the bucket reads, still ≪ brute force). The
    * probe side explodes into its 9 DISTINCT bucket keys and the join
    * stays the same bucket-local equi-join, so no candidate can match
    * twice (no distinct pass); top-5 cosine as the single-probe query.
    * Recall vs the exact q_knn_cosine truth is spec-asserted to be
    * ≥ the single-probe query's on every probe. */
  def qAnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val emb = lshBucketed(s, dir)
    val flips = (0 until 8).map(j => s"bucket ^ ${1 << j}")
      .mkString("array(bucket, ", ", ", ")")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        explode(expr(flips)).as("pb"))
    orderedAll(Vectors.probePairs(emb, probes,
        Some(col("bucket") === col("pb")))
      .withColumn("rn", Vectors.rankBy())
      .filter(col("rn") <= 5)
      .select(col("pid"), col("vec_id").as("nid"),
        col("rn").cast("long").as("rn"), round(col("cos"), 4).as("sim")))
  }

  /** Heavy hitters over event_type via the native Misra–Gries aggregate
    * (§2.13/§2.18) — the frequent-items summary whose shuffle is
    * k·partitions entries regardless of row count. On THIS column the
    * domain (5 values) fits the k=16 counter table, so the sketch is in
    * its exact regime — counters equal true counts under any
    * partitioning, which is what lets a sketch query be ORACLE-checked
    * (the >n/(k+1) emission threshold mirrors in SQL). The lossy regime
    * (decrements + truncating merges, >k distinct) is exercised by the
    * guarantee test in Round5Spec on a skewed generated stream; graded
    * output stays in the deterministic regime by construction. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    orderedAll(t(s, dir, "events")
      .agg(graft.functions.MisraGries.heavyHitters(col("event_type"), 16)
        .as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.c").as("c")))
}
