package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Round-6 checks: the corpus-size strategy switches added to the exact
  * dedup family (VERDICT r5 findings 1/2/4), the shuffle-partitioned
  * PageRank (finding 3), and the conf-gated skew guards (finding "what's
  * missing" #3). Each switch is driven on the fixture by forcing the
  * at-scale branch via conf and asserting result-set equality with the
  * default branch — the same contract the driver's oracle pins. */
class Round6Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    try { kv.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("q_dedup_ngram: inverted-index branch ≡ bitmap-NLJ branch") {
    val small = rowSet(run("q_dedup_ngram"))
    val large = withConf("spark.graft.pairNljMaxDocs" -> "1") {
      rowSet(run("q_dedup_ngram"))
    }
    assert(small.nonEmpty, "no ngram near-dup pairs at test SF — vacuous")
    assert(large == small,
      s"branch mismatch: only-small=${(small -- large).take(3)} " +
        s"only-large=${(large -- small).take(3)}")
  }

  test("q_dedup_near: both at-scale branches ≡ 64-bit-mask branch") {
    val small = rowSet(run("q_dedup_near"))
    // tiny vocab + forced-large corpus → distinct-mask grouping
    val grouped = withConf("spark.graft.pairNljMaxDocs" -> "1") {
      rowSet(run("q_dedup_near"))
    }
    // mask grouping disabled → inverted-index posting join
    val inverted = withConf("spark.graft.pairNljMaxDocs" -> "1",
      "spark.graft.maskGroupMaxDict" -> "0") {
      rowSet(run("q_dedup_near"))
    }
    // adversarial-density guard: too many DISTINCT masks → same fallback
    val guarded = withConf("spark.graft.pairNljMaxDocs" -> "1",
      "spark.graft.maskGroupMaxMasks" -> "1") {
      rowSet(run("q_dedup_near"))
    }
    assert(small.nonEmpty)
    assert(grouped == small, "mask-group branch diverged")
    assert(inverted == small, "inverted-index branch diverged")
    assert(guarded == small, "mask-count guard fallback diverged")
  }

  test("exactPairs ≡ brute force on every tier, threshold and vocabulary") {
    // Two corpora: 240 docs over an 8-token vocabulary but only 97
    // distinct token sets (the regime mask grouping exists for), and
    // 300 docs over 97 tokens (past the 64-bit mask, where a mask would
    // alias token t + 64 onto t). Every threshold in use, every tier the
    // knobs force, each against the brute-force pair rows.
    val tiny = Array("ta", "tb", "tc", "td", "te", "tf", "tg", "th")
    val dense = (0L until 240L).map { d =>
      val m = 1 + (d % 97)
      d -> tiny.indices.filter(i => ((m >> i) & 1) == 1).map(tiny).toSet
    }
    val thresholds = Seq((9, 4), (19, 9), (3, 1), (100, 49), (18000, 8000))
    val tiers = Seq(
      Seq.empty[(String, String)] -> "masknlj",
      Seq("spark.graft.pairNljMaxDocs" -> "1") -> "maskgroup",
      Seq("spark.graft.pairNljMaxDocs" -> "1",
        "spark.graft.maskGroupMaxDict" -> "0") -> "atscale",
      // the adversarial-density guard: too many distinct masks
      Seq("spark.graft.pairNljMaxDocs" -> "1",
        "spark.graft.maskGroupMaxMasks" -> "1") -> "maskgroup")
    for ((name, corpus) <- Seq("8-token" -> dense, "97-token" -> wide97);
         (c, s) <- thresholds; (conf, tier) <- tiers) {
      val sets = corpus.toMap
      val ids = sets.keys.toSeq.sorted
      val expected = (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        a = ids(i); b = ids(j)
        n = (sets(a) & sets(b)).size.toLong
        (na, nb) = (sets(a).size.toLong, sets(b).size.toLong)
        if n * c >= (na + nb) * s
      } yield (a, b, n, na, nb)).toSet
      val dt = spark.createDataFrame(corpus.flatMap { case (d, ts) =>
        ts.map(d -> _) }).toDF("doc_id", "token")
      val wanted = if (name == "97-token") "atscale" else tier
      val got = withConf(conf: _*) {
        assert(ops.Text.pairTier(spark, sets.values.flatten.toSet.size,
          ids.size) == wanted, s"$name $conf")
        ops.Text.exactPairsOn(dt, c, s).collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      }
      assert(got == expected, s"$name ($c,$s) $conf: " +
        s"missed=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
      if ((c, s) == (9, 4)) {
        assert(expected.exists { case (a, b, _, _, _) => sets(a) == sets(b) },
          s"$name: no identical-set pairs — within-group path untested")
        assert(expected.exists { case (a, b, _, _, _) => sets(a) != sets(b) },
          s"$name: no cross-set pairs — cross-group path untested")
      }
    }
  }

  test("past 64 tokens, graph edges and q_lsh_recall's sampled truth " +
       "≡ brute force") {
    val sets = wide97.toMap
    val dir = writeDocs(wide97.map { case (d, ts) => d -> ts.mkString(" ") })
    def pairs(ids: Seq[Long], c: Int, s: Int) = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if (sets(a) & sets(b)).size * c >= (sets(a).size + sets(b).size) * s
    } yield (a, b)).toSet
    // q_clustering_coeff over the strict (100, 49) edges
    val edges = pairs(sets.keys.toSeq.sorted, 100, 49)
    val nbrs = (edges.toSeq ++ edges.toSeq.map(_.swap)).groupBy(_._1)
      .map { case (u, vs) => u -> vs.map(_._2).toSet }
    val coeff = nbrs.collect { case (u, vs) if vs.size >= 2 =>
      val closed = vs.toSeq.combinations(2)
        .count { case Seq(v, w) => edges((v min w, v max w)) }.toLong
      val deg = vs.size.toLong
      (u, deg, closed, closed * 20000 / (deg * (deg - 1)))
    }.toSet
    assert(coeff.nonEmpty)
    assert(ops.Graphs.qClusteringCoeff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet == coeff)
    // q_lsh_recall at mod 2: its truth is the (3, 1) pair set of the even
    // docs, and its row equals the whole-corpus run over those docs alone
    val truth = pairs(sets.keys.filter(_ % 2 == 0).toSeq.sorted, 3, 1)
    val sampled = withConf("spark.graft.lshRecallSampleMod" -> "2") {
      run1("q_lsh_recall", dir)
    }
    assert(sampled.getLong(0) == truth.size)
    val evens = writeDocs(wide97.collect { case (d, ts) if d % 2 == 0 =>
      d -> ts.mkString(" ") })
    assert(sampled == run1("q_lsh_recall", evens))
  }

  private def run1(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir).collect().toSeq match {
      case Seq(r) => r
    }

  test("q_dedup_clusters + q_graph_degree inherit the at-scale branch") {
    val (cl, gd) = (rowSet(run("q_dedup_clusters")), rowSet(run("q_graph_degree")))
    withConf("spark.graft.pairNljMaxDocs" -> "1") {
      assert(rowSet(run("q_dedup_clusters")) == cl)
      assert(rowSet(run("q_graph_degree")) == gd)
    }
  }

  test("q_dedup_embedding: LSH-table branch ≡ exact branch on fixture") {
    val exact = rowSet(run("q_dedup_embedding"))
    val lsh = withConf("spark.graft.embNljMaxVecs" -> "1") {
      rowSet(run("q_dedup_embedding"))
    }
    assert(exact.nonEmpty, "no embedding near-dups at test SF — vacuous")
    assert(lsh == exact,
      s"LSH branch diverged: missed=${(exact -- lsh).take(5)} " +
        s"extra=${(lsh -- exact).take(5)}")
  }

  test("q_pagerank: no-broadcast mode hash-matches, plans shuffle joins") {
    val base = run("q_pagerank").collect().map(_.toSeq).toSeq
    withConf("spark.graft.pagerankNoBroadcast" -> "true") {
      val df = run("q_pagerank")
      assert(df.collect().map(_.toSeq).toSeq == base)
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        "broadcast join on the rank path in at-scale mode")
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    }
  }

  // ---- skew guards on a generated boilerplate-heavy corpus ------------

  /** 320 docs over a 97-token vocabulary (v00 … v96), 40 groups of 8
    * ids: A = S ∪ X three times, C = A ∪ {y}, B = S ∪ (X + 64) three
    * times, D = B ∪ {y}, with S three tokens of 33–63 and X two of 0–32.
    * A 64-bit mask would alias X + 64 onto X and take B for A; the true
    * Jaccard of A and B is 3/7, of A and C 5/6. */
  private lazy val wide97: Seq[(Long, Set[String])] =
    (0 until 40).flatMap { g =>
      val sx = Seq(33 + g % 31, 33 + (g + 10) % 31, 33 + (g + 20) % 31)
      val x = Seq(g % 33, (g + 11) % 33)
      val y = 33 + (g + 5) % 31
      val a = sx ++ x
      val b = sx ++ x.map(_ + 64)
      Seq(a, a, a, a :+ y, b, b, b, b :+ y).zipWithIndex.map {
        case (toks, j) => (8L * g + j) -> toks.map(i => f"v$i%02d").toSet
      }
    }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r6").toString
    rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("contamination df-cap drops boilerplate shingles") {
    // 11 tokens/doc: 5 unique + a 6-token boilerplate tail. The only
    // CROSS-doc 5-grams are the two all-boilerplate ones (df = 40).
    val dir = writeDocs((0L until 40L).map(d =>
      d -> s"u${d}a u${d}b u${d}c u${d}d u${d}e all rights reserved click here now"))
    val uncapped = ops.Text.qContamination(spark, dir).collect()
    assert(uncapped.length == 20, "every even doc should be flagged")
    assert(uncapped.forall(r => r.getLong(1) == 2 && r.getLong(2) == 20 &&
      r.getLong(3) == 40), "boilerplate overlap shape off")
    val capped = withConf("spark.graft.contamMaxShingleDf" -> "5") {
      ops.Text.qContamination(spark, dir).collect()
    }
    // With df>5 shingles removed, no shared 5-grams remain: the hot-key
    // join input is bounded by the cap instead of corpus size.
    assert(capped.isEmpty,
      s"df-cap left ${capped.length} contaminated docs")
  }

  test("pmi df-band cap excludes ubiquitous tokens from pairing") {
    // 'hot' in all 40 docs (df 40); 'warm'/'cool' in 10 (df 10); the
    // rest unique. Support ≥5 pairs: (cool,warm) and the two hot pairs.
    val dir = writeDocs((0L until 40L).map(d =>
      d -> (s"hot ${if (d < 10) "warm cool " else ""}u${d}a u${d}b")))
    def pairs(df: Array[org.apache.spark.sql.Row]): Set[(String, String)] =
      df.map(r => (r.getString(0), r.getString(1))).toSet
    val uncapped = pairs(ops.Text.qCooccurPmi(spark, dir).collect())
    assert(uncapped == Set(("cool", "warm"), ("hot", "warm"), ("hot", "cool"))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) })
    val capped = withConf("spark.graft.pmiMaxDf" -> "15") {
      ops.Text.qCooccurPmi(spark, dir).collect()
    }
    assert(pairs(capped) == Set(("cool", "warm")),
      "df-band cap should keep only the mid-band pair")
    // df columns stay full-corpus in capped mode
    assert(capped.forall(r => r.getLong(3) == 10 && r.getLong(4) == 10))
  }
}
