package graft

/** Round-8 §2.33 operator checks: in-JVM brute-force recomputation of
  * the retrieval / model-eval metric batch (ANN recall audit, nDCG@10,
  * exact AUC, nearest-centroid confusion, calibration, MRR) from first
  * principles over collected fixture embeddings — complementing the
  * driver's DuckDB oracle. All folds replicate the §2.12 sequential
  * left-to-right double fold so cosines are bit-identical. */
class Round8EvalSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // --- shared ground-truth machinery ----------------------------------

  private lazy val vecs: Array[(Long, Array[Float], Int)] =
    ops.t(spark, sf, "embeddings").select("vec_id", "embedding", "label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)

  private def mdSign(idx: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(String.valueOf(idx).getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0
  }
  private def signs(j: Int): Array[Double] =
    Array.tabulate(64)(i => mdSign(j * 64 + i))

  /** Sequential left fold Σ aᵢ·bᵢ in double (twin of FloatVecDot). */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < 64) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
  }
  private def dotD(a: Array[Float], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 64) { s += a(i).toDouble * b(i); i += 1 }; s
  }
  private def cos(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))

  /** Spark round(x) twin: HALF_UP over the shortest decimal repr. */
  private def rnd(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  private def bucket(e: Array[Float]): Int =
    (0 until 8).map { j =>
      var s = 0.0; var i = 0
      while (i < 64) { s += e(i).toDouble * mdSign(j * 64 + i); i += 1 }
      if (s > 0) 1 << j else 0
    }.sum

  /** Exact ranking of all non-self vectors for a probe: (nid, cos) by
    * (cos desc, nid asc). */
  private def ranking(pid: Long): IndexedSeq[(Long, Int, Double)] = {
    val pe = vecs.find(_._1 == pid).get._2
    vecs.filter(_._1 != pid)
      .map { case (nid, e, lb) => (nid, lb, cos(pe, e)) }
      .sortBy { case (nid, _, c) => (-c, nid) }.toIndexedSeq
  }

  test("q_ann_recall matches brute-force bucket recall") {
    val buckets = vecs.map { case (id, e, _) => id -> bucket(e) }.toMap
    val expected = vecs.filter(_._1 < 50).map { case (pid, _, _) =>
      val top10 = ranking(pid).take(10).map(_._1).toSet
      val cand = vecs.filter(v => v._1 != pid &&
        buckets(v._1) == buckets(pid)).map(_._1).toSet
      val hits = (top10 intersect cand).size.toLong
      (pid, cand.size.toLong, hits, hits * 10000 / 10)
    }.toSet
    assert(expected.exists(_._3 > 0))
    val got = run("q_ann_recall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("q_ndcg matches brute-force DCG over the shared weight table") {
    val w = ops.Evaluation.ndcgWeights
    val expected = vecs.filter(_._1 < 20).map { case (pid, _, plb) =>
      val top = ranking(pid).take(10).zipWithIndex
        .map { case ((nid, lb, c), i) =>
          (nid, c, if (lb == plb) 1L else 0L, i + 1) }
      val ideal = top.sortBy { case (nid, c, rel, _) => (-rel, -c, nid) }
        .zipWithIndex.map { case ((nid, _, rel, _), i) =>
          nid -> (i + 1) }.toMap
      val nRel = top.map(_._3).sum
      val dcg = top.map { case (_, _, rel, r) => rel * w(r - 1) }.sum
      val idcg = top.map { case (nid, _, rel, _) =>
        rel * w(ideal(nid) - 1) }.sum
      (pid, nRel, dcg, idcg, if (idcg > 0) dcg * 10000 / idcg else 0L)
    }.toSet
    assert(expected.exists(_._2 > 0))
    val got = run("q_ndcg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
  }

  test("q_auc matches the exact Mann-Whitney rank statistic") {
    val expected = Seq(100, 101, 102).map { j =>
      val sv = signs(j)
      val scored = vecs.map { case (_, e, lb) =>
        (rnd(dotD(e, sv) * 10000), lb >= 5) }
      val sorted = scored.map(_._1).sorted
      def minRank(s: Long) = sorted.indexWhere(_ == s) + 1L
      def nTies(s: Long) = sorted.count(_ == s).toLong
      val nPos = scored.count(_._2).toLong
      val nNeg = scored.length - nPos
      val possum2 = scored.filter(_._2)
        .map { case (s, _) => 2 * minRank(s) + nTies(s) - 1 }.sum
      val auc = (possum2 - nPos * (nPos + 1)) * 10000 /
        (2 * nPos * nNeg)
      ((j - 100).toLong, nPos, nNeg, auc)
    }.toSet
    // sanity: a random hyperplane should not be a perfect classifier
    assert(expected.forall(r => r._4 > 2000 && r._4 < 8000))
    val got = run("q_auc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  /** The nearest-centroid confusion matrix of `corpus`, brute force. A
    * zero-norm vector's cosines are NaN here (null in the query): either
    * way every centroid ties and the smallest label wins. */
  private def confusion(corpus: Array[(Long, Array[Float], Int)])
  : Set[(Long, Long, Long, Long, Long, Long, Long)] = {
    val byLabel = corpus.groupBy(_._3)
    val cents = byLabel.map { case (lb, vs) =>
      val n = vs.length.toLong
      lb -> Array.tabulate(64) { i =>
        vs.map(v => rnd(v._2(i).toDouble * 10000)).sum.toDouble / n
      }
    }
    def cosC(e: Array[Float], c: Array[Double]): Double = {
      var dn = 0.0; var nc = 0.0; var i = 0
      while (i < 64) { dn += e(i).toDouble * c(i); nc += c(i) * c(i); i += 1 }
      dn / math.sqrt(dot(e, e) * nc)
    }
    val preds = corpus.map { case (_, e, lb) =>
      val pred = cents.toSeq
        .map { case (cl, cv) => (cl, cosC(e, cv)) }
        .sortBy { case (cl, c) => (-c, cl) }.head._1
      (lb.toLong, pred.toLong)
    }
    val cells = preds.groupBy(identity).map { case (k, vs) =>
      k -> vs.length.toLong }
    val rowTot = cells.groupBy(_._1._1)
      .map { case (t, cs) => t -> cs.values.sum }
    val colTot = cells.groupBy(_._1._2)
      .map { case (p, cs) => p -> cs.values.sum }
    cells.map { case ((t, p), n) =>
      (t, p, n, rowTot(t), colTot(p),
        n * 10000 / rowTot(t), n * 10000 / colTot(p)) }.toSet
  }

  private def confusionRows(dir: String) =
    SparkEntry.queries("q_confusion")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet

  test("q_confusion matches the brute-force nearest-centroid matrix") {
    val expected = confusion(vecs)
    // the classifier must be meaningfully better than uniform-random
    val diag = expected.iterator
      .collect { case (t, p, n, _, _, _, _) if t == p => n }.sum
    assert(diag * 10 > vecs.length * 3)
    assert(confusionRows(sf) == expected)
  }

  test("q_confusion ranks a zero-norm vector's null cosines last under ANSI") {
    // one all-zero embedding: a bare cosine quotient divides by zero,
    // which fails the query under ANSI mode (Spark's default)
    import spark.implicits._
    val zeroed = vecs.map { case (id, e, lb) =>
      (id, if (id == vecs(3)._1) Array.fill(64)(0.0f) else e, lb) }
    val dir = java.nio.file.Files.createTempDirectory("confusion_zero")
    try {
      zeroed.toSeq.toDF("vec_id", "embedding", "label").coalesce(1)
        .write.parquet(s"$dir/embeddings.parquet")
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
      val zeroPred = zeroed.map(_._3).min.toLong
      val expected = confusion(zeroed)
      assert(expected.exists(c => c._1 == vecs(3)._3 && c._2 == zeroPred))
      assert(confusionRows(dir.toString) == expected)
    } finally deleteTree(dir.toFile)
  }

  test("q_calibration matches brute-force floor-binned rates") {
    val sv = signs(103)
    val scored = vecs.map { case (_, e, lb) =>
      (rnd(dotD(e, sv) * 10000), lb >= 5) }
    val expected = scored.groupBy { case (s, _) =>
      Math.floorDiv(s, 2000L) }.map { case (bin, vs) =>
      val n = vs.length.toLong
      val nPos = vs.count(_._2).toLong
      (bin, n, nPos, vs.map(_._1).min, vs.map(_._1).max,
        nPos * 10000 / n)
    }.toSet
    assert(expected.size > 5)
    val got = run("q_calibration").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
  }

  test("q_mrr matches brute-force first-relevant ranks") {
    val expected = vecs.filter(_._1 < 50).map { case (pid, _, plb) =>
      val first = ranking(pid).take(20).zipWithIndex
        .collectFirst { case ((_, lb, _), i) if lb == plb => i + 1L }
      (pid, first, first.map(1000000L / _).getOrElse(0L))
    }.toSet
    assert(expected.exists(_._2.isDefined))
    val got = run("q_mrr").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2))).toSet
    assert(got == expected)
  }
}
