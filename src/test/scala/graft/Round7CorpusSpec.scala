package graft

import org.apache.spark.sql.functions._

/** Round-7 §2.22 operator checks: in-JVM brute-force recomputation of the
  * corpus-construction batch (line dedup, BPE pair counts, inverted
  * index, token budgets) and the operational-analytics batch (compaction
  * planning, inter-arrival percentiles, 2-d histogram, Welch A/B) —
  * complementing the driver's DuckDB oracle with ground truth derived
  * from first principles on collected fixture rows. */
class Round7CorpusSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def round(v: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue

  private lazy val docs: Array[(Long, String, String)] =
    ops.t(spark, sf, "documents").select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  // --- q_line_dedup ----------------------------------------------------

  test("q_line_dedup matches first-occurrence line accounting") {
    val lines = docs.flatMap { case (id, src, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      (0 to (toks.length - 1) / 5).map { i =>
        (src, toks.slice(i * 5, math.min(i * 5 + 5, toks.length))
          .mkString(" "), id * 100000L + i)
      }
    }
    val first = lines.groupBy(_._2).map { case (l, rs) =>
      l -> rs.map(_._3).min }
    val expected = lines.groupBy(_._1).map { case (src, rs) =>
      src -> (rs.length.toLong,
        rs.count(r => r._3 == first(r._2)).toLong,
        rs.count(r => r._3 != first(r._2)).toLong,
        rs.map(_._2).distinct.length.toLong)
    }
    assert(expected.values.exists(_._3 > 0), "no removed lines — vacuous")
    val got = run("q_line_dedup").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
  }

  // --- q_bpe_pairs -----------------------------------------------------

  test("q_bpe_pairs matches adjacent-pair top-50") {
    val counts = docs.toSeq.flatMap { case (_, _, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      if (toks.length < 2) Seq.empty
      else (0 until toks.length - 1).map(i => toks(i) + " " + toks(i + 1))
    }.groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(50)
    val got = run("q_bpe_pairs").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSet == expected.toSet)
  }

  // --- q_inverted_index ------------------------------------------------

  test("q_inverted_index matches df/first/last/capped-postings") {
    val postings = docs.toSeq
      .flatMap { case (id, _, text) =>
        text.toLowerCase.split(" ", -1).distinct.filter(_.nonEmpty)
          .map(t => (t, id))
      }.groupBy(_._1).map { case (t, xs) =>
        t -> xs.map(_._2).distinct.sorted }
    val expected = postings.map { case (t, ids) =>
      t -> (ids.length.toLong, ids.head, ids.last,
        ids.take(10).mkString(","))
    }
    assert(expected.exists(_._2._1 > 10), "no capped posting — vacuous")
    val got = run("q_inverted_index").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got == expected)
  }

  // --- BoundedMinK (the aggregate under the posting cap) ---------------

  test("BoundedMinK equals sorted-take-k under any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 5000).map { i =>
      (s"g${i % 7}", rnd.nextLong() % 1000) // duplicates guaranteed
    } ++ Seq(("tiny", 3L), ("tiny", 1L)) // under-full group (size < k)
    val expected = rows.groupBy(_._1).map { case (g, xs) =>
      g -> xs.map(_._2).sorted.take(10) }
    for (parts <- Seq(1, 7, 32)) {
      val got = rows.toDF("g", "v").repartition(parts)
        .groupBy("g")
        .agg(graft.functions.BoundedMinK.minK(col("v"), 10).as("mk"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq)
        .toMap
      assert(got == expected, s"diverged at $parts partitions")
    }
  }

  // --- q_token_budget --------------------------------------------------

  test("q_token_budget matches exact basis-point mix math") {
    val per = docs.groupBy(_._2).map { case (src, rs) =>
      src -> (rs.length.toLong,
        rs.map(_._3.split(" ", -1).length.toLong).sum)
    }
    val total = per.values.map(_._2).sum
    val nSources = per.size.toLong
    val expected = per.map { case (src, (nd, toks)) =>
      src -> (nd, toks, toks * 10000L / total,
        (total / nSources) * 10000L / toks)
    }
    val got = run("q_token_budget").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
  }

  // --- q_compaction_plan -----------------------------------------------

  test("q_compaction_plan matches streaming bin-packing") {
    val files = ops.t(spark, sf, "orders")
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getString(0), r.getLong(1),
        java.math.BigDecimal.valueOf(r.getDouble(2) * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue))
    val expected = files.groupBy(_._1).flatMap { case (pri, fs) =>
      var cum = 0L
      fs.sortBy(_._2).map { case (_, fid, bytes) =>
        val bucket = cum / 1000000000L
        cum += bytes
        (pri, bucket, fid, bytes)
      }.groupBy(r => (r._1, r._2)).map { case ((p, b), rs) =>
        (p, b) -> (rs.length.toLong, rs.map(_._4).sum,
          rs.map(_._3).min, rs.map(_._3).max)
      }
    }
    assert(expected.keys.map(_._2).exists(_ > 0), "single bucket — vacuous")
    val got = run("q_compaction_plan").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expected)
  }

  // --- q_interarrival --------------------------------------------------

  test("q_interarrival matches exact scaled-integer percentiles") {
    val evs = ops.t(spark, sf, "events")
      .select("event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toInstant.toEpochMilli * 1000L +
          (r.getTimestamp(1).getNanos / 1000) % 1000, r.getLong(2)))
    def pX100(sorted: Array[Long], qNum: Long): Long = {
      val pos = qNum * (sorted.length - 1)
      val lo = (pos / 100).toInt
      val rem = pos % 100
      sorted(lo) * (100 - rem) +
        (if (rem == 0) 0L else sorted(lo + 1) * rem)
    }
    val expected = evs.groupBy(_._1).map { case (ty, rs) =>
      val us = rs.sortBy(r => (r._2, r._3)).map(_._2)
      val gaps = us.zip(us.tail).map { case (a, b) => b - a }.sorted
      ty -> (gaps.length.toLong, pX100(gaps, 50), pX100(gaps, 95),
        pX100(gaps, 99), gaps.max)
    }
    val got = run("q_interarrival").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(got == expected)
  }

  test("q_interarrival bucketed parallel path is bit-equal to serial") {
    val serial = run("q_interarrival").collect().map(_.toSeq).toSeq
    // Both an even and a deliberately awkward bucket count: seams and
    // rank-bucket boundaries land differently, the result must not.
    for (b <- Seq(7, 64)) {
      spark.conf.set("spark.graft.rankBuckets", b.toString)
      try {
        val par = run("q_interarrival").collect().map(_.toSeq).toSeq
        assert(par == serial, s"buckets=$b diverged")
      } finally spark.conf.unset("spark.graft.rankBuckets")
    }
  }

  // --- q_hist2d --------------------------------------------------------

  test("q_hist2d matches exact decimal grid") {
    val li = ops.t(spark, sf, "lineitem")
      .select("l_quantity", "l_discount", "l_extendedprice")
      .collect().map(r => (r.getDouble(0).toLong, r.getDouble(1),
        r.getDouble(2)))
    val expected = li.groupBy { case (q, d, _) =>
      ((q - 1) / 5, math.round(d * 100)) }.map { case (k, rs) =>
      k -> (rs.length.toLong,
        round(rs.map(r => java.math.BigDecimal.valueOf(r._3)
          .setScale(2, java.math.RoundingMode.HALF_UP))
          .reduce(_.add(_)).doubleValue, 2))
    }
    val got = run("q_hist2d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == expected)
  }

  // --- q_dq_audit ------------------------------------------------------

  test("q_dq_audit matches recomputed violation counts") {
    val orders = ops.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val custRows = ops.t(spark, sf, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getString(2)))
    val custKeys = custRows.map(_._1).toSet
    val segs = Set("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val no = orders.length.toLong
    val nc = custRows.length.toLong
    val expected = Map(
      "orders.o_custkey.ref_integrity" ->
        (no, orders.count(o => !custKeys(o._2)).toLong),
      "orders.o_totalprice.positive" ->
        (no, orders.count(_._3 <= 0).toLong),
      "orders.o_orderkey.unique" ->
        (no, no - orders.map(_._1).distinct.length),
      "customer.c_acctbal.non_null" ->
        (nc, custRows.count(_._2.isEmpty).toLong),
      "customer.c_mktsegment.domain" ->
        (nc, custRows.count(c => !segs(c._3)).toLong))
    val got = run("q_dq_audit").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  // --- q_trend_slope ---------------------------------------------------

  test("q_trend_slope matches exact integer OLS") {
    val evs = ops.t(spark, sf, "events").select("event_type", "ts", "value")
      .collect().map(r => (r.getString(0),
        (r.getTimestamp(1).toInstant.toEpochMilli * 1000L +
          (r.getTimestamp(1).getNanos / 1000) % 1000) / 86400000000L,
        java.math.BigDecimal.valueOf(r.getDouble(2) * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue))
    val expected = evs.groupBy(_._1).map { case (ty, rs) =>
      val daily = rs.groupBy(_._2).map { case (d, xs) =>
        (d, xs.map(_._3).sum) }.toSeq
      val dmin = daily.map(_._1).min
      val pts = daily.map { case (d, y) => (d - dmin, y) }
      val n = pts.length.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      val slope = if (num >= 0) num * 10000 / den
        else -((-num) * 10000 / den)
      ty -> (n, num, den, slope)
    }
    assert(expected.values.exists(_._2 != 0), "all-flat trend — vacuous")
    val got = run("q_trend_slope").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
  }

  // --- q_cohort --------------------------------------------------------

  test("q_cohort matches recomputed retention matrix") {
    val evs = ops.t(spark, sf, "events").select("user_id", "ts")
      .collect().map(r => (r.getLong(0),
        (r.getTimestamp(1).toInstant.toEpochMilli * 1000L +
          (r.getTimestamp(1).getNanos / 1000) % 1000) / 604800000000L))
    val firsts = evs.groupBy(_._1).map { case (u, xs) =>
      u -> xs.map(_._2).min }
    val expected = evs.map { case (u, w) =>
      (firsts(u), w - firsts(u), u)
    }.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
      k -> xs.map(_._3).distinct.length.toLong }
    val got = run("q_cohort").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  // --- q_skew_audit ----------------------------------------------------

  test("q_skew_audit matches recomputed key distributions") {
    def stats(table: String, key: String): (String, (Long, Long, Long,
        Long, Long)) = {
      val ks = ops.t(spark, sf, table).select(key)
        .collect().map(_.getLong(0))
      val per = ks.groupBy(identity).map(_._2.length.toLong)
      val (n, nk, mx) = (ks.length.toLong, per.size.toLong, per.max)
      s"$table.$key" -> (n, nk, mx, mx * 10000 / n, n / nk)
    }
    val expected = Map(stats("orders", "o_custkey"),
      stats("lineitem", "l_partkey"), stats("events", "user_id"))
    val got = run("q_skew_audit").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(got == expected)
  }

  // --- q_kanon ---------------------------------------------------------

  test("q_kanon matches recomputed k-band histogram") {
    val qi = ops.t(spark, sf, "customer")
      .select("c_nationkey", "c_mktsegment")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val ks = qi.groupBy(identity).map(_._2.length.toLong).toSeq
    val total = ks.sum
    def band(k: Long) = if (k == 1) "1_unique" else if (k <= 4) "2_small"
      else if (k <= 9) "3_medium" else "4_large"
    val expected = ks.groupBy(band).map { case (b, xs) =>
      b -> (xs.size.toLong, xs.sum, xs.min, xs.max,
        xs.sum * 10000 / total)
    }
    assert(expected.size >= 2, "single k-band — vacuous")
    val got = run("q_kanon").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(got == expected)
  }

  // --- q_drift ---------------------------------------------------------

  test("q_drift matches recomputed fixed-bin share deltas") {
    val cutoff = java.time.Instant.parse("2024-01-16T00:00:00Z")
    val evs = ops.t(spark, sf, "events").select("event_type", "ts", "value")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toInstant.isBefore(cutoff),
        java.math.BigDecimal.valueOf(r.getDouble(2) * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue / 1000))
    val byBin = evs.groupBy(e => (e._1, e._3)).map { case (k, xs) =>
      k -> (xs.count(_._2).toLong, xs.count(!_._2).toLong) }
    val tots = evs.groupBy(_._1).map { case (ty, xs) =>
      ty -> (xs.count(_._2).toLong, xs.count(!_._2).toLong) }
    val expected = byBin.map { case ((ty, bin), (np, nq)) =>
      val (tp, tq) = tots(ty)
      val (sp, sq) = (np * 10000 / tp, nq * 10000 / tq)
      (ty, bin) -> (np, nq, sp, sq, sq - sp)
    }
    assert(expected.values.exists(_._5 != 0), "no drift anywhere — vacuous")
    val got = run("q_drift").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(got == expected)
  }

  // --- q_abtest --------------------------------------------------------

  test("q_abtest matches exact-moment Welch recomputation") {
    val cutoff = java.time.Instant.parse("2024-01-16T00:00:00Z")
    val evs = ops.t(spark, sf, "events").select("event_type", "ts", "value")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toInstant.isBefore(cutoff),
        java.math.BigDecimal.valueOf(r.getDouble(2) * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue))
    val expected = evs.groupBy(_._1).map { case (ty, rs) =>
      val (pre, post) = rs.partition(_._2)
      val (nPre, nPost) = (pre.length.toLong, post.length.toLong)
      val (sxPre, sxPost) = (pre.map(_._3).sum, post.map(_._3).sum)
      val sxxPre = pre.map(r => r._3 * r._3).sum
      val sxxPost = post.map(r => r._3 * r._3).sum
      val meanPre = round(sxPre.toDouble / nPre / 100.0, 4)
      val meanPost = round(sxPost.toDouble / nPost / 100.0, 4)
      val vPre = (nPre.toDouble * sxxPre.toDouble -
        sxPre.toDouble * sxPre.toDouble) /
        (nPre.toDouble * (nPre - 1)) / 10000.0
      val vPost = (nPost.toDouble * sxxPost.toDouble -
        sxPost.toDouble * sxPost.toDouble) /
        (nPost.toDouble * (nPost - 1)) / 10000.0
      val t = round((sxPre.toDouble / nPre / 100.0 -
        sxPost.toDouble / nPost / 100.0) /
        math.sqrt(vPre / nPre + vPost / nPost), 3)
      ty -> (nPre, nPost, meanPre, meanPost, t)
    }
    assert(expected.forall { case (_, (a, b, _, _, _)) => a > 1 && b > 1 })
    val got = run("q_abtest").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5))).toMap
    assert(got == expected)
  }
}
