package graft

/** Round-7 §2.23 operator checks: in-JVM brute-force recomputation of the
  * feature-engineering / reporting batch (vocabulary coverage, rolling
  * median, decile lift, equi-height histogram, rolling distinct actives,
  * weighted sampling, quantile normalization, TPC-H Q18) — complementing
  * the driver's DuckDB oracle with ground truth derived from first
  * principles on collected fixture rows. */
class Round7FeaturesSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** SQL ntile semantics: the first (n mod k) buckets get one extra row. */
  private def ntileOf(idx: Int, n: Int, k: Int): Long = {
    val base = n / k; val rem = n % k
    if (idx < rem * (base + 1)) (idx / (base + 1) + 1).toLong
    else (rem + (idx - rem * (base + 1)) / base + 1).toLong
  }

  private lazy val events: Array[(Long, Long, Long, String, Long)] =
    ops.t(spark, sf, "events")
      .selectExpr("event_id", "unix_micros(ts)", "user_id", "event_type",
        "CAST(round(value * 100) AS BIGINT)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))

  // --- q_vocab_coverage ------------------------------------------------

  test("q_vocab_coverage matches brute-force coverage curve") {
    val docs = ops.t(spark, sf, "documents").select("text")
      .collect().map(_.getString(0))
    val counts = docs.toSeq.flatMap(_.toLowerCase.split(" ", -1))
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val total = counts.values.sum
    val ordered = counts.toSeq.sortBy { case (t, c) => (-c, t) }
    val expected = ordered.zipWithIndex.take(20).map { case ((t, c), i) =>
      val cum = ordered.take(i + 1).map(_._2).sum
      (i + 1L, t, c, cum * 10000L / total)
    }.toSet
    val got = run("q_vocab_coverage").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  // --- q_rolling_median ------------------------------------------------

  test("q_rolling_median matches brute-force trailing-7 median") {
    val daily = events.groupBy(e => (e._4, e._2 / 86400000000L))
      .map { case ((ty, day), xs) => (ty, day, xs.map(_._5).sum) }.toSeq
    val expected = daily.groupBy(_._1).flatMap { case (ty, rows) =>
      val byDay = rows.sortBy(_._2)
      byDay.zipWithIndex.map { case ((_, day, y), i) =>
        val frame = byDay.slice(math.max(0, i - 6), i + 1).map(_._3).sorted
        val n = frame.length
        (ty, day, y, n.toLong, frame((n - 1) / 2) + frame(n / 2))
      }
    }.toSet
    val got = run("q_rolling_median").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
  }

  // --- q_decile_lift ---------------------------------------------------

  test("q_decile_lift matches brute-force gains table") {
    val spend = ops.t(spark, sf, "orders")
      .selectExpr("o_custkey", "CAST(round(o_totalprice * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).sum) }.toSeq
    val ranked = spend.sortBy { case (c, sp) => (-sp, c) }
    val n = ranked.length
    val byDecile = ranked.zipWithIndex
      .groupBy { case (_, i) => ntileOf(i, n, 10) }
    val total = spend.map(_._2).sum
    val expected = byDecile.map { case (d, xs) =>
      val cents = xs.map(_._1._2).sum
      val cum = byDecile.filter(_._1 <= d).values.flatten.map(_._1._2).sum
      (d, xs.size.toLong, cents, cents * 10000L / total,
        cum * 10000L / total)
    }.toSet
    val got = run("q_decile_lift").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
  }

  // --- q_hist_equiheight -----------------------------------------------

  test("q_hist_equiheight matches brute-force ntile(20) histogram") {
    val cents = ops.t(spark, sf, "orders")
      .selectExpr("CAST(round(o_totalprice * 100) AS BIGINT)", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity)
    val n = cents.length
    val expected = cents.zipWithIndex
      .groupBy { case (_, i) => ntileOf(i, n, 20) }
      .map { case (b, xs) =>
        (b, xs.size.toLong, xs.map(_._1._1).min, xs.map(_._1._1).max) }
      .toSet
    val got = run("q_hist_equiheight").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("q_hist_equiheight parallel k-select path is bit-equal to ntile") {
    val serial = run("q_hist_equiheight").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    spark.conf.set("spark.graft.rankBuckets", "64")
    try {
      val parallel = run("q_hist_equiheight").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(parallel == serial)
      // no corpus-wide ntile sort in the parallel plan: the only
      // unpartitioned window allowed is the cum-before prefix sum over
      // the ≤B-row histogram (its child is an aggregate, not a scan)
      import org.apache.spark.sql.execution.window.WindowExec
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      val p = SparkEntry.queries("q_hist_equiheight")(spark, sf)
        .queryExecution.sparkPlan
      assert(p.collect { case w: WindowExec
          if w.windowExpression.mkString.contains("ntile") => w }.isEmpty,
        "parallel path still plans the global ntile")
      val globalWindows = p.collect { case w: WindowExec
        if w.partitionSpec.isEmpty => w }
      assert(globalWindows.forall(_.collectFirst {
        case a: HashAggregateExec => a }.nonEmpty),
        "an unpartitioned window runs over non-aggregated input")
    } finally spark.conf.unset("spark.graft.rankBuckets")
  }

  // --- q_rolling_distinct ----------------------------------------------

  test("q_rolling_distinct matches brute-force 7-day WAU") {
    val ud = events.map(e => (e._3, e._2 / 86400000000L)).distinct
    val expected = ud.toSeq
      .flatMap { case (u, d) => (d to d + 6).map(rd => (rd, u)) }
      .groupBy(_._1)
      .map { case (rd, xs) => (rd, xs.map(_._2).distinct.size.toLong) }
      .toSet
    val got = run("q_rolling_distinct").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  // --- q_weighted_sample -----------------------------------------------

  test("q_weighted_sample matches brute-force A-Res bottom-3") {
    val docs = ops.t(spark, sf, "documents")
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val pri = docs.map { case (src, id, nc) =>
      val h24 = java.lang.Long.parseLong(md5hex(s"$id:ws").take(6), 16)
      (src, id, nc, h24 * 100000L / nc)
    }
    val expected = pri.groupBy(_._1).toSeq.flatMap { case (src, xs) =>
      xs.sortBy(x => (x._4, x._2)).take(3).zipWithIndex.map {
        case ((_, id, nc, p), i) => (src, i + 1L, id, nc, p) }
    }.toSet
    assert(expected.size == pri.map(_._1).distinct.length * 3)
    val got = run("q_weighted_sample").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
  }

  test("q_weighted_sample favors longer docs (weighting is real)") {
    val docs = ops.t(spark, sf, "documents")
      .select("n_chars").collect().map(_.getLong(0))
    val meanAll = docs.sum.toDouble / docs.length
    val sampled = run("q_weighted_sample").collect().map(_.getLong(3))
    val meanSampled = sampled.sum.toDouble / sampled.length
    assert(meanSampled > meanAll,
      s"weighted sample mean $meanSampled not above corpus mean $meanAll")
  }

  // --- q_quantile_norm -------------------------------------------------

  test("q_quantile_norm matches brute-force rank transform") {
    val expected = events.groupBy(_._4).flatMap { case (ty, xs) =>
      val ranked = xs.toSeq.sortBy(e => (e._5, e._1))
      val n = ranked.length
      ranked.zipWithIndex.map { case (e, i) =>
        (e._1, ty, e._5, i.toLong * 10000L / math.max(n - 1, 1)) }
    }.toSet
    val got = run("q_quantile_norm").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  // --- q_tpch_q18 ------------------------------------------------------

  test("q_tpch_q18 matches brute-force large-volume-customer query") {
    val qty = ops.t(spark, sf, "lineitem")
      .selectExpr("l_orderkey", "CAST(l_quantity AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
      .filter(_._2 > 200)
    val cust = ops.t(spark, sf, "customer").select("c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val orders = ops.t(spark, sf, "orders")
      .selectExpr("o_orderkey", "o_custkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = orders.filter(o => qty.contains(o._1))
      .sortBy(o => (-o._3, o._1)).take(100)
      .map(o => (o._2, cust(o._2), o._1, o._3, qty(o._1))).toSet
    val got = run("q_tpch_q18").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(4), r.getLong(5))).toSet
    assert(got == expected)
  }
}
