package graft

import org.apache.spark.sql.functions._

/** Round-13 §2.112 batch: the AQE skew-join depth twin, the second
  * bucketed-layout twin (exchange-free window rank), and the Welch t
  * staple. Brute-force twins at sf0.001 plus the two plan proofs the
  * keys exist for: the bucketed window plans NO exchange below the
  * WindowExec, and AQE's OptimizeSkewedJoin actually splits a hot
  * reducer partition under cluster-shaped thresholds without changing
  * the result.
  */
class Round13BatchSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_join_skew matches a brute-force CASE-mapped join") {
    val orders = ops.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val seg = ops.t(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = orders
      .map { case (ok, ck, price) =>
        (if (ok % 10 < 3) 1L else ck, price)
      }
      .flatMap { case (k, price) => seg.get(k).map(_ -> price) }
      .groupBy(_._1).view.mapValues { rows =>
        val total = rows.map(r => BigDecimal(r._2).setScale(2)).sum
        (rows.size.toLong, total.setScale(2).toDouble)
      }.toMap
    val got = run("q_join_skew").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expect)
    assert(expect.nonEmpty, "the hot key must resolve to a real customer")
  }

  test("AQE splits the hot partition of the skew join (and keeps the result)") {
    // Isolated session: runtime SQLConf is session-scoped, so the skew
    // thresholds never leak into the shared suite session.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    def skewed = {
      // 300k rows, half of them on key 0: one reducer partition carries
      // ~50× the median — the power-law shape AQE exists for.
      val fact = s.range(300000L).select(
        when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
        (col("id") % 97).as("v"))
      val dim = s.range(1000L).select(col("id").as("k2"),
        (col("id") * 3).as("w"))
      fact.join(dim, col("k") === col("k2"))
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("sv"))
    }
    // Bind ONE DataFrame instance: the adaptive plan finalizes on the
    // executed instance, so a fresh `skewed` would show the un-run plan.
    val df1 = skewed
    val withSkew = df1.collect().head
    val plan = df1.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected a skew-split sort-merge join in the adaptive plan:\n$plan")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val noSkew = skewed.collect().head
    assert(withSkew == noSkew,
      "the skew split must not change the join result")
  }

  test("q_rank_bucketed: no shuffle exchange below the window") {
    val df = run("q_rank_bucketed")
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected a WindowExec over the bucketed scan")
    val exchangesBelow = windows.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    })
    assert(exchangesBelow.isEmpty,
      s"bucketed window rank still shuffles: ${exchangesBelow.mkString(";")}")
  }

  test("q_rank_bucketed matches a brute-force top-3-per-customer roll-up") {
    val orders = ops.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val expect = orders.groupBy(_._2).values.flatMap { rows =>
      rows.sortBy(r => (-r._3, r._1)).take(3)
    }.toSeq.groupBy(_._4).view.mapValues { rows =>
      val total = rows.map(r => BigDecimal(r._3).setScale(2)).sum
      (rows.size.toLong, total.setScale(2).toDouble)
    }.toMap
    val got = run("q_rank_bucketed").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expect)
  }

  test("q_welch_ttest matches a brute-force Welch computation") {
    val rows = ops.t(spark, sf, "events")
      .select(col("event_type"),
        (col("ts") < expr("TIMESTAMP '2024-01-16 00:00:00'")).as("pre"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    val expect = rows.groupBy(_._1).view.mapValues { g =>
      val (a, b) = g.partition(_._2)
      val (n1, n2) = (a.size.toLong, b.size.toLong)
      val (s1, s2) = (a.map(_._3).sum, b.map(_._3).sum)
      val (q1, q2) = (a.map(r => r._3 * r._3).sum, b.map(r => r._3 * r._3).sum)
      val se1 = (q1.toDouble - s1.toDouble * s1 / n1) / (n1 - 1) / n1
      val se2 = (q2.toDouble - s2.toDouble * s2 / n2) / (n2 - 1) / n2
      if (n1 < 2 || n2 < 2 || se1 + se2 == 0.0) (n1, n2, None, None)
      else {
        val t = (s2.toDouble / n2 - s1.toDouble / n1) * 1000 /
          math.sqrt(se1 + se2)
        val df = (se1 + se2) * (se1 + se2) * 10 /
          (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))
        (n1, n2, Some(math.round(t)), Some(math.round(df)))
      }
    }.toMap
    val got = run("q_welch_ttest").collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    }.toMap
    assert(got.keySet == expect.keySet)
    for ((k, (n1, n2, t, df)) <- expect) {
      val (gn1, gn2, gt, gdf) = got(k)
      assert((gn1, gn2) == ((n1, n2)), s"$k counts")
      // ±1 milli/deci: Scala math.round rounds half-up while SQL round
      // rounds half away from zero — only a .5 boundary can differ.
      assert(t.isDefined == gt.isDefined && df.isDefined == gdf.isDefined,
        s"$k nullness")
      for ((e, g) <- Seq((t, gt), (df, gdf)); ev <- e; gv <- g)
        assert(math.abs(ev - gv) <= 1, s"$k: $gv vs $ev")
    }
    assert(expect.valuesIterator.exists(_._3.isDefined),
      "the fixture must exercise the non-degenerate branch")
  }

  // -- checkpoint auto gate (round-13: pin() picks parquet slots above
  // -- the ckptAutoBytes leaf floor; measured 171/257 -> 41/66 s on the
  // -- 100x pagerank smoke) ------------------------------------------------

  test("ckptReliable: conf verbatim, leaf-floor auto, unknown-leaf exclusion") {
    val base = ops.t(spark, sf, "orders").filter(col("o_totalprice") > 0)
    // fixture leaves are KB-scale: unset conf stays local below 256 MiB
    assert(!ops.Pins.ckptReliable(base))
    // floor 1 byte: the same plan auto-engages parquet slots
    val tiny = spark.newSession()
    tiny.conf.set("spark.graft.ckptAutoBytes", "1")
    assert(ops.Pins.ckptReliable(
      ops.t(tiny, sf, "orders").filter(col("o_totalprice") > 0)))
    // conf wins over any floor, both ways
    tiny.conf.set("spark.graft.reliableCheckpoint", "false")
    assert(!ops.Pins.ckptReliable(ops.t(tiny, sf, "orders")))
    tiny.conf.set("spark.graft.reliableCheckpoint", "true")
    assert(ops.Pins.ckptReliable(ops.t(tiny, sf, "orders")))
    // a chain from a LOCAL checkpoint reports only the unknown default
    // leaf size — it must NOT flip to parquet even under floor 1
    // (unknown-stat leaves are excluded from the floor sum)
    tiny.conf.unset("spark.graft.reliableCheckpoint")
    val chained = ops.t(tiny, sf, "orders").filter(col("o_totalprice") > 0)
      .localCheckpoint(true).filter(col("o_orderkey") > 0)
    assert(!ops.Pins.ckptReliable(chained))
  }

  test("pin modes agree: q_pagerank identical under local and parquet slots") {
    def rows(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("q_pagerank")(s, sf).collect()
        .map(_.toSeq).toSeq
    val local = {
      val s = spark.newSession()
      s.conf.set("spark.graft.reliableCheckpoint", "false")
      rows(s)
    }
    val auto = {
      val s = spark.newSession()
      s.conf.set("spark.graft.ckptAutoBytes", "1") // force the parquet tier
      rows(s)
    }
    assert(local == auto,
      "the checkpoint class must never change operator results")
  }
}
