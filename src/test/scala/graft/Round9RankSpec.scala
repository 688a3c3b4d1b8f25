package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions.col

/** Round-9 item 1/2: the dimension-sort family's distributed-rank gate.
  * For each gated query, the conf-forced parallel path
  * (`spark.graft.rankBuckets` = B) must be BIT-EQUAL to the default
  * serial plan on the fixture — collected row sets compared — and its
  * physical plan must contain no single-partition window over
  * non-aggregated input (the 100 TB ceiling the gate exists to remove).
  * B = 7 on a 4-thread session: odd bucket count, multiple buckets per
  * task, seams exercised. Synthetic frames ride the same loops beside
  * the queries. */
class Round9RankSpec extends SparkSpec {

  /** A rank over a key with nulls: a null key is one more value that
    * sorts first (NULLS FIRST), so the bucketed rank must keep those
    * rows exactly as the serial window does. */
  private val frames: Map[String, SparkSession => DataFrame] = Map(
    "null-key rank" -> { s =>
      import s.implicits._
      val df = Seq[(Long, Option[Long])]((1L, Some(5L)), (2L, None),
        (3L, Some(-2L)), (4L, Some(5L)), (5L, None), (6L, Some(9L)))
        .toDF("id", "k")
      val (b, g) = ops.DistRank.gate(s, df)
      ops.DistRank.rank(g, col("k"), col("id"), b, "rn")
    })

  private val gated = Seq("q_rfm", "q_lorenz", "q_decile_lift",
    "q_abc_class", "q_decay_score", "q_interval_overlap",
    "q_customer_migration", "q_rich_club") ++ frames.keys

  private def frame(name: String): DataFrame =
    frames.get(name).map(_(spark))
      .getOrElse(SparkEntry.queries(name)(spark, sf))

  private def rows(name: String): Set[String] =
    frame(name).collect().map(_.toSeq.mkString("|")).toSet

  for (name <- gated) {
    test(s"$name: rankBuckets path is bit-equal to the serial plan") {
      val serial = rows(name)
      spark.conf.set("spark.graft.rankBuckets", "7")
      try {
        val parallel = rows(name)
        assert(parallel == serial,
          s"gated $name diverged: ${parallel.diff(serial).take(3)} vs " +
            s"${serial.diff(parallel).take(3)}")
      } finally spark.conf.unset("spark.graft.rankBuckets")
    }

    test(s"$name: gated plan has no global window over data-sized input") {
      spark.conf.set("spark.graft.rankBuckets", "7")
      try {
        val p = frame(name).queryExecution.sparkPlan
        // orderedAll's final 1-partition presentation sort is not a
        // WindowExec; the only unpartitioned windows allowed are the
        // bucket-offset / day-carry prefix sums, whose child is an
        // aggregate (≤ B or ≤ #days rows), never a scan.
        val globalWindows = p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(globalWindows.forall(_.collectFirst {
          case a: HashAggregateExec => a
        }.nonEmpty),
          s"$name: an unpartitioned window runs over non-aggregated input")
        val ntiles = p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty &&
            w.windowExpression.mkString.contains("ntile") => w
        }
        assert(ntiles.isEmpty, s"$name: global ntile survived the gate")
      } finally spark.conf.unset("spark.graft.rankBuckets")
    }
  }

  // Round-10 item 4: auto-engage. Forced on via the stats knobs (probe
  // floor 0 → always probe; crossover 1 → any input engages), every
  // family member must stay bit-equal to the serial plan with
  // rankBuckets UNSET — the auto path and the manual path share the
  // same machinery, but the decision ladder itself is under test here.
  for (name <- gated) {
    test(s"$name: auto-engaged path is bit-equal to the serial plan") {
      val serial = rows(name)
      spark.conf.set("spark.graft.rankAutoProbeBytes", "0")
      spark.conf.set("spark.graft.rankAutoCrossoverRows", "1")
      spark.conf.set("spark.graft.rankAutoBuckets", "7")
      try {
        val auto = rows(name)
        assert(auto == serial,
          s"auto-gated $name diverged: ${auto.diff(serial).take(3)} vs " +
            s"${serial.diff(auto).take(3)}")
      } finally {
        spark.conf.unset("spark.graft.rankAutoProbeBytes")
        spark.conf.unset("spark.graft.rankAutoCrossoverRows")
        spark.conf.unset("spark.graft.rankAutoBuckets")
      }
    }
  }

  test("auto-engage never probes below the sizeInBytes floor") {
    // fixture-scale inputs sit far under the 256 MiB default floor: the
    // decision must be 'serial' and must come from the plan statistic
    // alone. The tripwire: a filter UDF that throws on ANY evaluation —
    // a count() probe would execute it; a stats-only decision cannot.
    import org.apache.spark.sql.functions.{col, udf}
    val bomb = udf((_: Long) =>
      sys.error("auto-engage probed below the floor"): Boolean)
    val probe = ops.t(spark, sf, "orders").filter(bomb(col("o_orderkey")))
    assert(ops.DistRank.effectiveBuckets(spark, probe) == 0,
      "fixture-scale input must stay serial under auto")
  }

  test("auto-engage respects the manual rankBuckets override") {
    val probe = ops.t(spark, sf, "orders").groupBy("o_custkey").count()
    spark.conf.set("spark.graft.rankBuckets", "5")
    // even with auto knobs screaming 'engage', manual wins verbatim
    spark.conf.set("spark.graft.rankAutoProbeBytes", "0")
    spark.conf.set("spark.graft.rankAutoCrossoverRows", "1")
    try assert(ops.DistRank.effectiveBuckets(spark, probe) == 5)
    finally {
      spark.conf.unset("spark.graft.rankBuckets")
      spark.conf.unset("spark.graft.rankAutoProbeBytes")
      spark.conf.unset("spark.graft.rankAutoCrossoverRows")
    }
  }

  test("ntileExpr matches SQL ntile fill rule across n and k") {
    // brute-force the closed form against the reference rule for every
    // (n, k, rank) in a grid covering n < k, n % k == 0, and ragged fills
    def ref(rank: Int, n: Int, k: Int): Int = {
      val base = n / k; val rem = n % k
      val idx = rank - 1
      if (idx < rem * (base + 1)) idx / (base + 1) + 1
      else rem + (idx - rem * (base + 1)) / base + 1
    }
    import spark.implicits._
    for (k <- Seq(2, 5, 10); n <- Seq(1, 3, k, k + 1, 4 * k + 3)) {
      val got = (1 to n).toDF("rank").withColumn("n",
          org.apache.spark.sql.functions.lit(n))
        .selectExpr("CAST(rank AS BIGINT) AS rank",
          "CAST(" + ops.DistRank.ntileExpr("rank", "n", k) + " AS BIGINT)" +
            " AS b")
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      for (r <- 1 to n)
        assert(got(r) == ref(r, n, k), s"n=$n k=$k rank=$r")
    }
  }
}
