package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions.col

/** Round-11 item 1: the value-histogram window class joins the DistRank
  * gate. Two global-histogram members (q_median_test, q_kruskal_wallis)
  * and three partitioned-histogram members whose partition axis has
  * tiny cardinality (q_weighted_quantile on 3 return flags,
  * q_weighted_median / q_percentile_disc on 5 types / priorities) — all
  * through [[ops.DistRank.prefixSum]] / [[ops.DistRank.cumulative]]. For each, the
  * conf-forced parallel path must be BIT-EQUAL to the serial plan, the
  * auto ladder must engage to the same rows, and the gated physical plan
  * must contain no window (partitioned or not) whose input is
  * non-aggregated fact data. B = 7: odd bucket count, seams exercised.
  * Synthetic frames ride the same loops beside the queries. */
class Round11RankSpec extends SparkSpec {

  /** Per-group values for the percentile recipe: ties, a one-row group,
    * negative values, and n·p/100 an integer (n = 10 at p = 10, 50, 90). */
  private val values = Seq(
    "a" -> Seq(1L, 2L, 2L, 3L, 5L, 5L, 5L, 8L, 9L, 10L),
    "b" -> Seq(7L),
    "c" -> Seq(4L, 4L, 6L),
    "d" -> Seq(-3L, 0L, 0L, 12L, 12L, 12L, 40L))
  private val pcts = Seq(10, 25, 50, 90, 99)

  private val frames: Map[String, SparkSession => DataFrame] = Map(
    // a null key and a null group are each one more value: the bucketed
    // prefix sum must keep those rows exactly as the serial window does
    "null-key prefix sum" -> { s =>
      import s.implicits._
      val df = Seq[(Long, Option[String], Option[Long], Long)](
        (1L, Some("a"), Some(5L), 3L), (2L, Some("a"), None, 4L),
        (3L, None, Some(1L), 2L), (4L, Some("a"), Some(-2L), 1L),
        (5L, None, None, 7L), (6L, Some("b"), Some(8L), 5L),
        (7L, Some("a"), Some(9L), 6L)).toDF("id", "g", "k", "v")
      val (b, g) = ops.DistRank.gate(s, df)
      ops.DistRank.prefixSum(g, Seq("g"), col("k"), col("id"), col("v"), b,
        "ps")
    },
    "percentile recipe" -> { s =>
      import s.implicits._
      val h = values.flatMap { case (g, vs) => vs.map(g -> _) }
        .toDF("g", "v").groupBy("g", "v").count()
        .withColumnRenamed("count", "cnt")
      val (b, hg) = ops.DistRank.gate(s, h)
      ops.DistRank.discrete(
        ops.DistRank.cumulative(hg, Seq("g"), "v", "cnt", b),
        Seq("g"), "v", pcts.map(p => p -> s"p$p"))
    })

  /** Brute-force references: the type-1 percentile is the sorted value
    * at index ⌈n·p/100⌉ − 1. */
  private val references: Map[String, Set[String]] = Map(
    "percentile recipe" -> values.map { case (g, vs) =>
      val sorted = vs.sorted
      val n = sorted.size
      (Seq(g, n.toLong) ++ pcts.map(p => sorted((n * p + 99) / 100 - 1)))
        .mkString("|")
    }.toSet)

  private val gated = Seq("q_median_test", "q_kruskal_wallis",
    "q_weighted_quantile", "q_weighted_median", "q_percentile_disc") ++
    frames.keys

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

    test(s"$name: gated plan has no window over non-aggregated input") {
      spark.conf.set("spark.graft.rankBuckets", "7")
      try {
        val p = frame(name).queryExecution.sparkPlan
        // The gate's residual windows are the bucket-offset prefix sums
        // (input: a groups×B aggregate) and the within-bucket sums
        // (input: the pinned HISTOGRAM — itself an aggregate, or an RDD
        // scan of the pinned aggregate). Assert every WindowExec child
        // subtree contains an aggregate or reads a pinned (checkpointed)
        // frame — never a raw parquet fact scan.
        val winOverScan = p.collect {
          case w: WindowExec
            if w.collectFirst { case a: HashAggregateExec => a }.isEmpty &&
              !w.child.toString.contains("Scan ExistingRDD") => w
        }
        assert(winOverScan.isEmpty,
          s"$name: a window runs over non-aggregated, non-pinned input:" +
            s"\n${winOverScan.mkString("\n")}")
      } finally spark.conf.unset("spark.graft.rankBuckets")
    }

    for (ref <- references.get(name))
      test(s"$name: equals the brute-force reference at B = 0, 1 and 7") {
        for (b <- Seq(0, 1, 7)) {
          spark.conf.set("spark.graft.rankBuckets", b.toString)
          try assert(rows(name) == ref, s"B=$b: ${rows(name)} vs $ref")
          finally spark.conf.unset("spark.graft.rankBuckets")
        }
      }
  }

  test("withPrefixSumBy stitches per-group exclusive sums exactly") {
    // synthetic many-buckets-per-group fixture: 2 groups × 1000 distinct
    // keys, value = key % 7 + 1; compare against the serial per-group
    // window at several bucket counts including degenerate B = 1.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 2000).map(i =>
      (if (i % 2 == 0) "a" else "b", (i / 2).toLong * 3 + 1,
        (i % 7 + 1).toLong)).toDF("g", "k", "v")
    val serial = df.withColumn("ps", coalesce(sum("v").over(
        Window.partitionBy("g").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(_.toSeq.mkString("|")).toSet
    for (b <- Seq(1, 7, 64)) {
      val got = ops.DistRank.withPrefixSumBy(df, Seq("g"), col("k"), col("k"),
          col("v"), b, "ps")
        .select("g", "k", "v", "ps")
        .collect().map(_.toSeq.mkString("|")).toSet
      assert(got == serial, s"B=$b diverged: ${got.diff(serial).take(3)}")
    }
  }
}
