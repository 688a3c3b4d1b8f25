package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.Graft
import graft.plans.TopKPerGroupExec

/** The lean curation path: the two-phase heap top-k behind knnCosine
  * (partial heap per input partition, final heap after the exchange)
  * against the window spelling it replaced, and the clusterLabels exits
  * (no loop when contraction leaves no edge, convergence on a chain). */
class CurationPathSpec extends SparkSpec {

  import spark.implicits._

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    flattenPlan(df.queryExecution.executedPlan)
  }

  // -- two-phase top-k ----------------------------------------------------

  test("two-phase top-k equals the window spelling over 1 and 7 shuffle partitions") {
    // 5 input partitions, 6 groups, hash-mixed scores with planted ties
    // (the tie id decides) and a few nulls (ranked last)
    val few = (0 until 600).map { i =>
      val v = (i * 2654435761L) % 97
      (i % 6, i.toLong,
        if (i % 37 == 0) null else java.lang.Double.valueOf(v / 7 * 1.0))
    }.toDF("grp", "seq", "score").repartition(5)
    // groups of 6 over 3 input partitions, 2·PartialCheckRows rows each:
    // about 2 rows per group per partition, so at k ≥ 2 the partial
    // phase still holds every row at its check and streams the rest
    val n = 3 * 2 * TopKPerGroupExec.PartialCheckRows
    val many = spark.range(0, n, 1, 1)
      .select((col("id") / 6).cast("int").as("grp"), col("id").as("seq"),
        ((xxhash64(col("id")) % 50).cast("double") / 7).as("score"))
      .repartition(3)
    assert(few.rdd.getNumPartitions == 5 && many.rdd.getNumPartitions == 3)
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("seq").asc)
    for ((df, ks) <- Seq(few -> Seq(1, 4, 150), many -> Seq(1, 2, 4));
         p <- Seq(1, 7); k <- ks) withShufflePartitions(p) {
      val heap = Graft.topkPerGroup(df, Seq("grp"), "score", "seq", k)
      val got = heap.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSet
      val want = df.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSet
      assert(got == want, s"${df.rdd.getNumPartitions} inputs, shuffle partitions $p, k=$k")
      val phases = flattenPlan(heap.queryExecution.executedPlan).collect {
        case e: TopKPerGroupExec => e.rank.isDefined
      }
      assert(phases.sorted == Seq(false, true),
        s"one partial and one final phase, got $phases")
    }
  }

  private lazy val vecs = Seq[(Long, Array[Float])](
    (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(-1.0f, 0.0f, 0.5f)),
    (5L, Array(Float.NaN, 0.0f, 1.0f)),  // a NaN lane: cos is NaN
    (6L, null),                          // null embedding: cos is null
    (7L, Array(0.9f, 0.1f, 0.0f)))       // an exact tie with 2
    .toDF("vid", "emb").repartition(3)

  /** Cosine top-k as the window spelling writes it: the per-pair
    * [[ops.Vectors.cosine]], then `rankBy() <= k`. Cosines compare by
    * their bits, so NaN equals NaN. */
  private def windowKnn(corpus: DataFrame, probes: DataFrame, k: Int)
  : Set[(Long, Long, Long, Option[Long])] =
    corpus.select(col("vid").as("vec_id"), col("emb").as("embedding"))
      .join(broadcast(probes.select(col("vid").as("pid"), col("emb").as("pe"))),
        col("vec_id") =!= col("pid"))
      .withColumn("cos", ops.Vectors.cosine(col("pe"), col("embedding")))
      .withColumn("rn", ops.Vectors.rankBy().cast("long"))
      .filter(col("rn") <= k)
      .select("pid", "vec_id", "rn", "cos").collect().map(knnRow).toSet

  private def heapKnn(corpus: DataFrame, probes: DataFrame, k: Int)
  : Set[(Long, Long, Long, Option[Long])] =
    Graft.knnCosine(corpus, "vid", "emb", probes, "vid", "emb", k)
      .collect().map(knnRow).toSet

  private def knnRow(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None
      else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(3))))

  test("knnCosine keeps the window spelling's rows with NaN and null embeddings") {
    val probes = vecs.filter(col("vid").isin(1L, 5L, 6L))
    for (k <- Seq(1, 3, 10))
      assert(heapKnn(vecs, probes, k) == windowKnn(vecs, probes, k), s"k=$k")
    val all = heapKnn(vecs, probes, 10)
    // probe 1: the NaN cosine ranks first, the null one last
    val p1 = all.filter(_._1 == 1L).toSeq.sortBy(_._3).map(_._2)
    assert(p1.head == 5L && p1.last == 6L, s"$p1")
    assert(all.count(_._1 == 6L) == 6, "a null probe still lists its rows")
  }

  test("knnCosine with a zero-norm embedding behaves as the window spelling") {
    val zero = vecs.union(Seq[(Long, Array[Float])](
      (8L, Array(0.0f, 0.0f, 0.0f))).toDF("vid", "emb"))
    val probes = zero.filter(col("vid").isin(1L, 8L))
    // ANSI (the default): 0 / 0 fails the query in both spellings
    for (run <- Seq(() => windowKnn(zero, probes, 3), () => heapKnn(zero, probes, 3)))
      assert(intercept[Exception](run()).getMessage.contains("DIVIDE_BY_ZERO"))
    // without ANSI the quotient is null and ranks last
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try for (k <- Seq(1, 3, 10))
      assert(heapKnn(zero, probes, k) == windowKnn(zero, probes, k), s"k=$k")
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("knnCosine plans no sort or window below the top-k") {
    val knn = Graft.knnCosine(vecs, "vid", "emb", vecs, "vid", "emb", 2)
    val plan = executed(knn)
    assert(plan.collect { case e: TopKPerGroupExec => e }.size == 2,
      plan.mkString("\n"))
    assert(plan.collect {
      case s: SortExec => s
      case w: WindowGroupLimitExec => w
      case w: WindowExec => w
    }.isEmpty, plan.mkString("\n"))
  }

  // -- clusterLabels --------------------------------------------------------

  private def slotsOf(prefix: String): Set[String] =
    Option(new java.io.File(ops.Pins.slotDir(spark)).list())
      .map(_.toSet).getOrElse(Set.empty[String]).filter(_.startsWith(prefix + "_"))

  private def labelsOf(pairs: Seq[(Long, Long)], prefix: String)
  : Map[Long, (Long, Boolean)] =
    ops.Text.clusterLabels(spark, pairs.toDF("a_id", "b_id"), prefix)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap

  test("clusterLabels: a clique-only graph returns the min-id labels with no loop slot") {
    // three cliques and a single pair: each collapses at init
    val cliques = Seq(Seq(3L, 5L, 9L), Seq(10L, 11L, 12L, 13L), Seq(20L, 21L))
    val pairs = for (c <- cliques; a <- c; b <- c if a < b) yield (a, b)
    val want = cliques.flatMap(c => c.map(d => d -> (c.min, d == c.min))).toMap
    assert(labelsOf(pairs, "clq_local") == want)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      assert(labelsOf(pairs, "clq") == want)
      assert(slotsOf("clq") == Set("clq_pairs", "clq_labels_0", "clq_cedges"),
        s"${slotsOf("clq")}")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("clusterLabels: a chain graph still converges through the loop") {
    val pairs = (1L until 20L).map(i => (i, i + 1)) ++ Seq((40L, 41L))
    val want = ((1L to 20L).map(d => d -> (1L, d == 1L)) ++
      Seq(40L -> (40L, true), 41L -> (40L, false))).toMap
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      assert(labelsOf(pairs, "chain") == want)
      assert(Set("chain_labels_1", "chain_labels_2").subsetOf(slotsOf("chain")),
        s"${slotsOf("chain")}")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }
}
