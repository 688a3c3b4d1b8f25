package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Descending, SortOrder}
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.api.Graft
import graft.plans.TopKPerGroupExec

/** The lean curation path: the two-phase heap top-k behind knnCosine
  * (partial heap per input partition, final heap after the exchange)
  * against the window spelling it replaced, the clusterLabels exits
  * (union-find on the driver for a small pair list, no loop when
  * contraction leaves no edge, convergence on a chain), dedupClusters
  * against union-find, and tfidf's one-exchange spelling against the
  * join-and-window one it replaced. */
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

  /** The executed plans of every action `body` runs, in order, eager
    * pins included. Listener events arrive asynchronously, so a marker
    * action closes the capture. */
  private def actionPlans(body: => Unit): Seq[Seq[SparkPlan]] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    val marker = "action_plans_marker"
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      Iterator.continually(
        seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(qe => { assert(qe != null, "no marker action"); qe })
        .takeWhile(_.analyzed.output.map(_.name) != Seq(marker))
        .map(qe => flattenPlan(qe.executedPlan)).toList
    } finally spark.listenerManager.unregister(listener)
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
    // a zero norm gives a null cosine, ranked last, with ANSI on (the
    // default) and off alike: the same rows in both modes
    def both(k: Int) = (heapKnn(zero, probes, k), windowKnn(zero, probes, k))
    for (k <- Seq(1, 3, 10)) {
      val ansi = both(k)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val plain = try both(k) finally spark.conf.unset("spark.sql.ansi.enabled")
      assert(ansi._1 == ansi._2 && ansi == plain, s"k=$k")
      // the zero probe's cosines are null (NaN against the NaN lane);
      // the zero row ranks last
      assert(ansi._1.filter(_._1 == 8L).forall(_._4.forall(b =>
        java.lang.Double.longBitsToDouble(b).isNaN)), s"k=$k")
      if (k == 10) assert(ansi._1.filter(_._1 == 1L).maxBy(_._3)._2 == 8L)
    }
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
    // the graded per-probe top-k queries take the same operator: no
    // window or window group limit ordered by the retrieval score in any
    // action the query runs. Their other windows (nDCG's ideal rank, the
    // kNN vote, MAP's running sum) stay. q_mmr_diversify pins its pool,
    // so its heap runs in the pin's action and its final plan reads the
    // pin. q_confusion's nearest-centroid pick (10 candidates per
    // vector) stays on its window: there the heap measured slower.
    def byScore(order: Seq[SortOrder]) = order.headOption.exists(o =>
      o.direction == Descending &&
        o.child.references.map(_.name).toSet == Set("cos"))
    def heaps(p: Seq[SparkPlan]) =
      p.collect { case e: TopKPerGroupExec => e.rank.isDefined }.sorted
    for (q <- Seq("q_ann_ivf", "q_hard_negatives", "q_mmr_diversify",
        "q_ann_lsh", "q_ann_multiprobe", "q_ann_recall", "q_ndcg", "q_mrr",
        "q_map_at_k", "q_precision_at_k", "q_knn_classify",
        "q_knn_margin")) {
      val plans = actionPlans(executed(SparkEntry.queries(q)(spark, sf)))
      val shown = s"$q:\n${plans.map(_.mkString("\n")).mkString("\n\n")}"
      val topK =
        if (q == "q_mmr_diversify") plans.filter(_.exists {
          case _: TopKPerGroupExec => true
          case _ => false
        })
        else plans.takeRight(1)
      assert(topK.size == 1 && heaps(topK.head) == Seq(false, true), shown)
      assert(plans.flatten.collect {
        case w: WindowGroupLimitExec if byScore(w.orderSpec) => w
        case w: WindowExec if byScore(w.orderSpec) => w
      }.isEmpty, shown)
    }
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

  /** The labels of [[paddingClique]]`(from)`'s nodes. */
  private def paddingLabels(from: Long): Map[Long, (Long, Boolean)] =
    paddingClique(from).flatMap(p => Seq(p._1, p._2)).distinct
      .map(d => d -> (from, d == from)).toMap

  test("clusterLabels: a small pair list is labelled on the driver") {
    // cliques, a single pair and a chain, the pairs in either direction
    val cliques = Seq(Seq(3L, 5L, 9L), Seq(10L, 11L, 12L, 13L), Seq(20L, 21L))
    val pairs = (for (c <- cliques; a <- c; b <- c if a < b) yield (b, a)) ++
      (30L until 40L).map(i => (i, i + 1))
    val want = (cliques.flatMap(c => c.map(d => d -> (c.min, d == c.min))) ++
      (30L to 40L).map(d => d -> (30L, d == 30L))).toMap
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val local = ops.Text.clusterLabels(spark, pairs.toDF("a_id", "b_id"), "loc")
      assert(flattenPlan(local.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.LocalTableScanExec => e
      }.nonEmpty)
      assert(local.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
        .toMap == want)
      assert(slotsOf("loc") == Set("loc_pairs"), s"${slotsOf("loc")}")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("clusterLabels: a clique-only graph returns the min-id labels with no loop slot") {
    // three cliques and a single pair, and one clique that takes the
    // pair list past the driver-side bound: each collapses at init
    val cliques = Seq(Seq(3L, 5L, 9L), Seq(10L, 11L, 12L, 13L), Seq(20L, 21L))
    val pairs = (for (c <- cliques; a <- c; b <- c if a < b) yield (a, b)) ++
      paddingClique(1000L)
    val want = cliques.flatMap(c => c.map(d => d -> (c.min, d == c.min))).toMap ++
      paddingLabels(1000L)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      assert(labelsOf(pairs, "clq") == want)
      assert(slotsOf("clq") == Set("clq_pairs", "clq_labels_0", "clq_cedges"),
        s"${slotsOf("clq")}")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("clusterLabels: a chain graph still converges through the loop") {
    // padded past the driver-side bound, so the fixpoint runs
    val pairs = (1L until 20L).map(i => (i, i + 1)) ++ Seq((40L, 41L)) ++
      paddingClique(1000L)
    val want = ((1L to 20L).map(d => d -> (1L, d == 1L)) ++
      Seq(40L -> (40L, true), 41L -> (40L, false))).toMap ++
      paddingLabels(1000L)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      assert(labelsOf(pairs, "chain") == want)
      assert(Set("chain_pairs", "chain_labels_0", "chain_cedges",
          "chain_labels_1", "chain_labels_2").subsetOf(slotsOf("chain")),
        s"${slotsOf("chain")}")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  // -- dedupClusters ----------------------------------------------------------

  /** Union-find over the exact token-set Jaccard pairs at `bp` ×10⁻⁴:
    * doc → (component min id, is that min). */
  private def unionFind(docs: Seq[(Long, String)], bp: Int)
  : Map[Long, (Long, Boolean)] = {
    val sets = docs.map { case (id, t) => id -> t.toLowerCase.split(" ").filter(_.nonEmpty).toSet }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    for ((a, sa) <- sets; (b, sb) <- sets if a < b) {
      val common = (sa & sb).size
      if (common.toLong * 10000 >= bp.toLong * (sa.size + sb.size - common)) {
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      }
    }
    parent.keys.map(d => d -> (find(d), find(d) == d)).toMap
  }

  private def dedupOf(docs: Seq[(Long, String)]): Map[Long, (Long, Boolean)] =
    Graft.dedupClusters(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  private def words(from: Int, n: Int) = (from until from + n).map(w => s"w$w").mkString(" ")

  test("dedupClusters matches union-find on a clique corpus and a chain corpus") {
    // cliques: each base doc and two copies with one word swapped
    // (Jaccard 0.9 and 0.82 within a group), plus unrelated singletons
    val clique = (0 until 6).flatMap { g =>
      val base = words(100 * g, 20)
      Seq((10L * g + 1, base), (10L * g + 2, base.replace(s"w${100 * g}", "x")),
        (10L * g + 3, base.replace(s"w${100 * g + 1}", "y")))
    } ++ (0 until 5).map(i => (1000L + i, words(5000 + 50 * i, 20)))
    // a chain: doc i holds words i .. i+9, so neighbours share 9 of 11
    // (0.82) and docs two apart 8 of 12 (0.67)
    val chain = (0 until 12).map(i => (200L + i, words(i, 10)))
    for (docs <- Seq(clique, chain)) {
      val want = unionFind(docs, 8000)
      assert(want.nonEmpty && dedupOf(docs) == want)
    }
    assert(dedupOf(chain).values.map(_._1).toSet == Set(200L), "one chain component")
  }

  test("dedupClusters runs at most 8 Spark jobs on a small exact corpus") {
    val docs = (0 until 4).flatMap { g =>
      val base = words(100 * g, 20)
      Seq((10L * g + 1, base), (10L * g + 2, base.replace(s"w${100 * g}", "x")))
    }.toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Graft.dedupClusters(docs, "doc_id", "text").collect()  // warm
    org.apache.spark.sql.GraftSql.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Graft.dedupClusters(docs, "doc_id", "text").collect()
      org.apache.spark.sql.GraftSql.drainListeners(spark.sparkContext)
      assert(out.length == 8)
      // the gate probe, the pinned pairs, the driver-side union-find's
      // collect and the collect above
      assert(jobs.get <= 8, s"${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // -- tfidf ------------------------------------------------------------------

  /** TF-IDF as the join-and-window spelling wrote it: tf and df as two
    * aggregates, n_docs a broadcast count of distinct ids, and the rank
    * a row_number window. */
  private def joinTfidf(docs: DataFrame, k: Int): DataFrame = {
    val tf = ops.Text.tokDf(docs).groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nd = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("token").asc)
    tf.join(df, "token").crossJoin(broadcast(nd))
      .withColumn("tfidf_raw",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tfidf_raw"), 4).as("tfidf"))
  }

  private lazy val oddDocs = Seq[(java.lang.Long, String)](
    (1L, "a b a c"), (2L, "b b d"), (2L, "E a"),  // a repeated id
    (null, "a c c"),                               // a null id
    (3L, ""), (4L, null),                          // no tokens: n_docs only
    (5L, "f  g"), (6L, "a b c d e f g h i j"), (7L, "A a a"))
    .toDF("doc_id", "text").repartition(3)

  test("tfidf equals the join-and-window spelling row for row") {
    // with every id null, n_docs is 0 and every score null: ties by token
    val nullIds = Seq[(java.lang.Long, String)]((null, "b a c"), (null, "d a"))
      .toDF("doc_id", "text")
    for (docs <- Seq(oddDocs, nullIds); k <- Seq(1, 2, 3, 20)) {
      val got = ops.Text.tfidf(docs, k)
      val want = joinTfidf(docs, k)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"k=$k")
    }
    assert(ops.Text.tfidf(nullIds, 2).count() == 2)
    // n_docs is 7 — ids 1 to 7: the empty and the null text count, the
    // null id does not — while a's df of 5 counts the null id's doc
    val idf = ops.Text.tfidf(oddDocs, 20).filter(col("doc_id") === 7L)
      .select("tf", "df", "tfidf").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(idf.toSeq == Seq((3L, 5L, math.round(3 * math.log(7.0 / 5) * 1e4) / 1e4)),
      idf.mkString(", "))
  }

  test("tfidf tokenizes once: one GenerateExec in the executed plan") {
    val plan = executed(ops.Text.tfidf(oddDocs, 3))
    // a reused exchange lists its child again: count plan nodes once
    val generates = plan.collect { case g: GenerateExec => g }
      .map(System.identityHashCode).distinct
    assert(generates.size == 1, plan.mkString("\n"))
    assert(plan.collect { case s: SortExec => s; case w: WindowExec => w }.isEmpty,
      plan.mkString("\n"))
  }
}
