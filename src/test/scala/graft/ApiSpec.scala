package graft

import org.apache.spark.sql.functions._
import graft.api.Graft

/** Round-11 item 5: the graft.api DataFrame→DataFrame library. Each
  * operator runs on a NON-fixture schema (proving nothing is keyed to
  * the graded tables) and, where a graded query exposes the same core,
  * is cross-checked against that query's rows on the fixture (proving
  * the library delegates to — and cannot drift from — the graded
  * machinery). */
class ApiSpec extends SparkSpec {

  import spark.implicits._

  // -- as-of -------------------------------------------------------------

  private lazy val trades = Seq(
    ("A", 10L, "t1"), ("A", 20L, "t2"), ("A", 35L, "t3"),
    ("B", 15L, "t4"), ("B", 16L, "t5"), ("C", 5L, "t6"))
    .toDF("sym", "t", "trade_id")

  private lazy val quotes = Seq(
    ("A", 8L, 100L), ("A", 20L, 110L), ("A", 30L, 120L),
    ("B", 16L, 200L), ("B", 40L, 210L))
    .toDF("sym", "t", "px")

  private def asofMap(direction: String, tol: Long = -1L)
  : Map[String, Option[Long]] =
    Graft.asof(trades, quotes, Seq("sym"), "t", "t", direction, tol)
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap

  test("asof backward matches inclusive most-recent-quote semantics") {
    val got = asofMap("backward")
    assert(got == Map(
      "t1" -> Some(100L),   // quote at 8 <= 10
      "t2" -> Some(110L),   // inclusive at equal ts 20
      "t3" -> Some(120L),   // quote at 30 <= 35
      "t4" -> None,         // B has no quote <= 15
      "t5" -> Some(200L),   // inclusive at 16
      "t6" -> None))        // C has no quotes at all
  }

  test("asof forward matches inclusive next-quote semantics") {
    val got = asofMap("forward")
    assert(got == Map(
      "t1" -> Some(110L), "t2" -> Some(110L), "t3" -> None,
      "t4" -> Some(200L), "t5" -> Some(200L), "t6" -> None))
  }

  test("asof nearest picks the smaller gap, backward on ties") {
    val got = asofMap("nearest")
    assert(got == Map(
      "t1" -> Some(100L),   // |10-8|=2 < |20-10|=10
      "t2" -> Some(110L),   // exact
      "t3" -> Some(120L),   // |35-30|=5 (no forward quote)
      "t4" -> Some(200L),   // only forward exists
      "t5" -> Some(200L), "t6" -> None))
    // equidistant: trade at 25 sits 5 from both 20 and 30 → backward
    val tie = Graft.asof(Seq(("A", 25L, "tx")).toDF("sym", "t", "tid"),
      quotes, Seq("sym"), "t", "t", "nearest")
      .select("asof_px").collect().head.getLong(0)
    assert(tie == 110L)
  }

  test("asof tolerance nulls far matches without dropping rows") {
    val got = asofMap("backward", tol = 2L)
    assert(got("t1").contains(100L) && got("t2").contains(110L))
    assert(got("t3").isEmpty, "gap 5 > tolerance 2 must null out")
    assert(got.size == 6, "tolerance must not drop left rows")
  }

  test("asof nearest + tolerance filters candidates before the pick") {
    // round-12 advice gap: nearest had no tolerance coverage. The
    // contract is candidate-filtering (the polars/pandas convention):
    // each direction is nulled against tolerance BEFORE the closer-side
    // selection. With nearest picking min |Δt| the pick is in-tolerance
    // iff ANY candidate is, so the visible semantics are: match iff the
    // nearest candidate is within tolerance, per-row, never dropping
    // left rows.
    // A-quotes at 8/20/30: trade t=29 → back Δ9, fwd Δ1.
    val probe = Seq(("A", 29L, "p1"), ("A", 35L, "p2"), ("C", 5L, "p3"))
      .toDF("sym", "t", "trade_id")
    def nn(tol: Long) = Graft.asof(probe, quotes, Seq("sym"),
        "t", "t", "nearest", tol)
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    val t4 = nn(4L)
    assert(t4("p1").contains(120L), "fwd Δ1 within 4 → quote at 30")
    assert(t4("p2").isEmpty, "nearest Δ5 (back, 30→35) exceeds 4")
    assert(t4("p3").isEmpty, "no quotes at all stays null")
    assert(t4.size == 3, "tolerance must not drop left rows")
    val t9 = nn(9L)
    assert(t9("p1").contains(120L) && t9("p2").contains(120L))
    // tolerance 0: only exact-timestamp matches survive
    val t0 = Graft.asof(Seq(("A", 20L, "x1"), ("A", 21L, "x2"))
        .toDF("sym", "t", "trade_id"),
      quotes, Seq("sym"), "t", "t", "nearest", 0L)
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(t0("x1").contains(110L) && t0("x2").isEmpty)
  }

  // -- near-dup ----------------------------------------------------------

  private lazy val posts = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox leaps"),   // J(1,2) = 4/6
    (3L, "the quick brown fox jumps"),   // J(1,3) = 1
    (4L, "completely different words here"),
    (5L, "the quick brown fox"))         // J(1,5) = 4/5
    .toDF("uid", "body")

  test("nearDupPairs matches brute-force Jaccard on a custom schema") {
    def toks(t: String) = t.split(" ").filter(_.nonEmpty).distinct.toSet
    val docs = posts.collect().map(r => r.getLong(0) -> toks(r.getString(1)))
    def brute(bp: Int) = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      j = (ta & tb).size.toDouble / (ta | tb).size
      if j * 10000 >= bp
    } yield (a, b)).toSet
    for (bp <- Seq(5000, 8000, 9999)) {
      val got = Graft.nearDupPairs(posts, "uid", "body", bp)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(bp), s"bp=$bp: $got vs ${brute(bp)}")
    }
    // j_bp column is the exact integer Jaccard
    val jbp = Graft.nearDupPairs(posts, "uid", "body", 5000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5))
      .toMap
    assert(jbp((1L, 2L)) == 4L * 10000 / 6)
    assert(jbp((1L, 3L)) == 10000L)
  }

  test("dedupClusters labels min-id representatives on a custom schema") {
    val labels = Graft.dedupClusters(posts, "uid", "body", 7000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // at 0.7: (1,3)=1.0, (1,5)=0.8, (2,5)=0.8 and (3,5)=0.8 connect
    // {1,2,3,5} transitively ((1,2)=0.667 itself misses the cut — CC
    // merges it anyway); 4 matches nothing
    assert(labels.map(_._1).toSet == Set(1L, 2L, 3L, 5L))
    assert(labels.forall(_._2 == 1L), "cluster_id must be the min id")
    assert(labels.collect { case (id, _, k) if k => id }.toSeq == Seq(1L))
  }

  test("near-dup API delegates to the graded cores (fixture cross-check)") {
    val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
    val apiPairs = Graft.nearDupPairs(docs, "doc_id", "text", 8000)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the graded q_dedup_near emits the same (9,4)-cut pair set
    val graded = SparkEntry.queries("q_dedup_near")(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(apiPairs == graded)
    val apiLabels = Graft.dedupClusters(docs, "doc_id", "text", 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val gradedLabels = SparkEntry.queries("q_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(apiLabels == gradedLabels)
  }

  test("minhashCandidates matches a JVM md5 recomputation on a custom schema") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def lane(j: Int, toks: Set[String]): Long =
      toks.map(t => java.lang.Long.parseLong(
        md5hex(s"$j:$t").substring(0, 15), 16)).min
    val (bands, r) = (4, 2)
    val docs = posts.collect()
      .map(x => x.getLong(0) ->
        x.getString(1).split(" ").filter(_.nonEmpty).distinct.toSet)
    val expect = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      if (0 until bands).exists(bd => (0 until r).forall(k =>
        lane(bd * r + k, ta) == lane(bd * r + k, tb)))
    } yield (a, b)).toSet
    val got = Graft.minhashCandidates(posts, "uid", "body", bands, r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == expect, s"got $got expected $expect")
    assert(got.contains((1L, 3L)), "identical docs must collide")
  }

  test("minhashCandidates (8,2) agrees with the graded band sweep") {
    val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
    val cand = Graft.minhashCandidates(docs, "doc_id", "text", 8, 2)
    val sweep = SparkEntry.queries("q_band_sweep")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    val (nPairs, nDocs) = sweep((8L, 2L))
    assert(cand.count() == nPairs)
    val touched = cand.select(explode(array(col("a_id"), col("b_id"))))
      .distinct().count()
    assert(touched == nDocs)
    // cluster path: every labeled doc appears in some candidate pair
    val labels = Graft.minhashClusters(docs, "doc_id", "text", 8, 2)
    assert(labels.count() == touched)
  }

  test("minhashIncremental equals the self-join restricted across the split") {
    // batch = uids {2, 4}; corpus = the rest. The incremental pairs must
    // be exactly the full self-join's pairs with one end in each side
    // (shared banding ⇒ set equality, not approximation).
    val batch = posts.filter(col("uid").isin(2L, 4L))
    val corpus = posts.filter(!col("uid").isin(2L, 4L))
    val got = Graft.minhashIncremental(corpus, "uid", "body",
        batch, "uid", "body", bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Graft.minhashCandidates(posts, "uid", "body", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = full.collect {
      case (a, b) if Set(2L, 4L)(a) && !Set(2L, 4L)(b) => (a, b)
      case (a, b) if Set(2L, 4L)(b) && !Set(2L, 4L)(a) => (b, a)
    }
    assert(got == expect, s"got $got expected $expect")
    assert(got.nonEmpty, "the fixture split must produce cross pairs")
    // overlapping corpus/batch (the natural "batch already ingested"
    // call): identical band rows always collide, so without the
    // self-pair guard every batch doc would report itself
    val overlap = Graft.minhashIncremental(posts, "uid", "body",
        batch, "uid", "body", bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(overlap.forall { case (n, o) => n != o }, "self-pair leaked")
    assert(overlap == expect, "overlap call must equal the disjoint split")
    // pre-banded path: banding once and joining the band frames is the
    // same operator (the production persist-bucketed flow)
    val banded = Graft.minhashIncrementalBanded(
        Graft.minhashBandRows(corpus, "uid", "body", 4, 2),
        Graft.minhashBandRows(batch, "uid", "body", 4, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == expect)
  }

  test("minhashIncrementalBanded: bucketed corpus side joins exchange-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // name follows the graft_<word>_b<12hex>_<pid> reaper convention
    // (FileFormats.sweepStaleWarehouse), so a crashed run's leftover
    // dir is reclaimed by the next JVM instead of leaking forever
    val bt = s"graft_apibands_b0123456789ab_${ProcessHandle.current().pid()}"
    graft.sources.FileFormats.resetTable(spark, bt)
    try {
      val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
      // sortBy the FULL join key, as the production recipe documents —
      // band alone would leave a per-batch corpus-side sort on the table
      Graft.minhashBandRows(docs, "doc_id", "text", 4, 2)
        .write.mode("overwrite").format("parquet")
        .bucketBy(4, "band", "bkey").sortBy("band", "bkey")
        .saveAsTable(bt)
      val batch = Graft.minhashBandRows(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 4, 2)
      val df = Graft.minhashIncrementalBanded(
        spark.table(bt).hint("merge"), batch)
      val smj = flattenPlan(df.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, "banded incremental join lost its SMJ shape")
      // the CORPUS side (the subtree holding the bucketed scan) must be
      // exchange-free; the batch side legitimately shuffles twice (its
      // own signature aggregate on doc_id + the join's band exchange)
      val sides = smj.head.children.map(flattenPlan)
      val corpusSide = sides.find(_.exists {
        case f: FileSourceScanExec => f.bucketedScan
        case _ => false
      })
      assert(corpusSide.isDefined, "no bucketed scan under the join")
      assert(corpusSide.get.collect {
        case e: ShuffleExchangeExec => e
      }.isEmpty, "corpus side paid an exchange despite the bucketed layout")
      // and the documented result contract holds on the persisted path
      val viaTable = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = Graft.minhashIncremental(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 4, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaTable == direct)
    } finally graft.sources.FileFormats.resetTable(spark, bt)
  }

  test("connectedComponents labels a custom edge list correctly") {
    // components: {1,2,3,9} (chain + dup/reversed edges), {5,6}, {7,8}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 9L), (2L, 1L), (1L, 2L),
      (5L, 6L), (8L, 7L)).toDF("u", "v")
    val got = Graft.connectedComponents(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val expect = Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      9L -> (1L, false), 5L -> (5L, true), 6L -> (5L, false),
      7L -> (7L, true), 8L -> (7L, false))
    assert(got == expect)
  }

  test("connectedComponents fails loudly on null or non-castable endpoints") {
    // a silently-null cast would drop the edge from every join and
    // return wrong components; both cases must fail the job instead
    val uuidEdges = Seq(("a-1", "b-2")).toDF("u", "v")
    val e1 = intercept[Exception] {
      Graft.connectedComponents(uuidEdges, "u", "v").collect()
    }
    // under ANSI mode (the Spark 4 default) the cast itself throws
    // CAST_INVALID_INPUT before our guard; the raise_error covers
    // ANSI-off deployments — either way the job fails loudly
    def says(t: Throwable, s: String): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(s)) ||
        says(t.getCause, s))
    assert(says(e1, "long-castable") || says(e1, "CAST_INVALID_INPUT"))
    val nullEdges = Seq((Some(1L), None: Option[Long])).toDF("u", "v")
    val e2 = intercept[Exception] {
      Graft.connectedComponents(nullEdges, "u", "v").collect()
    }
    assert(e2.getMessage.contains("null v endpoint") ||
      Option(e2.getCause).exists(_.getMessage.contains("null v endpoint")))
  }

  test("connectedComponents fails loudly on truncating fractional endpoints") {
    // double→long truncation is SILENT even under ANSI: without the
    // round-trip guard, endpoints 1.9 and 1.2 would both become node 1
    // and silently merge two distinct nodes (round-13 advice)
    val fracEdges = Seq((1.9, 7.0), (1.2, 8.0)).toDF("u", "v")
    val e = intercept[Exception] {
      Graft.connectedComponents(fracEdges, "u", "v").collect()
    }
    def says(t: Throwable, s: String): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(s)) ||
        says(t.getCause, s))
    assert(says(e, "not losslessly long-castable"))
    // exactly-integral doubles (ids that arrived through JSON) round-trip
    // and must pass
    val okEdges = Seq((1.0, 2.0), (2.0, 3.0)).toDF("u", "v")
    val got = Graft.connectedComponents(okEdges, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents diameter bound is conf-raisable, fails loudly") {
    // a 10-node chain: the contracted label graph is still chain-shaped,
    // so the fixpoint needs several rounds — 2 is not enough and must
    // fail LOUDLY (unconverged labels would split one true component),
    // while the default bound converges and labels the whole chain 1.
    // A clique on 1000… takes the edge list past the bound under which
    // the driver labels it without rounds.
    val edges = (1L until 10L).map(i => (i, i + 1)) ++ paddingClique(1000L)
    val chain = edges.toDF("u", "v")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.ccMaxRounds", "2")
    import s2.implicits._
    val chain2 = edges.toDF("u", "v")
    val e = intercept[IllegalArgumentException] {
      Graft.connectedComponents(chain2, "u", "v").collect()
    }
    assert(e.getMessage.contains("ccMaxRounds"))
    val labels = Graft.connectedComponents(chain, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (1L to 10L).map(_ -> 1L).toMap ++
      edges.filter(_._1 >= 1000L).flatMap(p => Seq(p._1, p._2)).map(_ -> 1000L))
  }

  test("connectedComponents agrees with the graded cluster engine (fixture)") {
    val pairs = SparkEntry.queries("q_dedup_near")(spark, sf)
      .select("a_id", "b_id")
    val got = Graft.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val graded = SparkEntry.queries("q_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == graded)
    assert(got.nonEmpty)
  }

  test("sessionize refuses inputs that already carry its output columns") {
    val df = Seq(("a", 1L, 2L, 9L)).toDF("k", "us", "i", "session_id")
    val e = intercept[IllegalArgumentException] {
      Graft.sessionize(df, "k", "us", 60L, "i")
    }
    assert(e.getMessage.contains("session_id"))
  }

  test("api slots are per-invocation under reliable checkpoints") {
    // round-12 advice (medium): the API has no dataset dir to qualify
    // its checkpoint slots with, so fixed names (api_cc, …) would let
    // two different user inputs overwrite each other's parquet under
    // reliableCheckpoint=true — the dir-flavored failure
    // Round11GateSpec pins for graded queries. Each call now mints a
    // numbered slot: retain the FIRST input's cluster handle, run a
    // SECOND input through the same entry point, then re-collect the
    // first handle — it must still serve first-input rows.
    val other = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "alpha beta gamma delta"),   // exact dup of 10
      (12L, "unrelated tokens entirely"))
      .toDF("uid", "body")
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val first = Graft.dedupClusters(posts, "uid", "body", 7000)
      val rows1 = first.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val rows2 = Graft.dedupClusters(other, "uid", "body", 7000)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(rows2 == Set((10L, 10L, true), (11L, 10L, false)))
      assert(rows1 != rows2, "the two inputs must differ")
      val again = first.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(again == rows1,
        "first-input handle re-read second-input checkpoint data")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("simhashCandidates matches a JVM vote recomputation, exact at h<=8") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def simhash(toks: Set[String]): Long = {
      val votes = Array.fill(64)(0)
      for (t <- toks; k <- 0 until 64) {
        val nib = Integer.parseInt(md5hex(t).substring(k / 4, k / 4 + 1), 16)
        votes(k) += (if (((nib >> (k % 4)) & 1) == 1) 1 else -1)
      }
      (0 until 64).map(k => if (votes(k) > 0) 1L << k else 0L).sum
    }
    val docs = posts.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").filter(_.nonEmpty).distinct.toSet)
    for (h <- Seq(0, 4, 8)) {
      val brute = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        ham = java.lang.Long.bitCount(simhash(ta) ^ simhash(tb))
        if ham <= h
      } yield (a, b, ham.toLong)).toSet
      val got = Graft.simhashCandidates(posts, "uid", "body", h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == brute, s"h=$h: $got vs $brute")
    }
    // identical docs collide at hamming 0
    assert(Graft.simhashCandidates(posts, "uid", "body", 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet.contains((1L, 3L)))
  }

  test("simhash API delegates to the graded pigeonhole core (fixture)") {
    val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
    val api = Graft.simhashCandidates(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val graded = SparkEntry.queries("q_dedup_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(api == graded)
    // cluster contract: every labeled doc appears in some pair
    val labels = Graft.simhashClusters(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val touched = api.flatMap(p => Seq(p._1, p._2))
    assert(labels.map(_._1).toSet == touched)
    assert(labels.filter(_._3).map(_._1).toSet ==
      labels.map(_._2).toSet, "one keep=true per cluster, at the min id")
  }

  // -- classic text jobs --------------------------------------------------

  test("wordcount matches a brute-force count on a custom schema") {
    val posts = Seq((1L, "To be OR not to be"), (2L, "or  not"))
      .toDF("pid", "body")
    val got = Graft.wordcount(posts, "body")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // shared tokenizer: lowercase, single-space split, empties dropped —
    // the double space yields one empty token, which must not count
    assert(got == Map("to" -> 2, "be" -> 2, "or" -> 2, "not" -> 2))
  }

  test("wordcount / tfidf / invertedIndex delegate to the graded jobs") {
    val docs = ops.t(spark, sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    assert(rows(Graft.wordcount(docs, "text")) ==
      rows(SparkEntry.queries("q_wordcount")(spark, sf)))
    val tfidfIn = docs.filter(col("lang") === "en" && col("doc_id") < 100)
    assert(rows(Graft.tfidf(tfidfIn, "doc_id", "text", topK = 5)) ==
      rows(SparkEntry.queries("q_tfidf")(spark, sf)))
    assert(rows(Graft.invertedIndex(docs, "doc_id", "text",
        maxPostings = 10)) ==
      rows(SparkEntry.queries("q_inverted_index")(spark, sf)))
  }

  test("tfidf and invertedIndex hold their contracts on a custom schema") {
    val posts = Seq((10L, "alpha beta beta"), (20L, "alpha gamma"),
      (30L, "alpha alpha delta")).toDF("pid", "body")
    val tf = Graft.tfidf(posts, "pid", "body", topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // ≤ topK rows per doc; df counts documents, not occurrences; a
    // term in every doc has tfidf 0 and never beats a distinctive term
    assert(tf.groupBy(_._1).forall(_._2.length <= 2))
    assert(tf.filter(_._2 == "alpha").forall(t => t._4 == 3 && t._5 == 0.0))
    assert(tf.filter(_._1 == 10L).head._2 == "beta")
    val inv = Graft.invertedIndex(posts, "pid", "body", maxPostings = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(inv("alpha") == (3L, 10L, 30L, "10,20"))
    assert(inv("beta") == (1L, 10L, 10L, "10"))
    assert(inv("delta") == (1L, 30L, 30L, "30"))
  }

  // -- text scoring -----------------------------------------------------------

  test("bm25 matches a brute-force Okapi scorer on a custom schema") {
    val corpus = Seq(
      (1L, "spark shuffle join join join"),
      (2L, "spark broadcast join"),
      (3L, "python pandas dataframe"),
      (4L, "spark streaming watermark state"))
      .toDF("pk", "content")
    val docs = corpus.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.size).sum / n
    def w(tf: Long, df: Long, dl: Long, k1: Double, b: Double) =
      math.log((n - df + 0.5) / (df + 0.5) + 1) * (tf * (k1 + 1)) /
        (tf + k1 * (1 - b + b * dl / avgdl))
    val terms = Seq("spark", "join")
    val expect = docs.flatMap { case (id, toks) =>
      val hits = terms.filter(t => toks.contains(t))
      if (hits.isEmpty) None
      else Some(id -> (hits.size.toLong, math.round(hits.map { t =>
        val df = docs.count(_._2.contains(t)).toLong
        w(toks.count(_ == t).toLong, df, toks.size.toLong, 1.2, 0.75)
      }.sum * 10000) / 10000.0))
    }.toMap
    val got = Graft.bm25(corpus, "pk", "content", terms)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet)
    for ((id, (m, sc)) <- expect) {
      assert(got(id)._1 == m)
      assert(math.abs(got(id)._2 - sc) <= 2e-4, s"doc $id")
    }
  }

  test("bm25 delegates to the graded weight core (fixture cross-check)") {
    // single-term query over the graded corpus slice: the API's summed
    // score IS that term's q_bm25 weight wherever the graded top-5
    // surfaced it.
    val docs = ops.t(spark, sf, "documents")
      .filter(col("lang") === "en" && col("doc_id") < 100)
    val graded = SparkEntry.queries("q_bm25")(spark, sf).collect()
      .filter(_.getString(1) == "vector")
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assume(graded.nonEmpty)
    val api = Graft.bm25(docs, "doc_id", "text", Seq("vector"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for ((id, sc) <- graded)
      assert(math.abs(api(id) - sc) <= 1e-9,
        s"doc $id: api ${api(id)} vs graded $sc")
  }

  test("qualityScore reproduces the graded features (fixture cross-check)") {
    val docs = ops.t(spark, sf, "documents")
    val api = Graft.qualityScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val graded = SparkEntry.queries("q_quality_score")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    assert(api == graded)
  }

  // -- similarity search ----------------------------------------------------

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.5f)),
    (5L, Array(-1.0f, 0.0f, 0.0f, 0.0f)))
    .toDF("vid", "emb")

  test("knnCosine matches brute-force cosine top-k on a custom schema") {
    val rows = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    val probes = vecs.filter(col("vid") <= 2)
    val got = Graft.knnCosine(vecs, "vid", "emb", probes, "vid", "emb", 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1))
      .toMap
    for ((p, pe) <- rows.take(2)) {
      val order = rows.filter(_._1 != p)
        .map { case (n, ne) => (n, cos(pe, ne)) }
        .sortBy { case (n, c) => (-c, n) }.map(_._1)
      assert(got((p, 1L)) == order.head && got((p, 2L)) == order(1),
        s"probe $p: got ${got.filter(_._1._1 == p)} expected $order")
    }
    assert(got.size == 4, "2 probes x top-2")
  }

  test("knnCosine / annLsh delegate to the graded ANN cores (fixture)") {
    val emb = ops.t(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    val apiKnn = Graft.knnCosine(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gradedKnn = SparkEntry.queries("q_knn_cosine")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(apiKnn == gradedKnn, "exact k-NN must equal q_knn_cosine")
    val apiLsh = Graft.annLsh(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", 5, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gradedLsh = SparkEntry.queries("q_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(apiLsh == gradedLsh,
      "the parametric planes must reproduce the graded 64-dim buckets")
    // recall at this tiny SF is meaningless (2^8 buckets over ~100
    // vectors → near-singleton buckets); the graded q_ann_recall /
    // AdvancedSpec own the recall contract. Structural sanity only:
    assert(apiLsh.forall(t => t._3 >= 1 && t._3 <= 5))
    assert(apiLsh.forall(t => t._1 != t._2), "no self-matches")
  }

  test("annIvf matches brute-force IVF search on a custom schema") {
    // nlist=2, nprobe=1: centroids are the md5-rank top-2 rows refined
    // by one Lloyd step; each probe scans ONLY its nearest list. Brute
    // force replays the same pipeline in the JVM.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    val got = Graft.annIvf(vecs, "vid", "emb",
        vecs.filter(col("vid") <= 2), "vid", "emb",
        k = 2, nlist = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1))
      .toMap
    // JVM replay: seeds by md5 rank, one decimal-exact mean step
    // (plain double mean agrees on these tiny exact-float values),
    // assignment by (cos desc, cid asc) struct order.
    val seeds = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(2)
    def nearest(cs: Seq[(Long, Array[Float])], v: Array[Float]): Long =
      cs.map { case (cid, ce) => (cos(ce, v), -cid) }.max match {
        case (_, ncid) => -ncid
      }
    val stepped = seeds.map { case (cid, _) =>
      val members = rows.filter(r => nearest(seeds.toSeq, r._2) == cid)
      cid -> members.map(_._2).transpose
        .map(lane => (lane.map(_.toDouble).sum / lane.length).toFloat)
        .toArray
    }
    val assigned = rows.map(r => r._1 -> nearest(stepped.toSeq, r._2))
      .toMap
    for ((p, pe) <- rows.take(2)) {
      val plist = nearest(stepped.toSeq, pe)
      val order = rows
        .filter(r => r._1 != p && assigned(r._1) == plist)
        .map { case (n, ne) => (n, cos(pe, ne)) }
        .sortBy { case (n, c) => (-c, n) }.map(_._1)
      for ((n, i) <- order.take(2).zipWithIndex)
        assert(got((p, (i + 1).toLong)) == n,
          s"probe $p rank ${i + 1}: got ${got.get((p, (i + 1).toLong))}" +
            s" expected $n (list $plist, order $order)")
    }
  }

  test("annIvf delegates to the graded IVF core (fixture cross-check)") {
    val emb = ops.t(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    val api = Graft.annIvf(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        BigDecimal(r.getDouble(3)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    val graded = SparkEntry.queries("q_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getDouble(3)).toMap
    assert(api.keySet == graded.keySet,
      "parametric IVF at (16,3) must reproduce the graded lists")
    for ((k, v) <- api)
      assert(v == graded(k), s"$k: $v vs ${graded(k)}")
  }

  test("mmrRerank runs greedy MMR on a custom schema") {
    val rows = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    val (k, pool, lam) = (2, 3, 0.6)
    val got = Graft.mmrRerank(vecs, "vid", "emb",
        vecs.filter(col("vid") === 1), "vid", "emb", k, pool, lam)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val pe = rows.find(_._1 == 1L).get._2
    val cands = rows.filter(_._1 != 1L)
      .map { case (n, ne) => (n, cos(pe, ne), ne) }
      .sortBy { case (n, c, _) => (-c, n) }.take(pool)
    // greedy JVM replay
    val p1 = cands.maxBy { case (n, c, _) => (c, -n) }
    val rest = cands.filter(_._1 != p1._1).map { case (n, c, ne) =>
      (n, c * lam - cos(ne, p1._3) * (1 - lam)) }
    val p2 = rest.maxBy { case (n, s) => (s, -n) }
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq((1L, p1._1), (2L, p2._1)))
    assert(math.abs(got(0)._3 - p1._2) <= 1e-4)
    assert(math.abs(got(1)._3 - p2._2) <= 2e-4)
  }

  test("mmrRerank delegates to the graded MMR core (fixture cross-check)") {
    val emb = ops.t(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    val api = Graft.mmrRerank(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 3, poolSize = 8,
        lambda = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getDouble(3)).toMap
    val graded = SparkEntry.queries("q_mmr_diversify")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getDouble(3)).toMap
    assert(api.keySet == graded.keySet,
      "parametric MMR at (3,8,0.7) must reproduce the graded picks")
    // one core computes both: (1 − λ) is taken in decimal, exactly 0.3
    for ((k, v) <- api)
      assert(v == graded(k), s"$k: $v vs ${graded(k)}")
  }

  test("dedupAudit matches a JVM precision/recall replay on a custom schema") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def lane(j: Int, toks: Set[String]): Long =
      toks.map(t => java.lang.Long.parseLong(
        md5hex(s"$j:$t").substring(0, 15), 16)).min
    val (bands, r) = (4, 2)
    val docs = posts.collect()
      .map(x => x.getLong(0) ->
        x.getString(1).split(" ").filter(_.nonEmpty).distinct.toSet)
    val truth = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      if (ta & tb).size * 3 >= ta.size + tb.size // J >= 0.5
    } yield (a, b)).toSet
    val cand = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      if (0 until bands).exists(bd => (0 until r).forall(k =>
        lane(bd * r + k, ta) == lane(bd * r + k, tb)))
    } yield (a, b)).toSet
    val tp = (truth & cand).size.toLong
    val row = Graft.dedupAudit(posts, "uid", "body",
      thresholdBp = 5000, bands = bands, rowsPerBand = r).collect().head
    assert(row.getLong(0) == truth.size.toLong)
    assert(row.getLong(1) == cand.size.toLong)
    assert(row.getLong(2) == tp)
    assert(row.getLong(3) ==
      (if (cand.nonEmpty) tp * 10000 / cand.size else 0L))
    assert(row.getLong(4) ==
      (if (truth.nonEmpty) tp * 10000 / truth.size else 0L))
  }

  test("dedupAudit delegates to the graded recall audit (fixture)") {
    val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
    val api = Graft.dedupAudit(docs, "doc_id", "text").collect().head
    val graded = SparkEntry.queries("q_lsh_recall")(spark, sf)
      .collect().head
    for (i <- 0 until 5)
      assert(api.getLong(i) == graded.getLong(i),
        s"col $i: ${api.getLong(i)} vs ${graded.getLong(i)}")
    // the sample knob composes with the audit: a 50% md5 doc sample
    // still emits one well-formed row with n_truth <= the full audit's
    val half = Graft.dedupAudit(docs, "doc_id", "text",
      sampleBp = 5000).collect().head
    assert(half.getLong(0) <= api.getLong(0))
    assert(half.getLong(2) <= half.getLong(0).max(half.getLong(1)))
  }

  // -- distributed rank / prefix sum --------------------------------------

  private lazy val scores = (0 until 500)
    .map(i => (i.toLong, ((i * 37) % 211).toLong, (i % 7 + 1).toLong))
    .toDF("id", "score", "w")

  test("distRank equals the serial row_number at any bucket count") {
    val serial = scores.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").asc, col("id").asc)).cast("long"))
      .collect().map(_.toSeq.mkString("|")).toSet
    for (b <- Seq(1, 7)) {
      spark.conf.set("spark.graft.rankBuckets", b.toString)
      try {
        val got = Graft.distRank(scores, col("score"), col("id"))
          .select("id", "score", "w", "rank")
          .collect().map(_.toSeq.mkString("|")).toSet
        assert(got == serial, s"B=$b diverged")
      } finally spark.conf.unset("spark.graft.rankBuckets")
    }
    // unset conf, fixture-scale input → serial path, same rows
    val auto = Graft.distRank(scores, col("score"), col("id"))
      .select("id", "score", "w", "rank")
      .collect().map(_.toSeq.mkString("|")).toSet
    assert(auto == serial)
  }

  test("prefixSum equals the serial window, global and partitioned") {
    import org.apache.spark.sql.expressions.Window
    val wg = Window.orderBy(col("score").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val serialG = scores.withColumn("prefix_sum",
        coalesce(sum("w").over(wg), lit(0L)))
      .collect().map(_.toSeq.mkString("|")).toSet
    val grouped = scores.withColumn("g", (col("id") % 3).cast("string"))
    val wp = Window.partitionBy("g")
      .orderBy(col("score").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val serialP = grouped.withColumn("prefix_sum",
        coalesce(sum("w").over(wp), lit(0L)))
      .select("id", "score", "w", "g", "prefix_sum")
      .collect().map(_.toSeq.mkString("|")).toSet
    spark.conf.set("spark.graft.rankBuckets", "7")
    try {
      val gotG = Graft.prefixSum(scores, col("score"), col("id"),
          col("w")).select("id", "score", "w", "prefix_sum")
        .collect().map(_.toSeq.mkString("|")).toSet
      assert(gotG == serialG, "global prefix sum diverged")
      val gotP = Graft.prefixSum(grouped, col("score"), col("id"),
          col("w"), parts = Seq("g"))
        .select("id", "score", "w", "g", "prefix_sum")
        .collect().map(_.toSeq.mkString("|")).toSet
      assert(gotP == serialP, "partitioned prefix sum diverged")
    } finally spark.conf.unset("spark.graft.rankBuckets")
  }

  // -- entity resolution ----------------------------------------------------

  test("entityMatch matches brute-force levenshtein d<=1 on a custom schema") {
    val people = Seq(
      (1L, "smith"), (2L, "smyth"),       // substitution, d=1
      (3L, "smiths"),                     // insertion vs 1, d=1
      (4L, "mith"),                       // deletion vs 1, d=1
      (5L, "jones"), (6L, "completely"))
      .toDF("pid", "pname")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = people.collect().map(r => r.getLong(0) -> r.getString(1))
    val brute = (for {
      (a, na) <- rows; (b, nb) <- rows if a < b
      d = lev(na, nb) if d <= 1
    } yield (a, b, d.toLong)).toSet
    val got = Graft.entityMatch(people, "pid", "pname")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"$got vs $brute")
    assert(got.contains((1L, 2L, 1L)) && got.contains((1L, 3L, 1L)) &&
      got.contains((1L, 4L, 1L)))
  }

  test("entityMatch auto-collapse engages on duplication, forceable") {
    val dense = Seq(
      (1L, "alpha"), (11L, "alpha"), (21L, "alpha"),
      (2L, "alphb"), (12L, "alphb"), (22L, "alphb"),
      (3L, "other"), (13L, "other"), (23L, "other"))
      .toDF("k", "n")
    // mean multiplicity 3 >= 2 → auto collapse: representative grain,
    // no d=0 trivia, the cross-name match once at min keys.
    val auto = Graft.entityMatch(dense, "k", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == Set((1L, 2L, 1L)))
    val forcedOff = Graft.entityMatch(dense, "k", "n", Some(false))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // raw grain: 3 d=0 pairs per name × 3 names + 9 cross alpha/alphb
    assert(forcedOff.count(_._3 == 0L) == 9)
    assert(forcedOff.count(_._3 == 1L) == 9)
    // unique-name input: auto stays off, Some(true) is identity anyway
    val people = Seq((1L, "smith"), (2L, "smyth")).toDF("k", "n")
    assert(Graft.entityMatch(people, "k", "n", Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
  }

  test("entityMatch agrees with the graded segment blocking (fixture)") {
    // q_entity_match uses fixed-width pigeonhole segments; the API uses
    // deletion-neighborhood blocking. Both are LOSSLESS for d<=1, so on
    // the fixture's BUILDING customers they must emit the same pairs —
    // the delegation cross-check (forced off: the graded query doesn't
    // collapse on the duplicate-free fixture either).
    val c = ops.t(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val api = Graft.entityMatch(c, "c_custkey", "c_name", Some(false))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val graded = SparkEntry.queries("q_entity_match")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(api == graded)
  }

  // -- decontamination --------------------------------------------------------

  test("contamination matches a brute-force n-gram overlap on custom schemas") {
    val train = Seq(
      (1L, "the quick brown fox jumps over"),
      (2L, "completely unrelated training text"),
      (3L, "shared phrase appears right here exactly"))
      .toDF("tid", "body")
    val heldout = Seq(
      (1L, "the quick brown fox leaps"),          // shares 3-grams w/ t1
      (9L, "shared phrase appears right here too"))
      .toDF("eid", "etext")
    def grams(t: String, n: Int) = t.toLowerCase.split(" ")
      .sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val tg = train.collect().map(r => r.getLong(0) -> grams(r.getString(1), 3))
    val eg = heldout.collect().map(r => r.getLong(0) -> grams(r.getString(1), 3))
    val brute = (for {
      (t, gs) <- tg
      hits = for { (e, hs) <- eg; g <- (gs & hs).toSeq } yield (e, g)
      if hits.nonEmpty
    } yield t -> (hits.map(_._2).distinct.size.toLong,
        hits.map(_._1).distinct.size.toLong, hits.size.toLong)).toMap
    val got = Graft.contamination(train, "tid", "body",
        heldout, "eid", "etext", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == brute, s"$got vs $brute")
    assert(got.contains(1L) && got.contains(3L) && !got.contains(2L))
  }

  test("contamination delegates to the graded core (fixture cross-check)") {
    val docs = ops.t(spark, sf, "documents")
    val api = Graft.contamination(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val graded = SparkEntry.queries("q_contamination")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(api == graded)
  }

  // -- curation -----------------------------------------------------------

  test("redactPii counts and masks emails/phones on a custom schema") {
    val msgs = Seq(
      (1L, "reach me at alice@example.com or bob@test.org thanks"),
      (2L, "call +1-555-1234 or +1-555-9999 now"),
      (3L, "nothing sensitive here"))
      .toDF("mid", "body")
    val got = Graft.redactPii(msgs, "body").collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3),
        r.getString(4))).toMap
    assert(got(1L)._1 == 2 && got(1L)._2 == 0)
    assert(got(1L)._3 ==
      "reach me at <EMAIL> or <EMAIL> thanks")
    assert(got(2L) == ((0, 2, "call <PHONE> or <PHONE> now")))
    assert(got(3L) == ((0, 0, "nothing sensitive here")))
  }

  test("redactPii delegates to the graded patterns (fixture cross-check)") {
    // rebuild the graded query's synthetic raw column, run the API core
    // over it, and re-aggregate — must equal q_pii_redact's rows.
    val raw = ops.t(spark, sf, "documents")
      .withColumn("raw", concat(
        col("text"), lit(" contact user"), col("doc_id"), lit("@"),
        col("source"), lit(".net tel +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
    val api = Graft.redactPii(raw, "raw")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_emails")).cast("long").as("e"),
        sum(col("n_phones")).cast("long").as("p"),
        sum(length(col("raw")) - length(col("redacted"))).cast("long")
          .as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val graded = SparkEntry.queries("q_pii_redact")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(api == graded)
  }

  test("chunk windows any text with stride overlap; graded cross-check") {
    val one = Seq((7L, "a b c d e f g")).toDF("k", "s")
    val got = Graft.chunk(one, "k", "s", chunkTokens = 3,
        strideTokens = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == Set((0L, 3L, "a b c"), (1L, 3L, "c d e"),
      (2L, 3L, "e f g"), (3L, 1L, "g")))
    // fixture: the (16, 8) parametrization IS the graded query
    val docs = ops.t(spark, sf, "documents").filter(col("doc_id") < 50)
    val api = Graft.chunk(docs, "doc_id", "text", 16, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val graded = SparkEntry.queries("q_chunk_docs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(api == graded)
  }

  // -- deterministic sampling ---------------------------------------------

  test("sampleDeterministic is stable, monotone in bp, and unbiased-ish") {
    val ids = (0 until 2000).map(_.toLong).toDF("id")
    val k25 = Graft.sampleDeterministic(ids, "id", 2500)
      .collect().map(_.getLong(0)).toSet
    val k50 = Graft.sampleDeterministic(ids, "id", 5000)
      .collect().map(_.getLong(0)).toSet
    assert(k25.subsetOf(k50), "lower bp must be a subset of higher bp")
    assert(Graft.sampleDeterministic(ids, "id", 10000).count() == 2000)
    assert(Graft.sampleDeterministic(ids, "id", 0).count() == 0)
    val p = k50.size / 2000.0
    assert(math.abs(p - 0.5) < 5 * math.sqrt(0.25 / 2000),
      s"keep rate $p outside binomial bounds of 0.5")
    // determinism: a second evaluation returns the identical set
    val again = Graft.sampleDeterministic(ids, "id", 2500)
      .collect().map(_.getLong(0)).toSet
    assert(again == k25)
  }

  // -- heap-based per-group top-k -----------------------------------------

  test("topkPerGroup matches the sort spelling on a custom schema") {
    // deterministic synthetic rows: 4 groups × 50 rows with hash-mixed
    // values (ties impossible: seq is unique and breaks rank order)
    val rows = (0 until 200).map { i =>
      (s"g${i % 4}", i.toLong, ((i * 2654435761L) % 1000).toDouble)
    }
    val df = rows.toDF("grp", "seq", "score")
    val got = Graft.topkPerGroup(df, Seq("grp"), "score", "seq", 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expect = rows.groupBy(_._1).values.flatMap { g =>
      g.sortBy(r => (-r._3, r._2)).take(5)
    }.map(r => (r._1, r._2)).toSet
    assert(got == expect)
    assert(got.size == 20, "4 groups x k=5 winners")
    // k larger than any group passes everything through
    assert(Graft.topkPerGroup(df, Seq("grp"), "score", "seq", 100)
      .count() == 200)
    // the scores SQL ordering treats specially, against the window
    // spelling itself: -0.0 equals 0.0 (the tie id decides), NaN ranks
    // first and ties among NaNs, null ranks last (DESC NULLS LAST)
    val edge = Seq[(String, Long, java.lang.Double)](
      ("zero", 2L, 0.0), ("zero", 1L, -0.0), ("zero", 3L, -0.0),
      ("nan", 5L, Double.NaN), ("nan", 4L, Double.NaN), ("nan", 6L, 1.0),
      ("null", 7L, null), ("null", 9L, 0.5), ("null", 8L, null))
      .toDF("grp", "seq", "score")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(col("score").desc, col("seq").asc)
    for (k <- 1 to 3) {
      val heap = Graft.topkPerGroup(edge, Seq("grp"), "score", "seq", k)
        .select("grp", "seq", "rank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val window = edge.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k).select("grp", "seq", "rank").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(heap == window, s"k=$k")
      assert(heap.size == 3 * k)
    }
    assert(Graft.topkPerGroup(edge, Seq("grp"), "score", "seq", 1)
      .filter(col("grp") === "zero").select("seq").head.getLong(0) == 1L,
      "-0.0 and 0.0 tie, so the smaller seq wins")
  }

  test("topkPerGroup delegates to the graded operator (fixture cross-check)") {
    val base = ops.t(spark, sf, "events")
      .select("event_type", "event_id", "value")
    val got = Graft.topkPerGroup(base, Seq("event_type"), "value",
        "event_id", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val graded = SparkEntry.queries("q_topk_custom")(spark, sf)
      .select("event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == graded)
  }

  test("topkPerGroup fails loudly on a missing column") {
    val df = Seq(("a", 1L, 2.0)).toDF("g", "i", "v")
    val e = intercept[RuntimeException] {
      Graft.topkPerGroup(df, Seq("nope"), "v", "i", 2)
    }
    assert(e.getMessage.contains("not found"))
  }

  test("sessionize assigns gap-based ids on a custom epoch-micros schema") {
    // two devices; device A has gaps of 10s, 400s, 5s → sessions
    // 1,1,2,2; device B one event → session 1. gap = 60s.
    val rows = Seq(
      ("devA", 1_000_000L, 1L), ("devA", 11_000_000L, 2L),
      ("devA", 411_000_000L, 3L), ("devA", 416_000_000L, 4L),
      ("devB", 5_000_000L, 5L))
    val df = rows.toDF("device", "at_us", "seq")
    val got = Graft.sessionize(df, "device", "at_us", 60L, "seq")
      .collect().map(r => (r.getString(0), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(("devA", 1L, 1L), ("devA", 2L, 1L),
      ("devA", 3L, 2L), ("devA", 4L, 2L), ("devB", 5L, 1L)))
    // equal timestamps: the tie column keeps ids deterministic
    val ties = Seq(("x", 0L, 2L), ("x", 0L, 1L), ("x", 100_000_000L, 3L))
      .toDF("k", "us", "i")
    val t2 = Graft.sessionize(ties, "k", "us", 60L, "i")
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(t2 == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("sessionize delegates to the graded sessionization (fixture)") {
    val sessions = Graft.sessionize(
        ops.t(spark, sf, "events").withColumn("us", unix_micros(col("ts"))),
        "user_id", "ts", 1800L, "event_id")
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val graded = SparkEntry.queries("q_events_session")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(sessions == graded)
    assert(sessions.nonEmpty)
  }

  // -- composed incremental dedup (round-15 item 1) ------------------------

  private def labelSet(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Boolean)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  private def bandSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("dedupIncremental: two-day chain equals the full recluster") {
    val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
      .select("doc_id", "text")
    val day0 = docs.filter(col("doc_id") % 10 < 6)
    val day1 = docs.filter(col("doc_id") % 10 === 7)
    val day2 = docs.filter(col("doc_id") % 10 === 8)
    val bands0 = Graft.minhashBandRows(day0, "doc_id", "text")
    val labels0 = Graft.minhashClusters(day0, "doc_id", "text")
    val (l1, b1) = Graft.dedupIncremental(labels0, bands0, day1,
      "doc_id", "text")
    // day 1 already equals its full recluster — both sides of the state
    assert(labelSet(l1) == labelSet(
      Graft.minhashClusters(day0.unionAll(day1), "doc_id", "text")))
    assert(bandSet(b1) == bandSet(
      Graft.minhashBandRows(day0.unionAll(day1), "doc_id", "text")))
    // day 2 chains on day 1's RETURNED state — the feed-back contract
    val (l2, b2) = Graft.dedupIncremental(l1, b1, day2, "doc_id", "text")
    val union = day0.unionAll(day1).unionAll(day2)
    assert(labelSet(l2) == labelSet(
      Graft.minhashClusters(union, "doc_id", "text")))
    assert(bandSet(b2) == bandSet(
      Graft.minhashBandRows(union, "doc_id", "text")))
    assert(labelSet(l2).nonEmpty)
  }

  test("dedupIncremental: batch-internal duplicates cluster without " +
      "any standing match") {
    // two brand-new near-identical docs sharing NO tokens with the
    // standing corpus: the cross join alone would miss them — the
    // batch self-join is what clusters them
    val standing = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "qux quux corge grault"),
      (11L, "qux quux corge grault")).toDF("doc_id", "text")
    val (labels, bands) = Graft.dedupIncremental(
      Graft.minhashClusters(standing, "doc_id", "text"),
      Graft.minhashBandRows(standing, "doc_id", "text"),
      batch, "doc_id", "text")
    val m = labels.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(m(10L) == (10L, true) && m(11L) == (10L, false))
    assert(bandSet(bands) == bandSet(Graft.minhashBandRows(
      standing.unionAll(batch), "doc_id", "text")))
  }

  test("dedupIncremental: incompatible banding fails loudly") {
    val standing = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val bands0 = Graft.minhashBandRows(standing, "doc_id", "text", 8, 2)
    val labels0 = Graft.minhashClusters(standing, "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Graft.dedupIncremental(labels0, bands0,
        Seq((2L, "alpha beta")).toDF("doc_id", "text"),
        "doc_id", "text", bands = 4, rowsPerBand = 4)
    }
    assert(e.getMessage.contains("rowsPerBand"))
  }
}
