package graft

import org.apache.spark.sql.functions._
import graft.api.Graft

/** Round-15 gate: (1) the warehouse-sweep ownership fix — the pid is
  * read ONLY from the dirTag field, so hex-hash digit runs (which
  * almost always match a boot-time pid) can no longer keep every dead
  * dir alive (round-14 advice, FileFormats.tagPidOf); (2) thresholdBp
  * honored on [[Graft.dedupClusters]]' routed tier via the 16-lane
  * banding ladder (verdict item 2 — mapping, breadcrumb, per-rung
  * recall bounds); (3) the tiny-dict carve-out: a mask-group-sized
  * vocabulary stays on the exact tier at ANY density (round-14
  * advice — that path never enumerates candidates). */
class Round15GateSpec extends SparkSpec {

  // ---- (1) warehouse-sweep ownership ------------------------------------

  test("tagPidOf reads ONLY the dirTag pid field, never hash digits") {
    import graft.sources.FileFormats.tagPidOf
    // the three live name shapes: orders/customer and the bands table
    // with trailing bp/nb fields — pid is the token right after the
    // 12-hex hash in all of them
    assert(tagPidOf("graft_orders_b0123456789ab_4242") == Some("4242"))
    assert(tagPidOf("graft_customer_bdeadbeef1234_987") == Some("987"))
    assert(tagPidOf("graft_bands_b0123456789ab_4242_80_8") == Some("4242"))
    // hash digit runs ('1', '23', …) must NOT read as an owner: this
    // name's hash contains pid-1-looking runs but carries no pid field
    assert(tagPidOf("graft_orders_b1a2b3c4d5e6f") == None)
    // legacy pre-pid names carry no owner and are reaped
    assert(tagPidOf("graft_orders_bucketed") == None)
    assert(tagPidOf("graft_tmp") == None)
    // an all-digit hash field still anchors on the 12-char run, so the
    // pid is the NEXT token, not a slice of the hash
    assert(tagPidOf("graft_x_b123456789012_55") == Some("55"))
  }

  // ---- (2) the routed-tier banding ladder --------------------------------

  test("routedBandingFor: ladder mapping matches the closed form") {
    // rung thresholds (1/b)^(1/r): 0.0625 / 0.354 / 0.707 / 0.917 —
    // nearest wins, ties to more bands (higher recall)
    assert(Graft.routedBandingFor(500) == (16, 1))
    assert(Graft.routedBandingFor(1500) == (16, 1))
    assert(Graft.routedBandingFor(2500) == (8, 2))
    assert(Graft.routedBandingFor(3536) == (8, 2))
    assert(Graft.routedBandingFor(5000) == (8, 2))
    assert(Graft.routedBandingFor(6000) == (4, 4))
    assert(Graft.routedBandingFor(8000) == (4, 4)) // the default cut
    assert(Graft.routedBandingFor(9000) == (2, 8))
    assert(Graft.routedBandingFor(10000) == (2, 8))
    // bands are monotonically non-increasing in the threshold — a
    // higher cut never gets a LOOSER banding
    val bs = (1 to 100).map(i => Graft.routedBandingFor(i * 100)._1)
    assert(bs.zip(bs.tail).forall { case (a, b) => a >= b })
    // every rung spends the same 16-lane signature budget
    (1 to 100).map(i => Graft.routedBandingFor(i * 100))
      .foreach { case (b, r) => assert(b * r == 16) }
  }

  test("routed tier honors a non-default thresholdBp (verdict item 2)") {
    val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
      .select("doc_id", "text")
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val s2 = spark.newSession()
    // the fixture vocabulary fits a 64-bit mask; disable both mask
    // tiers so the density gate actually routes (same rationale as the
    // Round14GateSpec routing pin)
    s2.conf.set("spark.graft.dedupClusterMaxCandPerDoc", "1")
    s2.conf.set("spark.graft.pairNljMaxDocs", "1")
    s2.conf.set("spark.graft.maskGroupMaxDict", "0")
    val routed = labels(Graft.dedupClusters(
      ops.t(s2, sf, "documents").filter(col("lang") === "en")
        .select("doc_id", "text"),
      "doc_id", "text", thresholdBp = 9000))
    // 9000bp → the (2,8) rung, recorded in the breadcrumb and
    // set-identical to the explicit sketch-tier call at that banding
    assert(s2.conf.get("spark.graft.lastDedupRoute")
      .startsWith("sketch(2,8):"))
    assert(routed == labels(
      Graft.minhashClusters(docs, "doc_id", "text", 2, 8)))
  }

  test("per-rung recall bounds: strong pairs survive every rung") {
    // exact pairs WITH their Jaccard, down to 0.5 so the low rungs have
    // strong pairs to find; per rung, any pair whose closed-form
    // collision probability 1-(1-J^r)^b is ≥0.99 should be a candidate
    // (md5 lanes are deterministic — this is a fixed-fixture pin, not a
    // statistical flake)
    val docs = ops.t(spark, sf, "documents").filter(col("lang") === "en")
      .select("doc_id", "text")
    val exact = Graft.nearDupPairs(docs, "doc_id", "text", 5000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getLong(2) / 10000.0)).toMap
    assert(exact.nonEmpty)
    for ((b, r) <- Seq((16, 1), (8, 2), (4, 4), (2, 8))) {
      val strong = exact.filter { case (_, j) =>
        1.0 - math.pow(1.0 - math.pow(j, r), b) >= 0.99
      }.keySet
      if (strong.nonEmpty) {
        val got = Graft.minhashCandidates(docs, "doc_id", "text", b, r)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        val recall = strong.count(got.contains).toDouble / strong.size
        assert(recall >= 0.9,
          s"rung ($b,$r): recall $recall over ${strong.size} strong pairs")
      }
    }
  }

  // ---- storage-partitioned join (verdict item 4) --------------------------

  test("q_join_spj: SPJ plans with no shuffle exchange on either side") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = graft.sources.FileFormats.qJoinSpj(spark, sf)
    val plan = flattenPlan(df.queryExecution.executedPlan)
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "SPJ twin lost its sort-merge join shape")
    // BOTH join subtrees: DSv2 scans reporting KeyGroupedPartitioning,
    // zero exchanges — the aggregation above the join still shuffles on
    // c_nationkey, which is why the assert scopes to the join children
    val sides = smj.head.children.map(flattenPlan)
    assert(sides.length == 2)
    for (side <- sides) {
      assert(side.collect { case b: BatchScanExec => b }.nonEmpty,
        "join side is not a DSv2 batch scan")
      assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "storage-partitioned join side paid a shuffle exchange")
    }
    // correctness: equals the plain custkey join on the originals
    val got = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.ops.orderedAll(
        ops.t(spark, sf, "orders")
          .join(ops.t(spark, sf, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            graft.ops.dsum(col("o_totalprice")).as("total")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  // ---- parquet bloom-filter point lookup (§2.119) --------------------------

  test("q_parquet_bloom: filter written, pushed, and negative on " +
      "foreign keys") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val df = graft.sources.FileFormats.qParquetBloom(spark, sf)
    // read-side: the IN predicate must reach the parquet reader — a
    // post-scan Filter would make the Bloom filter dead weight
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.metadata("PushedFilters").contains("In(l_partkey"),
      s"IN not pushed: ${scans.head.metadata("PushedFilters")}")
    // write-side: open the SAME files' footers — every row group must
    // carry a Bloom filter on l_partkey, present keys must probe
    // positive, and a key no fixture contains must probe negative
    // (the "definitely not here" skip answer)
    val pFiles = new java.io.File(
        graft.sources.FileFormats.bloomParquetPath(spark, sf))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(pFiles.nonEmpty)
    var groups = 0
    for (f <- pFiles) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration()))
      try {
        import scala.jdk.CollectionConverters._
        for (block <- r.getFooter.getBlocks.asScala) {
          groups += 1
          val colMeta = block.getColumns.asScala
            .find(_.getPath.toDotString == "l_partkey").get
          val bloom = r.getBloomFilterDataReader(block)
            .readBloomFilter(colMeta)
          assert(bloom != null, s"no bloom filter in ${f.getName}")
          assert(!bloom.findHash(bloom.hash(-424242L)),
            "foreign key probed positive — filter is not selective")
        }
      } finally r.close()
    }
    assert(groups > 0)
    // correctness: equals the same roll-up on the original table
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.ops.orderedAll(ops.t(spark, sf, "lineitem")
        .filter(col("l_partkey").isin(1L, 2L, 3L))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          graft.ops.dsum(col("l_extendedprice")).as("total")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  // ---- parquet aggregate pushdown (§2.120) ---------------------------------

  test("q_agg_pushdown: COUNT/MIN/MAX answered from footer statistics") {
    val df = graft.sources.FileFormats.qAggPushdown(spark, sf)
    // the DSv2 scan must carry the pushed aggregation — otherwise the
    // "footer-stats" claim silently degrades to a full row scan
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        => b
    }
    assert(scans.nonEmpty, "aggregate-pushdown twin lost its DSv2 scan")
    val scanStr = scans.head.toString
    assert(scanStr.contains("PushedAggregation: [COUNT("),
      s"aggregation not pushed: ${scanStr.take(300)}")
    assert(scanStr.contains("MIN(l_quantity)") &&
      scanStr.contains("MAX(l_orderkey)"), scanStr.take(300))
    // and the footer answer equals the slow row-scan answer
    val got = df.collect().head
    val want = graft.ops.orderedAll(ops.t(spark, sf, "lineitem")
      .agg(count(lit(1)).as("n"),
        min(col("l_quantity")).as("qmin"),
        max(col("l_quantity")).as("qmax"),
        min(col("l_orderkey")).as("okmin"),
        max(col("l_orderkey")).as("okmax"))).collect().head
    assert(got == want)
    assert(got.getLong(0) > 0)
  }

  // ---- ccIncremental broadcast bound (round-14 advice) --------------------

  test("ccIncremental shuffle fallback equals the broadcast path") {
    import spark.implicits._
    val p1 = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (20L, 21L))
      .toDF("u", "v")
    val p2 = Seq((6L, 7L), (30L, 31L), (31L, 21L)).toDF("u", "v")
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      val st = Graft.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (20L, 21L))
          .toDF("u", "v"), "u", "v")
      Graft.connectedComponentsIncremental(st, "node_id", "component_id",
          Seq((6L, 7L), (30L, 31L), (31L, 21L)).toDF("u", "v"), "u", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    }
    val viaBroadcast = run(spark)
    val s2 = spark.newSession()
    // ≤0 never broadcasts: every endpoint/remap join becomes a plain
    // shuffle join — the path a batch above the 5M-endpoint default
    // takes so it cannot OOM the driver
    s2.conf.set("spark.graft.ccIncBroadcastMaxEndpoints", "0")
    assert(run(s2) == viaBroadcast)
    assert(viaBroadcast ==
      Graft.connectedComponents(p1.unionAll(p2), "u", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
  }

  // ---- (3) the tiny-dict exact carve-out ---------------------------------

  test("mask-group-sized vocabulary stays exact at lethal density") {
    import spark.implicits._
    // 10-token vocabulary, 200 docs of 3 tokens each → every token's
    // df ≈ 60, candidate estimate ≈ 10·C(60,2)/200 ≫ a floor of 1, yet
    // the exact tier sends this to a 64-bit-mask tier (the mask NLJ;
    // mask grouping above the NLJ cutoff) — routing it to the lossy
    // sketch tier would trade a cheap exact answer for a probabilistic
    // one (round-14 advice)
    def corpus(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (0 until 200).map { i =>
        (i.toLong, s"w${i % 10} w${(i + 3) % 10} w${(i + 7) % 10}")
      }.toDF("doc_id", "text")
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.dedupClusterMaxCandPerDoc", "1")
    val auto = Graft.dedupClusters(corpus(s2), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s2.conf.get("spark.graft.lastDedupRoute").endsWith(":masknlj"))
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.dedupClusterMaxCandPerDoc", "0")
    val exact = Graft.dedupClusters(corpus(s3), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == exact)
    assert(auto.nonEmpty)
    val s4 = spark.newSession()
    s4.conf.set("spark.graft.dedupClusterMaxCandPerDoc", "1")
    s4.conf.set("spark.graft.pairNljMaxDocs", "1")
    val grouped = Graft.dedupClusters(corpus(s4), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s4.conf.get("spark.graft.lastDedupRoute").endsWith(":maskgroup"))
    assert(grouped == exact)
  }
}
