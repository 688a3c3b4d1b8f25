package graft

import org.apache.spark.sql.functions._
import graft.api.Graft

/** Round-14 item 2: the conf-FREE density routing in
  * [[graft.api.Graft.dedupClusters]]. The exact tier is
  * candidate-enumeration-bound (Σ_token C(df,2) joined rows) and
  * exhausts shuffle disk at the measured 100×-salted density; the auto
  * gate probes that estimate per doc and routes to the banded sketch
  * tier (MinHash (8,2) bucket-star CC) above
  * `spark.graft.dedupClusterMaxCandPerDoc`. Pins, per the r12 auto-gate
  * pattern: (a) below the floor the auto path IS the exact path, row
  * for row; (b) above the floor the routed output equals the explicit
  * sketch-tier call ([[Graft.minhashClusters]] — bucket-star components
  * are set-identical to the candidate-pair graph's); (c) ≤0 disables
  * routing at any density. */
class Round14GateSpec extends SparkSpec {

  private def labelSet(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Boolean)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  private def fixtureDocs(s: org.apache.spark.sql.SparkSession) =
    ops.t(s, sf, "documents").filter(col("lang") === "en")
      .select("doc_id", "text")

  test("dedupClusters auto gate: graded-SF density stays on the exact tier") {
    // default floor 1e6 cand/doc; the fixture sits orders of magnitude
    // under it, so auto must be byte-equal to the force-disabled call
    val auto = labelSet(Graft.dedupClusters(fixtureDocs(spark),
      "doc_id", "text"))
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.dedupClusterMaxCandPerDoc", "0")
    val exact = labelSet(Graft.dedupClusters(fixtureDocs(s2),
      "doc_id", "text"))
    assert(auto == exact)
    assert(auto.nonEmpty)
  }

  test("dedupClusters auto gate: above the floor routes to the sketch tier") {
    val s2 = spark.newSession()
    // floor of 1 cand/doc: any corpus with shared tokens exceeds it.
    // The fixture's vocabulary fits a 64-bit mask, so the r15 tiny-dict
    // carve-out would keep it exact at any floor — disable both mask
    // tiers so this test still exercises the ROUTING path (both tiers
    // read the same conf, so the exact dispatch stays consistent).
    s2.conf.set("spark.graft.dedupClusterMaxCandPerDoc", "1")
    s2.conf.set("spark.graft.pairNljMaxDocs", "1")
    s2.conf.set("spark.graft.maskGroupMaxDict", "0")
    val routed = labelSet(Graft.dedupClusters(fixtureDocs(s2),
      "doc_id", "text"))
    // the explicit sketch-tier call on an ungated session at the
    // LADDER rung for the default 8000bp cut — (4,4), r15 item 2:
    // bucket-star CC components are set-identical to the LSH
    // candidate-pair graph's
    val (b, r) = Graft.routedBandingFor(8000)
    assert((b, r) == (4, 4))
    val sketch = labelSet(Graft.minhashClusters(fixtureDocs(spark),
      "doc_id", "text", b, r))
    assert(routed == sketch)
    assert(routed.nonEmpty)
    assert(s2.conf.get("spark.graft.lastDedupRoute")
      .startsWith("sketch(4,4):"))
    // output-contract invariants hold on the routed path too: the
    // cluster id is a member of its own cluster, and keep marks exactly
    // the min-id representative
    val ids = routed.map(_._1)
    assert(routed.forall { case (n, cid, keep) =>
      cid <= n && ids.contains(cid) && keep == (n == cid)
    })
  }

  test("dedupClusters validates thresholdBp on EVERY tier") {
    // the routed path returns before nearDupPairs' require would run;
    // the up-front guard must fire even when the gate would route
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.dedupClusterMaxCandPerDoc", "1")
    val e = intercept[IllegalArgumentException] {
      Graft.dedupClusters(fixtureDocs(s2), "doc_id", "text",
        thresholdBp = -5)
    }
    assert(e.getMessage.contains("thresholdBp"))
  }

  // ---- incremental connected components (round-14 item 5) --------------

  test("ccIncremental == full recluster on a hand-built merge battery") {
    import spark.implicits._
    // standing: {1,2,3}, {5,6}, {7,8}, {20,21}
    val p1 = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (20L, 21L))
      .toDF("u", "v")
    // batch exercises every case: old-old cross-component merge (6→7),
    // old-old same-component no-op (1→3), new-new (30→31), new-old
    // (31→21, chaining the new pair into a standing component),
    // isolated new self-pair (40,40), duplicate + reversed edges
    val p2 = Seq((6L, 7L), (1L, 3L), (30L, 31L), (31L, 21L), (40L, 40L),
      (7L, 6L), (6L, 7L)).toDF("u", "v")
    val standing = Graft.connectedComponents(p1, "u", "v")
    val inc = Graft.connectedComponentsIncremental(
      standing, "node_id", "component_id", p2, "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val full = Graft.connectedComponents(p1.unionAll(p2), "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(inc == full)
    // spot-check the semantics directly: {5,6,7,8} merged, 30/31 joined
    // the {20,21} component, 40 is its own singleton
    val m = inc.map(t => t._1 -> t._2).toMap
    assert(m(7L) == 5L && m(8L) == 5L && m(30L) == 20L && m(31L) == 20L
      && m(40L) == 40L && m(1L) == 1L)
  }

  test("ccIncremental == full recluster on the fixture near-dup graph") {
    // split the graded fixture's near-dup pairs into a standing half and
    // an arrival half on a hash of the pair — the daily-ingest shape
    val pairs = SparkEntry.queries("q_dedup_near")(spark, sf)
      .select("a_id", "b_id")
    val standingPairs = pairs.filter(xxhash64(col("a_id"), col("b_id")) % 2
      === 0)
    val batchPairs = pairs.filter(xxhash64(col("a_id"), col("b_id")) % 2
      =!= 0)
    val standing = Graft.connectedComponents(standingPairs, "a_id", "b_id")
    val inc = Graft.connectedComponentsIncremental(
      standing, "node_id", "component_id", batchPairs, "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val full = Graft.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("ccIncremental changedOnly emits exactly the rows that moved") {
    import spark.implicits._
    val p1 = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (20L, 21L))
      .toDF("u", "v")
    val p2 = Seq((6L, 7L), (1L, 3L), (30L, 31L), (31L, 21L), (40L, 40L))
      .toDF("u", "v")
    val standing = Graft.connectedComponents(p1, "u", "v")
    val delta = Graft.connectedComponentsIncremental(standing, "node_id",
        "component_id", p2, "u", "v", changedOnly = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    // moved: 7,8 (7→5 merge); fresh: 30,31 (→20), 40 (→40). NOT moved:
    // 1,2,3 (no-op edge), 5,6 (absorbing side keeps its id), 20,21
    assert(delta == Set((7L, 5L, false), (8L, 5L, false),
      (30L, 20L, false), (31L, 20L, false), (40L, 40L, true)))
    // overlaying the delta on the standing table reproduces the full
    // incremental output — the MERGE contract
    val full = Graft.connectedComponentsIncremental(standing, "node_id",
        "component_id", p2, "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val standingRows = standing.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val overlay = standingRows.filterNot(s =>
      delta.exists(_._1 == s._1)).toSet ++ delta
    assert(overlay == full)
  }

  test("ccIncremental no-op and empty batches leave labels unchanged") {
    import spark.implicits._
    val p1 = Seq((1L, 2L), (5L, 6L)).toDF("u", "v")
    val standing = Graft.connectedComponents(p1, "u", "v")
    val want = standing.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // batch whose edges are all internal to standing components
    val noop = Seq((1L, 2L), (2L, 1L)).toDF("u", "v")
    val got = Graft.connectedComponentsIncremental(standing, "node_id",
        "component_id", noop, "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(got == want)
    // fully empty batch
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    val got2 = Graft.connectedComponentsIncremental(standing, "node_id",
        "component_id", empty, "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(got2 == want)
    // and the deltas are empty in both cases
    assert(Graft.connectedComponentsIncremental(standing, "node_id",
      "component_id", noop, "u", "v", changedOnly = true).count() == 0)
    assert(Graft.connectedComponentsIncremental(standing, "node_id",
      "component_id", empty, "u", "v", changedOnly = true).count() == 0)
  }

  test("ccIncremental guards: truncating or null ids fail loudly") {
    import spark.implicits._
    val standing = Graft.connectedComponents(
      Seq((1L, 2L)).toDF("u", "v"), "u", "v")
    val fracBatch = Seq((1.9, 7.0)).toDF("u", "v")
    val e = intercept[Exception] {
      Graft.connectedComponentsIncremental(standing, "node_id",
        "component_id", fracBatch, "u", "v").collect()
    }
    def says(t: Throwable, s: String): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(s)) ||
        says(t.getCause, s))
    assert(says(e, "not losslessly long-castable"))
  }
}
