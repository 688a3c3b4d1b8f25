package graft

/** Smoke layer: every declared query builds, executes, and returns a sane
  * shape on sf0.001. Queries whose sf0.001 result is legitimately empty
  * (no duplicate texts exist there; the HAVING threshold is calibrated for
  * sf0.01) are exempted from the rows>0 check but still must execute. */
class QueriesSpec extends SparkSpec {

  private val mayBeEmpty = Set("q_agg_having")

  test("queries and oracleSql keys line up") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql(sf).keySet
    assert(o.subsetOf(q), s"oracle without query: ${o.diff(q)}")
    val omitted = q.diff(o)
    // q_dedup_minhash/q_ann_lsh graduated to full oracle checks in round 6,
    // q_dedup_simhash/q_dedup_minhash_agg in round 7 (engine-portable
    // md5 lane hashes / nibble votes), q_source_binary in round 9
    // (read_blob + uppercase-hex md5), and q_ann_ivf in round 11 (md5
    // seed rank + decimal-sum Lloyd means mirrored as a DuckDB CTE
    // chain). What remains is legitimately engine-specific: approx
    // sketches, the HLL estimate, and the mapPartitions multimodal
    // plumbing.
    assert(omitted == Set("q_approx_distinct", "q_hll_custom",
      "q_approx_percentile",
      "q_multimodal_features", "q_multimodal_resize", "q_multimodal_frames"),
      s"unexpected oracle omissions: $omitted")
  }

  test("q_source_binary's oracle reads the checked dir, spelled absolute") {
    // DuckDB resolves a relative path against its own working directory
    val abs = java.nio.file.Paths.get("data/sf9").toAbsolutePath.toString
    for (dir <- Seq("data/sf9", "data/sf9/", "./data/x/../sf9"))
      assert(SparkEntry.oracleSql(dir)("q_source_binary")
        .contains(s"read_blob('$abs/*.parquet')"), dir)
  }

  test("entry() is non-empty") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name executes on sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }
}
