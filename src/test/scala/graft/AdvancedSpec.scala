package graft

import org.apache.spark.sql.functions._

/** Behavior checks for the round-2 operators (subqueries, salting, IVF,
  * quantization, deterministic sampling, partitioned sink). */
class AdvancedSpec extends SparkSpec {

  test("q_join_salted equals the unsalted join") {
    import graft.ops._
    val plain = t(spark, sf, "orders")
      .join(t(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val salted = SparkEntry.queries("q_join_salted")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("q_sample_det is deterministic and near the 1/16 rate") {
    val a = SparkEntry.queries("q_sample_det")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("q_sample_det")(spark, sf).collect().toSeq
    assert(a == b)
    val sampled = a.map(_.getLong(1)).sum.toDouble
    val total = Tables.table(spark, sf, "lineitem").count().toDouble
    val rate = sampled / total
    assert(rate > 1.0 / 32 && rate < 1.0 / 8, s"sample rate $rate")
  }

  test("q_cte_recursive spans exactly months 1..12") {
    val rows = SparkEntry.queries("q_cte_recursive")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 12))
    assert(rows.map(_.getLong(1)).sum ==
      Tables.table(spark, sf, "orders").count())
  }

  test("q_vector_quantize: int8 range, max lane hits ±127") {
    val rows = SparkEntry.queries("q_vector_quantize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    assert(rows.forall { case (_, q) => q >= -128 && q <= 127 })
    // the max-|v| lane of each vector quantizes to ±127 (|v| == mx; the
    // extreme lane may be negative)
    val perVec = rows.groupBy(_._1)
      .map { case (_, qs) => qs.map(q => math.abs(q._2)).max }
    assert(perVec.forall(_ == 127))
  }

  test("q_ann_ivf: true cosines, and decent recall vs exact knn") {
    val exact = SparkEntry.queries("q_knn_cosine")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    info(s"IVF recall@5 = $recall")
    // the synthetic corpus is near-uniform on the sphere (the hardest
    // case for any clustering index): nprobe=3 of 16 searches ~19% of
    // the corpus, so random pruning would give ~0.19 recall; the
    // measured 0.44 shows the inverted lists carry real signal. Bound
    // set below the measurement, above the random floor.
    assert(recall >= 0.35, s"recall $recall")
  }

  test("q_sink_partitioned prunes to the purchase partition") {
    // inputFiles lists the relation's files BEFORE pruning; the partition
    // filter lives on the physical scan node.
    val df = SparkEntry.queries("q_sink_partitioned")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.exists(
      _.toString.contains("event_type"))),
      s"no partition filter on scan: ${scans.map(_.metadata.get("PartitionFilters")).mkString(";")}")
  }

  test("q_join_bucketed: no shuffle exchange below the join") {
    val df = SparkEntry.queries("q_join_bucketed")(spark, sf)
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.nonEmpty, "expected a sort-merge join over bucketed tables")
    val exchangesBelow = joins.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    })
    assert(exchangesBelow.isEmpty,
      s"bucketed join still shuffles: ${exchangesBelow.mkString(";")}")
  }

  test("q_approx_percentile within 2% of exact percentiles") {
    val exact = SparkEntry.queries("q_percentile")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = SparkEntry.queries("q_approx_percentile")(spark, sf)
      .collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (p50, p90) = exact(r.getString(0))
      assert(math.abs(r.getDouble(1) - p50) / p50 < 0.02)
      assert(math.abs(r.getDouble(2) - p90) / p90 < 0.02)
    }
  }

  test("q_dedup_clusters matches driver-side union-find components") {
    val pairs = SparkEntry.queries("q_dedup_near")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val got = SparkEntry.queries("q_dedup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
    assert(got.nonEmpty)
    assert(got.map(_._1).toSet == expected.keySet)
    got.foreach { case (doc, (cluster, keep)) =>
      assert(cluster == expected(doc), s"doc $doc")
      assert(keep == (doc == cluster))
    }
  }

  test("q_dedup_clusters: reliable checkpoint mode gives identical output") {
    // Cluster-durable variant: loop state goes through reliable
    // checkpoint() (survives executor loss) instead of localCheckpoint
    // (executor-storage blocks). Same lineage truncation, same result.
    val default = SparkEntry.queries("q_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val reliable = SparkEntry.queries("q_dedup_clusters")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(reliable.sameElements(default))
      // loop state went through named parquet slots under the ckpt dir
      // (namespaced by the session's id in the pin registry)
      val base = new java.io.File(ops.Pins.slotDir(spark))
      val slots = Option(base.list()).map(_.toSet).getOrElse(Set.empty)
      assert(Set("cc_pairs", "cc_edges", "cc_labels_0").subsetOf(slots),
        s"$slots")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("q_subquery_exists equals semi-minus-anti set") {
    import graft.ops._
    val c = t(spark, sf, "customer")
    val o = t(spark, sf, "orders")
    val urgent = c.join(o.filter(col("o_orderpriority") === "1-URGENT"),
      col("c_custkey") === col("o_custkey"), "left_semi")
    val expected = urgent.join(o.filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("q_subquery_exists")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
  }
}
