package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Physical-plan regression tests for the PLANS.md claims: the plans we
  * rely on at scale stay the plans Catalyst actually picks. Asserted on
  * the pre-AQE sparkPlan, where scans and join strategies are visible. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case f: FileSourceScanExec => f }

  test("q_filter_pred pushes all predicates into the parquet scan") {
    val sc = scans(plan("q_filter_pred"))
    assert(sc.nonEmpty)
    val pushed = sc.head.metadata.getOrElse("PushedFilters", "")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed: $pushed")
    // column pruning: 4 of 11 lineitem columns read
    val readSchema = sc.head.requiredSchema.fieldNames.toSet
    assert(readSchema == Set("l_shipdate", "l_discount", "l_quantity",
      "l_extendedprice"), s"over-read: $readSchema")
  }

  test("q_scan_project reads only the projected columns") {
    val sc = scans(plan("q_scan_project"))
    assert(sc.head.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))
  }

  test("q_join_broadcast plans a broadcast hash join") {
    assert(plan("q_join_broadcast").collect {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty)
  }

  test("q_join_range plans a broadcast nested-loop join (no equi key)") {
    assert(plan("q_join_range").collect {
      case j: BroadcastNestedLoopJoinExec => j
    }.nonEmpty)
  }

  test("q_join_time_window: binned interval join is an equi-join") {
    assert(plan("q_join_time_window").collect {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "interval join fell back to an all-pairs NLJ")
  }

  test("q_dedup_simhash pairs via banded equi-join, not nested-loop") {
    assert(plan("q_dedup_simhash").collect {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "simhash pair search fell back to an all-pairs NLJ")
  }

  test("q_source_orc: predicate pushdown reaches the ORC scan") {
    // PushedFilters on a v1 FileSourceScanExec is the format-independent
    // filter translation; the ORC reader only applies the SARG when
    // spark.sql.orc.filterPushdown is on — assert BOTH so a disabled conf
    // (or a default change) can't leave this test vacuously green.
    assert(spark.conf.get("spark.sql.orc.filterPushdown") == "true",
      "ORC SARG pushdown disabled — PushedFilters alone proves nothing")
    val sc = scans(plan("q_source_orc"))
    assert(sc.nonEmpty)
    val pushed = sc.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("s_acctbal"), s"not pushed: $pushed")
    assert(sc.head.requiredSchema.fieldNames.toSet ==
      Set("s_acctbal", "s_nationkey"), "over-read on the ORC source")
  }

  test("q_source_partitioned: multi-file input, directory-level pruning") {
    val df = SparkEntry.queries("q_source_partitioned")(spark, sf)
    // the relation is genuinely multi-file (4 files × event_type dirs)...
    assert(df.inputFiles.length > 4, s"only ${df.inputFiles.length} files")
    // ...and the IN filter prunes partitions on the scan node
    val sc = scans(df.queryExecution.sparkPlan)
    assert(sc.nonEmpty)
    assert(sc.forall(_.partitionFilters.exists(
      _.toString.contains("event_type"))),
      s"no partition filter: ${sc.map(_.metadata.get("PartitionFilters"))}")
  }

  test("q_ann_ivf assigns centroids in a projection, not a window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val ws = plan("q_ann_ivf").collect { case w: WindowExec => w }
    assert(ws.forall(w =>
      !w.partitionSpec.exists(_.toString.contains("vec_id"))),
      "centroid assignment still shuffles 16N rows through a vec_id window")
  }

  test("q_orderby_limit plans TakeOrderedAndProject, not a global sort") {
    val p = SparkEntry.queries("q_orderby_limit")(spark, sf)
    // the operator sits under the orderedAll determinism sort; find it
    assert(p.queryExecution.sparkPlan.collect {
      case t: TakeOrderedAndProjectExec => t
    }.nonEmpty)
  }

  test("subqueries de-correlate to joins (no per-row subplans)") {
    val p = plan("q_subquery_exists").toString
    assert(!p.contains("Subquery"), s"correlated subplan survived:\n$p")
  }

  test("q_ohlc: windows and aggregate share one data exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // one shuffle for the (event_type, hour) windows; the grouped
    // aggregate on the same key must reuse that distribution. The only
    // other ShuffleExchange allowed is orderedAll's repartition(1).
    val ex = plan("q_ohlc").collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 2, s"q_ohlc plans ${ex.length} shuffles")
  }

  test("q_rank_corr: both rank windows ride one segment exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ex = plan("q_rank_corr").collect { case e: ShuffleExchangeExec => e }
    // segment windows share one exchange; + the aggregate's exchange and
    // orderedAll's repartition(1) at most.
    assert(ex.length <= 3, s"q_rank_corr plans ${ex.length} shuffles")
  }

  test("q_triangle_count: degree orientation keeps equi-join wedges") {
    assert(plan("q_triangle_count").collect {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "triangle wedge join fell back to an all-pairs NLJ")
  }

  // --- §2.22 second round-7 batch --------------------------------------

  test("q_hist2d: one data exchange, three-column scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = plan("q_hist2d")
    // partial agg map-side, one hash exchange on (qbin, dbin), plus
    // orderedAll's repartition(1) over the ≤110-cell result.
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 2, s"q_hist2d plans ${ex.length} shuffles")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("l_quantity", "l_discount", "l_extendedprice"))
  }

  test("q_compaction_plan: window and bucket agg share one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the cum-before window partitions on pri; the (pri, bucket) agg is
    // a finer key and CANNOT reuse the pri distribution in general —
    // but the window's exchange + the agg's exchange + repartition(1)
    // must be all there is.
    val ex = plan("q_compaction_plan")
      .collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 3, s"q_compaction_plan plans ${ex.length} shuffles")
    assert(scans(plan("q_compaction_plan")).head
      .requiredSchema.fieldNames.toSet ==
      Set("o_orderpriority", "o_orderkey", "o_totalprice"))
  }

  test("q_token_budget: the 1-row totals ride a broadcast, not a shuffle") {
    assert(plan("q_token_budget").collect {
      case j: BroadcastNestedLoopJoinExec => j
    }.nonEmpty, "totals cross-join lost its broadcast hint")
  }

  test("q_interarrival serial: both windows and the agg share one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // sequencing window, rank window, count window and the final agg all
    // key on event_type: one hash exchange + repartition(1) only.
    val ex = plan("q_interarrival")
      .collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 2, s"q_interarrival plans ${ex.length} shuffles")
  }

  test("q_abtest: single-exchange conditional aggregation") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = plan("q_abtest")
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 2, s"q_abtest plans ${ex.length} shuffles")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("event_type", "ts", "value"))
  }

  test("q_cohort and q_trend_slope scans are column-pruned") {
    assert(scans(plan("q_cohort")).head.requiredSchema.fieldNames.toSet ==
      Set("user_id", "ts"))
    assert(scans(plan("q_trend_slope")).head
      .requiredSchema.fieldNames.toSet == Set("event_type", "ts", "value"))
  }

  test("q_inverted_index: one exchange, no window sort, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = plan("q_inverted_index")
    // BoundedMinK folds stats + capped postings into one aggregate: the
    // token exchange + orderedAll's repartition(1) must be all there is,
    // with no per-token sort (WindowExec) and no stats-caps join.
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 2, s"q_inverted_index plans ${ex.length} shuffles")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "posting cap regressed to a window sort")
    assert(p.collect { case j: BaseJoinExec => j }.isEmpty,
      "stats and caps split back into a join")
  }

  test("q_skew_audit: each key audit is a two-level mergeable aggregate") {
    // per-key counts must partially aggregate map-side: every per-key
    // HashAggregate pair means the heavy first level combines before its
    // exchange — no all-rows shuffle on a skewed key.
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_skew_audit")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.count(_.aggregateExpressions.exists(
      _.mode.toString == "Partial")) >= 3,
      "per-key counts lost their partial (map-side) aggregation")
    val sc = scans(p).map(_.requiredSchema.fieldNames.toSet)
    assert(sc.contains(Set("o_custkey")) && sc.contains(Set("l_partkey"))
      && sc.contains(Set("user_id")), s"over-read: $sc")
  }

  // --- §2.23 third round-7 batch ---------------------------------------

  test("q_vocab_coverage: text-only scan, broadcast total") {
    val p = plan("q_vocab_coverage")
    assert(scans(p).head.requiredSchema.fieldNames.toSet == Set("text"),
      "vocab count reads more than the text column")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "the 1-row total lost its broadcast")
  }

  test("q_rolling_median windows over the daily aggregate, not raw events") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q_rolling_median")
    // the daily rollup must partially aggregate BELOW the window: a
    // Partial-mode HashAggregate exists, and the window's child plan
    // contains the aggregate (frame lists are built over daily rows).
    assert(p.collect { case a: HashAggregateExec
      if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
    }.nonEmpty, "daily rollup lost its map-side partial aggregation")
    val w = p.collect { case w: WindowExec => w }
    assert(w.nonEmpty && w.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty),
      "rolling frame is built over raw events, not the daily aggregate")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("event_type", "ts", "value"))
  }

  test("q_decile_lift: two-column scan, broadcast total") {
    val p = plan("q_decile_lift")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("o_custkey", "o_totalprice"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "the 1-row total lost its broadcast")
  }

  test("q_hist_equiheight: two-column scan, bounded shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = plan("q_hist_equiheight")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("o_orderkey", "o_totalprice"))
    // global ntile sort exchange + bucket agg exchange + repartition(1)
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 3, s"q_hist_equiheight plans ${ex.length} shuffles")
  }

  test("q_rolling_distinct: pair dedup partially aggregates map-side") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_rolling_distinct")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("user_id", "ts"))
    assert(p.collect { case a: HashAggregateExec
      if a.aggregateExpressions.isEmpty ||
        a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
    }.nonEmpty, "the (user, day) dedup lost its map-side combine")
  }

  test("q_weighted_sample: three-column scan, no all-pairs join") {
    val p = plan("q_weighted_sample")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("source", "doc_id", "n_chars"))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q_quantile_norm: both windows share one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ex = plan("q_quantile_norm")
      .collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 2, s"q_quantile_norm plans ${ex.length} shuffles")
  }

  test("q_tpch_q18: top-100 rides TakeOrderedAndProject, pruned scans") {
    val p = plan("q_tpch_q18")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "top-100 materializes a global sort instead of TakeOrdered")
    val sc = scans(p).map(_.requiredSchema.fieldNames.toSet)
    assert(sc.contains(Set("l_orderkey", "l_quantity")), s"over-read: $sc")
  }

  test("q_tpch_q7: dims ride broadcasts, ship-date filter reaches scan") {
    val p = plan("q_tpch_q7")
    // supplier + two nation copies broadcast; facts shuffle on their keys
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length >= 3,
      "nation/supplier dims are not broadcast")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    val li = scans(p).find(_.requiredSchema.fieldNames.contains("l_suppkey"))
    assert(li.nonEmpty)
    assert(li.get.metadata.getOrElse("PushedFilters", "")
      .contains("l_shipdate"), "ship-date range not pushed")
    assert(li.get.requiredSchema.fieldNames.toSet == Set("l_orderkey",
      "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"))
  }

  test("q_tpch_q14: part dim broadcast, lineitem pruned to 4 columns") {
    val p = plan("q_tpch_q14")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "part dim is not broadcast")
    val li = scans(p).find(_.requiredSchema.fieldNames.contains("l_partkey"))
    assert(li.nonEmpty)
    assert(li.get.requiredSchema.fieldNames.toSet == Set("l_partkey",
      "l_shipdate", "l_extendedprice", "l_discount"), "over-read")
  }

  test("q_tpch_q22: anti join is keyed, recency filter reaches scan") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val p = plan("q_tpch_q22")
    // the left-anti recency join must be hash-keyed on custkey — the only
    // permissible NLJ is the broadcast of the 1-row threshold aggregate
    val antiNlj = p.collect { case j: BroadcastNestedLoopJoinExec
      if j.joinType == LeftAnti => j }
    assert(antiNlj.isEmpty, "anti join fell back to an all-pairs NLJ")
    val o = scans(p).find(_.requiredSchema.fieldNames.contains("o_custkey"))
    assert(o.nonEmpty)
    assert(o.get.metadata.getOrElse("PushedFilters", "")
      .contains("o_orderdate"), "recency cutoff not pushed")
    assert(o.get.requiredSchema.fieldNames.toSet ==
      Set("o_custkey", "o_orderdate"), "over-read on orders")
  }

  test("q_seq_pairs: keyed self-join over the first-event aggregate") {
    val p = plan("q_seq_pairs")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "precedence pair join fell back to an all-pairs NLJ")
    val ev = scans(p)
    assert(ev.forall(_.requiredSchema.fieldNames.toSet ==
      Set("user_id", "event_type", "ts")), "over-read on events")
  }

  test("q_path_trigrams: top-20 rides TakeOrderedAndProject") {
    val p = plan("q_path_trigrams")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "top-20 materializes a global sort instead of TakeOrdered")
    import org.apache.spark.sql.execution.window.WindowExec
    // the lag window is keyed by user_id — never a global window
    assert(p.collect { case w: WindowExec
      if w.partitionSpec.isEmpty => w }.isEmpty,
      "trigram lags run in a single partition")
  }

  test("q_tpch_q8: all four dims broadcast, date filter reaches orders") {
    val p = plan("q_tpch_q8")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length >= 4,
      "part/nation/supplier dims are not broadcast")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    val o = scans(p).find(_.requiredSchema.fieldNames.contains("o_orderdate"))
    assert(o.nonEmpty)
    assert(o.get.metadata.getOrElse("PushedFilters", "")
      .contains("o_orderdate"), "order-date range not pushed")
  }

  test("q_tpch_q9: widget filter prunes the part scan before broadcast") {
    val p = plan("q_tpch_q9")
    val pt = scans(p).find(_.requiredSchema.fieldNames.contains("p_name"))
    assert(pt.nonEmpty)
    assert(pt.get.metadata.getOrElse("PushedFilters", "")
      .contains("p_name"), "name LIKE not pushed to the part scan")
    assert(pt.get.requiredSchema.fieldNames.toSet ==
      Set("p_partkey", "p_name", "p_retailprice"), "over-read on part")
  }

  test("q_tpch_q13: zero bucket rides a LEFT join, scans pruned to keys") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q_tpch_q13")
    val left = p.collect {
      case j: SortMergeJoinExec if j.joinType == LeftOuter => j
      case j: ShuffledHashJoinExec if j.joinType == LeftOuter => j
      case j: BroadcastHashJoinExec if j.joinType == LeftOuter => j }
    assert(left.nonEmpty, "zero-orders bucket lost: join is not LEFT")
    assert(scans(p).forall(_.requiredSchema.fieldNames.length <= 2),
      "over-read on customer/orders")
  }

  test("q_tpch_q15: one fact scan, max over the supplier aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_tpch_q15")
    val li = scans(p).filter(_.requiredSchema.fieldNames
      .contains("l_shipdate"))
    assert(li.length == 1, "scalar-subquery max re-scans the fact table")
    assert(li.forall(_.metadata.getOrElse("PushedFilters", "")
      .contains("l_shipdate")), "quarter range not pushed")
    // the global max window runs over the supplier-sized aggregate
    val globalWindows = p.collect { case w: WindowExec
      if w.partitionSpec.isEmpty => w }
    assert(globalWindows.nonEmpty)
    assert(globalWindows.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty),
      "the max window runs over non-aggregated fact rows")
  }

  test("q_tpch_q17: per-part stats join stays keyed, part filter pushed") {
    val p = plan("q_tpch_q17")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "threshold join fell back to an all-pairs NLJ")
    val pt = scans(p).find(_.requiredSchema.fieldNames.contains("p_type"))
    assert(pt.nonEmpty)
    assert(pt.get.metadata.getOrElse("PushedFilters", "")
      .contains("p_type"), "part-family filter not pushed")
  }

  test("q_feature_hash: map-side-combinable scan, no joins, pruned read") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q_feature_hash")
    assert(p.collect { case j: SortMergeJoinExec => j
                       case j: ShuffledHashJoinExec => j
                       case j: BroadcastHashJoinExec => j }.isEmpty,
      "featurization should be a pure scan+agg, no joins")
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("doc_id", "source", "text"), "over-read on documents")
  }

  test("q_target_encode: fact join keyed, prior is a tiny broadcast") {
    val p = plan("q_target_encode")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length
      <= 1, "only the 1-row prior may ride a non-equi broadcast")
    val o = scans(p).filter(_.requiredSchema.fieldNames
      .contains("o_totalprice"))
    assert(o.forall(_.requiredSchema.fieldNames.length <= 2),
      "over-read on orders")
  }

  test("q_chisq: marginal windows run over the cell aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_chisq")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    assert(ws.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty),
      "a marginal window runs over non-aggregated fact rows")
  }

  test("q_ewma: seven lags share one window over the daily aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_ewma")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.length == 1, s"lags split across ${ws.length} windows")
    assert(ws.head.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty,
      "the lag window runs over raw events")
  }

  test("q_cusum: running sum over the daily aggregate, target broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_cusum")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.length == 1)
    assert(ws.head.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty)
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "per-type target should ride a broadcast join")
  }

  test("q_graph_bfs: frontier expansions are keyed joins, never NLJ") {
    val p = plan("q_graph_bfs")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "a frontier expansion degenerated to an all-pairs join")
  }

  test("q_ship_latency: rank selection runs over the value histogram") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_ship_latency")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    // every window (cumulative count, month total) must sit ABOVE the
    // (month, lat_days) histogram aggregate — raw fact rows are touched
    // exactly once, by a map-side-combinable count
    assert(ws.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty),
      "a rank window sorts raw fact rows")
  }

  test("q_incremental_agg: two mergeable aggregates under a full join") {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_incremental_agg")
    val full = p.collect {
      case j: SortMergeJoinExec if j.joinType == FullOuter => j
      case j: ShuffledHashJoinExec if j.joinType == FullOuter => j }
    assert(full.nonEmpty, "state merge lost its FULL OUTER join")
    assert(full.head.collect { case a: HashAggregateExec => a }.length
      >= 2, "merge inputs are not pre-aggregated states")
  }

  test("q_zone_map: pure scan+agg, no joins, three-column read") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q_zone_map")
    assert(p.collect { case j: SortMergeJoinExec => j
                       case j: ShuffledHashJoinExec => j
                       case j: BroadcastHashJoinExec => j
                       case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("o_orderkey", "o_orderdate", "o_totalprice"))
  }

  test("q_sim_histogram: probe filter reaches both embedding scans") {
    val p = plan("q_sim_histogram")
    val sc = scans(p)
    assert(sc.nonEmpty)
    assert(sc.forall(_.metadata.getOrElse("PushedFilters", "")
      .contains("vec_id")), "probe bound not pushed — full corpus read")
  }

  test("q_cv_folds: fact join is keyed, only the 1-row total rides NLJ") {
    val p = plan("q_cv_folds")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length
      <= 1)
    val o = scans(p).filter(_.requiredSchema.fieldNames
      .contains("o_totalprice"))
    assert(o.forall(_.requiredSchema.fieldNames.length <= 2))
  }

  test("q_ctr_wilson: one conditional-agg scan, no joins or windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q_ctr_wilson")
    assert(p.collect { case w: WindowExec => w }.isEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j
                       case j: ShuffledHashJoinExec => j
                       case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("event_type", "value"))
  }

  test("q_pareto: rank/cumsum windows run over the customer aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_pareto")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    assert(ws.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty),
      "a window runs over raw order rows")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "nation dim should broadcast")
  }

  test("q_benford: share window runs over the digit aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_benford")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.length == 1)
    assert(ws.head.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty)
  }

  test("q_seasonality: per-type totals ride a broadcast join") {
    val p = plan("q_seasonality")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(scans(p).head.requiredSchema.fieldNames.toSet ==
      Set("event_type", "ts", "value"))
  }

  test("q_containment: per-doc aggregate output, mask path on fixture") {
    val p = plan("q_containment")
    // fixture vocab ≤ 64 → pair stream rides the mask NLJ; output is the
    // per-doc aggregate, so nothing quadratic is emitted
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "mask popcount path not engaged on the fixture")
  }

  test("q_window_cooccur: in-row pair generation, no positional join") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q_window_cooccur")
    assert(p.collect { case j: SortMergeJoinExec => j
                       case j: ShuffledHashJoinExec => j
                       case j: BroadcastHashJoinExec => j
                       case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "context pairs should come from an in-row transform, not a join")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "top-30 should ride TakeOrderedAndProject")
  }

  test("q_growth_accounting: user-keyed joins only, distinct map-combines") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_growth_accounting")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // the (user, day) distinct must partially aggregate before its shuffle
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.size >= 4, "distinct/agg structure collapsed unexpectedly")
  }

  test("q_share_of_parent: share windows run over the nation aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_share_of_parent")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    assert(ws.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty))
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length >= 2,
      "nation/region dims should broadcast")
  }

  test("q_moving_extrema / q_percent_change: one window over daily agg") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    for (q <- Seq("q_moving_extrema", "q_percent_change")) {
      val p = plan(q)
      val ws = p.collect { case w: WindowExec => w }
      assert(ws.length == 1, s"$q: ${ws.length} windows")
      assert(ws.head.collectFirst {
        case a: HashAggregateExec => a }.nonEmpty,
        s"$q: window runs over raw events")
    }
  }

  test("q_rfm: global ntiles sort only the customer aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_rfm")
    val globalWindows = p.collect { case w: WindowExec
      if w.partitionSpec.isEmpty => w }
    assert(globalWindows.nonEmpty)
    assert(globalWindows.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty),
      "an unpartitioned ntile runs over non-aggregated order rows")
  }

  test("q_seq_match: sequence assembly is one aggregate, no window sort") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q_seq_match")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "per-user sequences should come from sort_array(collect_list), not a window")
    assert(p.collect { case j: SortMergeJoinExec => j
                       case j: ShuffledHashJoinExec => j
                       case j: BroadcastHashJoinExec => j
                       case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q_interval_overlap: global sweep runs over the session aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val p = plan("q_interval_overlap")
    val globalWindows = p.collect { case w: WindowExec
      if w.partitionSpec.isEmpty => w }
    assert(globalWindows.nonEmpty, "sweep window missing")
    assert(globalWindows.forall(_.collectFirst {
      case a: HashAggregateExec => a }.nonEmpty),
      "the sweep must order interval POINTS, never raw events")
  }

  test("q_time_weighted_avg: one user-keyed window, no joins") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q_time_weighted_avg")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.length == 1 && ws.head.partitionSpec.nonEmpty)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q_mode / q_allocation: rank windows run over the nation aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    for (q <- Seq("q_mode", "q_allocation")) {
      val p = plan(q)
      val ws = p.collect { case w: WindowExec => w }
      assert(ws.nonEmpty, s"$q: rank window missing")
      assert(ws.forall(_.collectFirst {
        case a: HashAggregateExec => a }.nonEmpty),
        s"$q: a window sorts raw fact rows instead of the aggregate")
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$q: nation dim should broadcast")
    }
  }

  test("q_readability / q_concordance: scan-side array work, no joins") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    for (q <- Seq("q_readability", "q_concordance")) {
      val p = plan(q)
      assert(p.collect { case j: SortMergeJoinExec => j
                         case j: ShuffledHashJoinExec => j
                         case j: BroadcastHashJoinExec => j
                         case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$q: should be pure scan + in-row extraction")
    }
  }

  test("q_naive_bayes: marginals broadcast, one NLJ for the 1-row total") {
    val p = plan("q_naive_bayes")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length >= 2,
      "token/source marginals should ride broadcast hash joins")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.length <= 1,
      "only the 1-row corpus total may ride NLJ")
  }

  test("q_power_iter: row sums join vec_id-keyed, nothing quadratic") {
    val p = plan("q_power_iter")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "the matvec must never materialize a cross product")
  }

  test("q_fk_orphans: every orphan probe is a keyed key-scale left join") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter}
    val p = plan("q_fk_orphans")
    // r17: the instance-scale anti joins were replaced by key-scale
    // left joins over per-key counts (child scanned once per audit).
    val antis = p.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      case j: ShuffledHashJoinExec if j.joinType == LeftAnti => j
      case j: SortMergeJoinExec if j.joinType == LeftAnti => j }
    assert(antis.isEmpty,
      s"orphan probes must be key-scale left joins, found ${antis.length} anti joins")
    val outers = p.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftOuter => j
      case j: ShuffledHashJoinExec if j.joinType == LeftOuter => j
      case j: SortMergeJoinExec if j.joinType == LeftOuter => j }
    assert(outers.length == 5, s"expected 5 keyed left joins, ${outers.length}")
  }

  test("q_late_events / q_time_weighted_avg family: windows stay keyed") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q_late_events")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "lateness window must shard by event_type")
  }

  test("q_prefix_compress: codegen common-prefix, one keyed window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = plan("q_prefix_compress")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.length == 1 && ws.head.partitionSpec.nonEmpty,
      "front coding must shard by source")
    assert(p.toString.contains("graft_common_prefix_len"),
      "the codegen CommonPrefixLen expression should be in the plan")
  }

  test("q_bpe_apply: in-row pair generation, no positional join") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = plan("q_bpe_apply")
    assert(p.collect { case j: SortMergeJoinExec => j
                       case j: ShuffledHashJoinExec => j
                       case j: BroadcastHashJoinExec => j
                       case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "adjacent pairs should come from an in-row transform, not a join")
  }

  test("§2.33 scored metrics: literal-plane scoring never joins") {
    // q_auc / q_calibration score against plan-literal md5 hyperplanes —
    // a pure scan + aggregate (+ rank window for AUC); any join here
    // would mean the planes stopped folding to literals
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    for (q <- Seq("q_auc", "q_calibration")) {
      val p = plan(q)
      assert(p.collect { case j: SortMergeJoinExec => j
                         case j: ShuffledHashJoinExec => j
                         case j: BroadcastHashJoinExec => j
                         case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$q: plane scoring must be join-free")
    }
  }

  test("§2.33 probe rankers: corpus side joins only broadcast probes") {
    // brute-force rankers (q_ann_recall / q_ndcg / q_mrr) and the
    // centroid classifier (q_confusion) pair the corpus against a
    // broadcast-small side (≤50 probes / 10 centroids); the guard is
    // that no pairing ever degenerates to a shuffled cartesian
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    for (q <- Seq("q_ann_recall", "q_ndcg", "q_mrr", "q_confusion")) {
      val p = plan(q)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q: probe pairing fell back to a shuffled cartesian product")
    }
    // the recall audit's candidate set must come from the bucket
    // equi-join, not a second all-pairs pass
    assert(plan("q_ann_recall").collect {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      "q_ann_recall: LSH candidates should ride a bucket equi-join")
  }

  test("§2.34 corpus stats: marginals broadcast, no shuffled cartesian") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    for (q <- Seq("q_collocation_llr", "q_dsir", "q_burstiness",
        "q_lsh_recall", "q_keyword_rake")) {
      val p = plan(q)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q: a corpus-sized cartesian appeared")
    }
    // the bigram/vocab marginal tables must ride broadcast hash joins
    for (q <- Seq("q_collocation_llr", "q_dsir"))
      assert(plan(q).collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$q: marginal join should be a vocab-bounded broadcast")
  }

  test("q_zipf: rank window runs over the per-source count aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    val ws = plan("q_zipf").collect { case w: WindowExec => w }
    assert(ws.length == 1 && ws.head.partitionSpec.nonEmpty,
      "exactly one source-keyed rank window expected")
  }

  test("§2.30 graph queries: equi-joins only over the pinned edge list") {
    // building these plans materializes the pinned edge list (an action);
    // the RDD scan it leaves behind is the loop-invariant contract
    for (q <- Seq("q_clustering_coeff", "q_graph_jaccard", "q_graph_2hop")) {
      val p = plan(q)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$q: wedge/closure joins must be equi-joins, not NLJ")
      assert(p.collect { case r: org.apache.spark.sql.execution.RDDScanExec
        => r }.nonEmpty, s"$q: pinned edge list not engaged")
    }
  }

  test("§2.35 experiment stats: windows keyed, no shuffled cartesian") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_ks_test", "q_mannwhitney", "q_bootstrap_ci",
        "q_ate_stratified", "q_eb_shrinkage", "q_sax_symbols")) {
      val p = plan(q)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q: a shuffled cartesian appeared (baseline fan-out must be a " +
          "broadcast of the 4-row type list)")
      // every window is partitioned (by type over the cents histogram,
      // or by user) — nothing single-partitions the corpus
      p.collect { case w: WindowExec => w }.foreach(w =>
        assert(w.partitionSpec.nonEmpty, s"$q: unpartitioned window"))
    }
    // the KS/MW ECDF windows run over the (type, cents) HISTOGRAM
    // aggregate, never raw events: an aggregate sits below every window
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    for (q <- Seq("q_ks_test", "q_mannwhitney")) {
      val p = plan(q)
      val w = p.collect { case w: WindowExec => w }
      assert(w.nonEmpty && w.forall(_.collectFirst {
        case a: HashAggregateExec => a }.nonEmpty),
        s"$q: ECDF window must consume the histogram aggregate")
    }
  }

  test("§2.36 communities/curation: pinned edges, keyed supersteps") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    // label-prop / k-core supersteps are equi-joins over the pinned
    // edge list (the §2.30 contract): no NLJ, edge list engaged
    for (q <- Seq("q_label_prop", "q_kcore")) {
      val p = plan(q)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty
        && p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q: superstep joins must be equi-joins")
      assert(p.collect { case r: org.apache.spark.sql.execution.RDDScanExec
        => r }.nonEmpty, s"$q: pinned edge list not engaged")
    }
    // boilerplate: (source, line) aggregate below the per-source rank
    // window; hard negatives: corpus side joins only broadcast probes
    import org.apache.spark.sql.execution.window.WindowExec
    val bp = plan("q_boilerplate")
    assert(bp.collect { case w: WindowExec => w }
      .forall(_.partitionSpec.nonEmpty), "unpartitioned window")
    assert(plan("q_hard_negatives").collect {
      case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "q_hard_negatives: probe side must broadcast (q_knn shape)")
  }

  test("§2.37 long-horizon stats: corpus collapses before any window") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_survival", "q_hill_tail", "q_heaps_law",
        "q_lang_confusion")) {
      val p = plan(q)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q: shuffled cartesian (constants must broadcast)")
      // every window consumes an aggregate, never raw fixture rows —
      // except hill's top-k pruning rank window, which is type-keyed
      p.collect { case w: WindowExec => w }.foreach { w =>
        assert(w.partitionSpec.nonEmpty || w.collectFirst {
          case a: HashAggregateExec => a }.nonEmpty,
          s"$q: unpartitioned window over unaggregated input")
      }
    }
  }

  test("§2.38 robust BI: histogram-first windows, no shuffled cartesian") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_weighted_median", "q_theil_index",
        "q_price_elasticity", "q_source_overlap")) {
      val p = plan(q)
      assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
        s"$q: shuffled cartesian (globals must broadcast)")
    }
    // the weighted-median cumulative window consumes the histogram
    // aggregate, never raw events
    val wm = plan("q_weighted_median")
      .collect { case w: WindowExec => w }
    assert(wm.nonEmpty && wm.forall(w => w.partitionSpec.nonEmpty &&
      w.collectFirst { case a: HashAggregateExec => a }.nonEmpty))
    // elasticity's part dim joins broadcast
    assert(plan("q_price_elasticity").collect {
      case j: BroadcastHashJoinExec => j }.nonEmpty)
  }

  test("global-order queries read their table once, with no reused exchange") {
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // at the next fixture size, on the static plan (AQE off), where a
    // second read of one input shows as a second scan or a reuse
    val dir = new java.io.File(sf).getParent + "/sf0.01"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for ((q, table) <- Seq("q_interarrival" -> "events",
        "q_hist_equiheight" -> "orders", "q_interval_overlap" -> "events")) {
      val nodes = flattenPlan(
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)
      val reads = nodes.collect { case f: FileSourceScanExec =>
        f.relation.location.rootPaths.mkString }
      assert(reads.size == 1 && reads.head.contains(table),
        s"$q reads ${reads.mkString(", ")}")
      assert(nodes.collect { case r: ReusedExchangeExec => r }.isEmpty,
        s"$q reuses an exchange: it evaluates one input twice")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
