package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan pins for the §2.110–§2.111 batch: pruning reaches the scans,
  * the day-spine statistics keep every window over aggregated input,
  * the literal-probe searches broadcast their probe side, and the MMR
  * unrolling stays bounded (no window ever runs over raw corpus rows
  * after the one top-8 pass). */
class Round12PlanSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case f: FileSourceScanExec => f }

  private def windowsOverRaw(p: SparkPlan): Seq[WindowExec] =
    p.collect {
      case w: WindowExec if w.collectFirst {
        case a: HashAggregateExec => a
      }.isEmpty => w
    }

  test("round-12 stats: every window runs over aggregated input") {
    for (name <- Seq("q_gumbel_fit", "q_bartlett", "q_anderson_darling",
      "q_neyman_allocation", "q_fleiss_kappa"))
      assert(windowsOverRaw(plan(name)).isEmpty,
        s"$name: a window runs over non-aggregated input")
  }

  test("event-fold queries prune events to their needed columns") {
    // the day-spined pair read ts; the whole-type folds don't even
    // that — and per-BRANCH pruning may drop value on a count-only
    // side (q_anderson_darling's totals branch does)
    for (name <- Seq("q_gumbel_fit", "q_anderson_darling")) {
      val reads = scans(plan(name)).map(_.requiredSchema.fieldNames.toSet)
      assert(reads.forall(_.subsetOf(Set("event_type", "ts", "value"))),
        s"$name over-read: $reads")
      assert(reads.exists(_.contains("ts")), s"$name lost the day spine")
    }
    for (name <- Seq("q_bartlett", "q_neyman_allocation"))
      for (sc <- scans(plan(name)))
        assert(sc.requiredSchema.fieldNames.toSet ==
          Set("event_type", "value"),
          s"$name over-read: ${sc.requiredSchema.fieldNames.mkString(",")}")
    // fleiss reads presence only — no value column anywhere; the k
    // branch prunes all the way down to event_type alone
    val fk = scans(plan("q_fleiss_kappa"))
      .map(_.requiredSchema.fieldNames.toSet)
    assert(fk.forall(_.subsetOf(Set("user_id", "ts", "event_type"))),
      s"q_fleiss_kappa over-read: $fk")
    assert(fk.exists(_ == Set("user_id", "ts", "event_type")))
  }

  test("q_query_likelihood prunes documents and broadcasts the term grid") {
    val p = plan("q_query_likelihood")
    for (sc <- scans(p))
      assert(sc.requiredSchema.fieldNames.toSet ==
        Set("lang", "doc_id", "text") ||
          sc.requiredSchema.fieldNames.toSet == Set("lang", "text"),
        s"over-read: ${sc.requiredSchema.fieldNames.mkString(",")}")
    assert(p.collectFirst { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "the 3-term literal spine must broadcast")
  }

  test("q_mmr_diversify: candidates pinned once, steps never re-derive") {
    // the ≤80-row candidate set is MATERIALIZED (Pins.pin) before the
    // three unrolled selection steps — without the pin each of the 7
    // downstream join branches re-evaluated the corpus-scale top-8
    // window (this spec caught it). The final plan therefore contains
    // NO corpus-scale window and NO file scan at all: every step reads
    // the pinned candidates.
    val p = plan("q_mmr_diversify")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "the top-8 window must run once at pin time, not per branch")
    assert(scans(p).isEmpty,
      "post-pin steps must read the materialized candidates, not parquet")
  }

  test("q_semantic_mix / q_effective_rank / q_calibration_ece scan shapes") {
    // assignment is ONE projection: no join anywhere in semantic_mix
    // before the label histogram (the 16 centroids are literals).
    val sm = plan("q_semantic_mix")
    assert(sm.collectFirst { case w: WindowExec => w }.isEmpty,
      "semantic_mix must not window (struct-max argmax only)")
    for (sc <- scans(sm).take(1))
      assert(sc.requiredSchema.fieldNames.toSet
        .subsetOf(Set("vec_id", "embedding", "label")))
    for (sc <- scans(plan("q_effective_rank")))
      assert(sc.requiredSchema.fieldNames.toSet == Set("embedding"),
        s"over-read: ${sc.requiredSchema.fieldNames.mkString(",")}")
    for (sc <- scans(plan("q_calibration_ece")))
      assert(sc.requiredSchema.fieldNames.toSet ==
        Set("label", "embedding"))
  }

  test("q_dedup_band_bucketed never shuffles more than the audit fold") {
    // the self-join is exchange-free (Round12BatchSpec pins that);
    // here: the whole plan's shuffles are only the distinct + the
    // terminal aggregate/sort — a regression adding an exchange under
    // the join would show up as a count jump.
    val p = plan("q_dedup_band_bucketed")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 4,
      s"unexpected extra shuffles: ${shuffles.size}")
  }
}
