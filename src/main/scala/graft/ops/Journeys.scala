package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 §2.30 user-journey/temporal extensions: sequence-pattern
  * matching (the MATCH_RECOGNIZE primitive), interval-overlap max
  * concurrency (the sweep-line capacity report), and a time-weighted
  * average (the TWAP/uptime-mean primitive). All DuckDB-oracled.
  *
  * Determinism: every per-user ordering is the (us, event_id) total
  * order; `events.value` is a non-negative 2-dp money-like column, so
  * cent-scaling `round(value*100)` is exact and all ratios are
  * non-negative integer divisions (truncation == floor in both engines).
  */
object Journeys {

  private def ev(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))

  /** Sequence-pattern match (MATCH_RECOGNIZE-lite): per user, the
    * event-type sequence under the (us, event_id) total order, matched
    * against `signup → … → purchase → … → purchase` (an onboarding
    * funnel with a repeat purchase). The sequence is assembled with
    * `sort_array(collect_list(struct(us, event_id, event_type)))` — a
    * single mergeable aggregate (no window sort), the struct order IS
    * the total order — and matched with one codegen'd `rlike`. Event
    * types are a closed token set with no substring collisions, so the
    * comma-joined regex is exact. At scale this shards by user_id over
    * one hash exchange; per-user state is the bounded event list, the
    * same bound sessionization already carries. */
  def qSeqMatch(s: SparkSession, dir: String): DataFrame =
    orderedAll(ev(s, dir)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("us"), col("event_id"),
        col("event_type")))).as("arr"))
      .select(col("user_id"),
        size(col("arr")).cast("long").as("n_events"),
        expr("array_join(transform(arr, x -> x.event_type), ',')")
          .rlike("signup.*purchase.*purchase")
          .as("matched")))

  /** Interval-overlap max concurrency: users' 30-minute-gap sessions
    * (the q_events_session intervals) swept as +1 at start and −1 just
    * after end; the running sum under the (us, delta) order is the
    * instantaneous number of concurrent sessions, reported as a per-day
    * maximum — the capacity-planning report. Ties: −1 sorts before +1
    * at the same µs (touching sessions don't overlap), and permuting
    * equal (us, delta) rows yields the same prefix-sum SET, so the day
    * max is deterministic even though per-row running values are not.
    * Scale (round-9 item 2): `spark.graft.rankBuckets` > 0 engages the
    * range-partitioned sweep — the running sum runs WITHIN each calendar
    * day (parallel across days, the same partitioning the output
    * aggregates by) and each day inherits the closing sum of all earlier
    * days as a broadcast carry (the q_interarrival seam trick; ≤ #days
    * rows take the only unpartitioned window). Bit-equal by integer
    * associativity — time buckets are order-aligned with `us`, and equal
    * (us, delta) rows never straddle a day — spec-forced
    * (Round9RankSpec). The session derivation shards by user_id. */
  def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
    val sess = ev(s, dir)
      .withColumn("new_sess",
        when(coalesce(col("us") - lag("us", 1).over(wU),
          lit(Long.MaxValue)) > 1800000000L, 1).otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(min("us").as("start_us"), max("us").as("end_us"))
    val points = sess.select(col("start_us").as("us"), lit(1L).as("delta"))
      .unionAll(sess.select((col("end_us") + 1).as("us"),
        lit(-1L).as("delta")))
    // high crossover: the gated day-carry join pays per point row and
    // only beats one task past ~10⁷ points (BASELINE.md 100× table:
    // serial 4.1 s vs gated 7.1 s at ~10⁶ — auto stays serial there)
    val (ib, pointsG) = DistRank.gate(s, points, 10000000L, Pins.slot("iov_auto", dir))
    val swept =
      if (ib <= 0) {
        val wSweep = Window.orderBy("us", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pointsG.withColumn("conc", sum("delta").over(wSweep))
          .withColumn("day", expr("us div 86400000000"))
      } else {
        val pts = pointsG.withColumn("day", expr("us div 86400000000"))
        val carries = pts.groupBy("day").agg(sum("delta").as("__dsum"))
          .withColumn("__carry", coalesce(sum("__dsum").over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("day", "__carry")
        pts.join(broadcast(carries), "day")
          .withColumn("conc", col("__carry") + sum("delta").over(
            Window.partitionBy("day").orderBy("us", "delta")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .drop("__carry")
      }
    orderedAll(swept
      .groupBy("day")
      .agg(max("conc").as("max_concurrent"),
        count(lit(1)).as("n_points")))
  }

  /** Time-weighted average value (TWAP): per user, each event's value
    * holds until the user's next event; the mean weights each value by
    * its holding time in µs. Exact integer path: cent-scaled values ×
    * µs gaps summed as BIGINT, one final non-negative integer division
    * (truncation == floor both engines). The last event has no
    * successor and is excluded by contract. One lead window + one
    * mergeable aggregate, sharded by user_id. */
  def qTimeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
    orderedAll(ev(s, dir)
      .withColumn("vu", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("gap", lead("us", 1).over(wU) - col("us"))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap").as("held_us"),
        expr("sum(vu * gap) div sum(gap)").as("twa_cents")))
  }

  /** Late-event accounting (§2.32): how far out-of-order a stream
    * arrives — per event type, each event's lateness is the running max
    * event time over ARRIVAL order minus its own event time; events
    * later than the 1-hour watermark bound are the ones a streaming
    * pipeline would drop. The fixture's event_id order is perfectly
    * time-aligned (zero disorder), so arrival is SIMULATED as the
    * deterministic md5(event_id) permutation — the standard way to
    * model network reordering reproducibly; both engines hash
    * identically, and the (hash, event_id) order is total. One
    * bounded-frame window per type + one mergeable aggregate. */
  def qLateEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy("arrival", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    orderedAll(ev(s, dir)
      .withColumn("arrival", md5(col("event_id").cast("string")))
      .withColumn("late_us",
        greatest(coalesce(max("us").over(w) - col("us"), lit(0L)),
          lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 3600000000L, 1L).otherwise(0L))
          .as("n_late"),
        max("late_us").as("max_late_us"),
        sum("late_us").as("sum_late_us")))
  }

  /** Conversion-lag histogram (§2.32): per user, the delay from FIRST
    * signup to the first purchase at-or-after it, bucketed by whole
    * days — the time-to-convert report behind every growth dashboard.
    * Users who never sign up or never convert are excluded by
    * contract. Signup aggregate is user-keyed; the purchase probe is a
    * user-keyed join + conditional min. */
  def qConversionLag(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("s_us"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min(col("us") - col("s_us")).as("delay_us"))
    orderedAll(conv
      .groupBy(expr("delay_us div 86400000000").as("day_bucket"))
      .agg(count(lit(1)).as("n_users"),
        min("delay_us").as("min_delay_us"),
        max("delay_us").as("max_delay_us")))
  }

  /** Linear multi-touch attribution (§2.98): each purchase splits one
    * unit of credit (×10⁶) EQUALLY across all of the user's prior
    * touches, folded per touch type — the equal-weight counterpart of
    * q_attribution's last-touch rule (last-touch rewards whatever
    * fires just before checkout; linear credits the whole path). Per
    * purchase the per-type touch counts come from 4 conditional
    * running counts over ONE user-sharded ordering (the touch
    * vocabulary is the fixture's 4 non-purchase types, literal), so
    * there is no purchase×touch join; credit = cnt_t·10⁶ div n floors
    * identically in both engines. Purchases with no prior touch drop
    * (no credit to assign). */
  def qLinearAttribution(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "signup", "view")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val counted = types.foldLeft(e) { (df, tp) =>
      df.withColumn(s"c_$tp",
        count(when(col("event_type") === tp, 1)).over(w))
    }.filter(col("event_type") === "purchase")
      .withColumn("n", types.map(tp => col(s"c_$tp")).reduce(_ + _))
      .filter(col("n") > 0)
    // r16 optimization: the per-type rows used to be a 4-way union of
    // selects over `counted`, which re-evaluated the 4-window prefix
    // subtree once per touch type (32 Window nodes in the plan). One
    // in-row explode unpivots the same (touch_type, cnt, credit_e6)
    // rows from a single evaluation (1.2 s -> 0.7 s at sf0.1).
    val unpivot = types.map(tp =>
      s"struct('$tp' AS touch_type, c_$tp AS cnt, " +
        s"c_$tp * 1000000 div n AS credit_e6)")
      .mkString("array(", ", ", ")")
    orderedAll(counted
      .select(explode(expr(unpivot)).as("p"))
      .select(col("p.touch_type").as("touch_type"),
        col("p.cnt").as("cnt"), col("p.credit_e6").as("credit_e6"))
      .groupBy("touch_type")
      .agg(count(when(col("cnt") > 0, 1)).as("n_purchases"),
        sum("credit_e6").cast("long").as("credit_e6")))
  }
}
