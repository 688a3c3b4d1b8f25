package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global order: the one module that knows how a
  * total-order rank, running sum, percentile or k-select is computed.
  * Callers state the order they need ([[rank]], [[ntile]],
  * [[prefixSum]], [[cumulative]] + [[discrete]], [[atRanks]]) and pass
  * a bucket count `b`; they never branch on it themselves.
  *
  * The problem class: a query needs `row_number()` / `ntile(k)` / a
  * running sum under a TOTAL order over a dimension-scale aggregate
  * (customers, parts, users) or a near-distinct value histogram. The
  * declarative spelling — one `Window.orderBy(...)` with no partition,
  * or one partitioned by a 3-to-5-value axis — runs every row through
  * one task (the q_interarrival 100× smoke measured it: 56 s of one
  * task sorting what 32 could). With `b` > 0 the same result comes
  * from the MapReduce prefix-sum pattern (aggregate per bucket, prefix
  * over the bucket aggregates, finish locally):
  *
  *  1. one aggregate finds the key range; rows bucket by key range into
  *     `b` slices (a broadcast, no shuffle beyond the agg);
  *  2. per-bucket aggregates (≤ b rows per group) take an exclusive
  *     prefix sum in a tiny window — its input is an aggregate, never
  *     the data;
  *  3. the row number or running sum runs WITHIN each bucket (parallel
  *     across buckets) and adds the bucket's offset.
  *
  * Equal keys always land in the same bucket, so tie-breaking stays
  * bucket-local and the result is BIT-EQUAL to the serial window
  * (spec-forced in Round9RankSpec / Round11RankSpec). Degenerate
  * distributions (all keys equal) collapse to one bucket — the serial
  * plan again, which is also the correct cost there. Keys are BIGINT;
  * descending orders negate the key (`-x`).
  *
  * `b` comes from [[gate]] (the family's conf + stats ladder), from
  * [[buckets]] (conf only), or is 0 for domain-bounded inputs.
  * `spark.graft.rankBuckets` = B > 0 engages the bucketed path (default
  * off, pinning fixture plans and hashes; a 100 TB deployment sets B ≈
  * a few × the executor count).
  */
object DistRank {

  /** The family's shared gate: `spark.graft.rankBuckets`, 0 = serial. */
  def buckets(s: SparkSession): Int =
    s.conf.getOption("spark.graft.rankBuckets").map(_.toInt).getOrElse(0)

  /** Stats-driven auto-engage (round-10 item 4) — the nearPairs
    * strategy-switch idiom applied to the gate that round 9 left manual.
    * Decision ladder:
    *
    *  1. `spark.graft.rankBuckets` SET → that value verbatim (manual
    *     override: > 0 engages with that B, 0 forces serial) — the
    *     deployment knob is unchanged.
    *  2. Unset, and the window input's Catalyst `sizeInBytes` estimate is
    *     below `spark.graft.rankAutoProbeBytes` (default 256 MiB): stay
    *     serial WITHOUT probing — fixture-scale plans, costs and hashes
    *     are untouched (no extra job ever runs at graded SF).
    *  3. Otherwise pay ONE count() probe of the window input (an
    *     AQE-style scalar stats read; at the sizes that reach this tier
    *     the probe is noise against the query) and engage with
    *     `spark.graft.rankAutoBuckets` (default 64) iff rows exceed the
    *     caller's `crossoverRows`.
    *
    * `crossoverRows` is PER CALLER because the serial/gated crossover is
    * per-algorithm, not universal — measured at the 100× smoke
    * (BASELINE.md "DistRank gate" table): q_lorenz/q_rfm replace the
    * serial sort outright and cross over around 10⁶ input rows, while
    * q_interval_overlap/q_decay_score's gated plans pay a per-base-row
    * carry join that only wins past ~10⁷. Tests may pin the crossover
    * via `spark.graft.rankAutoCrossoverRows` (overrides the caller's
    * value) to force the auto path on fixture data. */
  def effectiveBuckets(s: SparkSession, input: DataFrame,
                       crossoverRows: Long = 1000000L): Int =
    gate(s, input, crossoverRows, "rank_auto")._1

  /** [[effectiveBuckets]] plus the probe-cost fix the first 100× auto
    * capture demanded: when the probe tier fires, the window input is
    * PINNED (Pins.pin — localCheckpoint, or the reliable-checkpoint
    * slot under `slot` on clusters) BEFORE counting, and the pinned
    * frame is returned for the caller to build on. The count is then
    * a metadata read of the materialized blocks, and the main query
    * consumes the same materialization — the probe becomes an
    * investment instead of a second run of a fact-scale aggregate
    * (first capture: q_abc_class 14.6 s auto vs 10.6 s gated, the
    * delta being exactly one wasted lineitem-wide re-aggregation).
    * Below the floor and under a manual conf the input is returned
    * untouched — fixture plans stay byte-identical. */
  def gate(s: SparkSession, input: DataFrame,
           crossoverRows: Long = 1000000L,
           slot: String = "rank_auto"): (Int, DataFrame) =
    s.conf.getOption("spark.graft.rankBuckets").map(_.toInt) match {
      // manual ENGAGE also pins: every engaged caller reads the input
      // at least twice (range stats + bucket join, often an n-count
      // too) — materializing once is strictly cheaper than re-running
      // the aggregate per consumer. Manual-off (0) stays untouched.
      case Some(b) => if (b > 0) (b, Pins.pin(input, slot)) else (0, input)
      case None =>
        val probeFloor = s.conf.getOption("spark.graft.rankAutoProbeBytes")
          .map(BigInt(_)).getOrElse(BigInt(256L << 20))
        val est = input.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est < probeFloor) (0, input)
        else {
          val pinned = Pins.pin(input, slot)
          val cross = s.conf.getOption("spark.graft.rankAutoCrossoverRows")
            .map(_.toLong).getOrElse(crossoverRows)
          val b =
            if (pinned.count() > cross)
              s.conf.getOption("spark.graft.rankAutoBuckets")
                .map(_.toInt).getOrElse(64)
            else 0
          (b, pinned)
        }
    }

  /** SQL-expression spelling of the ntile(k) fill rule from a 1-based
    * global rank and total count n (both engines give the first n mod k
    * buckets one extra row). Pure arithmetic — turning an ntile into a
    * rank query is exactly what makes it distributable. The ELSE branch
    * divides by (n div k), which is 0 only when n < k — and then the
    * WHEN branch covers every rank, so the division never evaluates. */
  def ntileExpr(rank: String, n: String, k: Int): String = {
    val q = s"(($n) div $k)"
    val rem = s"(($n) % $k)"
    s"CASE WHEN ($rank) <= $rem * ($q + 1) " +
      s"THEN (($rank) - 1) div ($q + 1) + 1 " +
      s"ELSE $rem + (($rank) - 1 - $rem * ($q + 1)) div $q + 1 END"
  }

  // ---- dispatchers: the one place that picks serial vs bucketed ----
  // Callers state the order they need and pass `b` (from [[gate]],
  // [[buckets]], or 0 for domain-bounded inputs); b <= 0 plans the
  // serial window, b > 0 the value-bucketed two-pass path below.

  /** `row_number()` over (key asc, tie asc) as LONG column `out`.
    * Descending orders negate the key (`-x`): `asc` puts nulls first
    * where `desc` puts them last, so that is only the same order for a
    * non-null `x`. `maxRank` > 0 lets the bucketed path skip whole
    * buckets past it (the distributed top-k); the caller still filters
    * `out <= maxRank`. */
  def rank(df: DataFrame, key: Column, tie: Column, b: Int, out: String,
           maxRank: Long = 0L): DataFrame =
    if (b <= 0) df.withColumn(out,
      row_number().over(Window.orderBy(key.asc, tie.asc)).cast("long"))
    else withRank(df, key, tie, b, out, maxRank)

  /** `ntile(k)` over (key asc, tie asc) as LONG column `out`; the
    * bucketed path is [[withRank]] plus the closed-form [[ntileExpr]]
    * fill rule on the global count. */
  def ntile(df: DataFrame, key: Column, tie: Column, k: Int, b: Int,
            out: String): DataFrame =
    if (b <= 0) df.withColumn(out, functions.ntile(k)
      .over(Window.orderBy(key.asc, tie.asc)).cast("long"))
    else withRank(df, key, tie, b, "__rk")
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__n"))))
      .withColumn(out, expr(ntileExpr("__rk", "__n", k)).cast("long"))
      .drop("__rk", "__n")

  /** EXCLUSIVE running sum of `value` over (key asc, tie asc) within
    * each `parts` group (globally when `parts` is empty) as column
    * `out`. Integer addition is associative, so the bucketed stitch is
    * bit-equal to the serial window. */
  def prefixSum(df: DataFrame, parts: Seq[String], key: Column, tie: Column,
                value: Column, b: Int, out: String): DataFrame =
    if (b <= 0) df.withColumn(out, coalesce(sum(value).over(
      Window.partitionBy(parts.map(col): _*).orderBy(key.asc, tie.asc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    else withPrefixSumBy(df, parts, key, tie, value, b, out)

  /** The discrete-percentile input: histogram `h` (one row per
    * (parts, key) with `weight`) plus the INCLUSIVE cumulative weight
    * `cum` under key order and the group total `tot`. Serial: both are
    * windows over one exchange and sort — `tot` is the unordered
    * full-partition sum, so the histogram is evaluated once (a
    * separate total aggregate joined back would evaluate it again).
    * Bucketed: the full-partition window over a fact-scale histogram is
    * what the bucketed path exists to avoid, so `tot` is an aggregate
    * broadcast back. */
  def cumulative(h: DataFrame, parts: Seq[String], key: String,
                 weight: String, b: Int): DataFrame = {
    val pc = parts.map(col)
    if (b <= 0) h
      .withColumn("cum", sum(weight).over(Window.partitionBy(pc: _*)
        .orderBy(key).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(weight).over(Window.partitionBy(pc: _*)))
    else joinOn(
      withPrefixSumBy(h, parts, col(key), col(key), col(weight), b, "cum")
        .withColumn("cum", col("cum") + col(weight)),
      h.groupBy(pc: _*).agg(sum(weight).as("tot")), parts)
  }

  /** Discrete (type-1) percentiles from a [[cumulative]] frame: per
    * `parts` group, `tot` and for each (p, name) the smallest `key`
    * whose `cum`·100 ≥ `tot`·p — an actual data value, all-integer.
    * One conditional-min aggregate reads the frame once. Every
    * threshold is reached at the group's last row (cum = tot) when the
    * weights are non-negative, so no group is left without a value.
    * `more` adds further aggregates over the same rows. */
  def discrete(cum: DataFrame, parts: Seq[String], key: String,
               ps: Seq[(Int, String)], more: Column*): DataFrame = {
    val picks = ps.map { case (p, name) =>
      min(when(col("cum") * 100 >= col("tot") * p, col(key))).as(name)
    }
    cum.groupBy(parts.map(col): _*)
      .agg(max("tot").as("tot"), picks ++ more: _*)
  }

  /** The exact `key` value at given 1-based ranks under (key asc,
    * tie asc) within each `parts` group: `targets` carries `parts`, a
    * LONG rank column `r` and any payload; the result is one row per
    * target whose rank exists — `parts`, `r`, the value as `v`, then
    * the payload. Bucketed, it is a distributed k-select: per-bucket
    * counts locate the bucket holding each rank, and only those
    * buckets are sorted. */
  def atRanks(df: DataFrame, parts: Seq[String], key: Column, tie: Column,
              targets: DataFrame, b: Int): DataFrame = {
    val pc = parts.map(col)
    val ranked =
      if (b <= 0) df.withColumn("r", row_number().over(
        Window.partitionBy(pc: _*).orderBy(key.asc, tie.asc)).cast("long"))
      else {
        val (vb, offsets) = bucketed(df, parts, key, b, count(lit(1)))
        val hit = joinOn(offsets, targets, parts)
          .filter(col("r") > col("__before") &&
            col("r") <= col("__before") + col("__bagg"))
          .select((pc :+ col("__vbkt") :+ col("__before")): _*).distinct()
        joinOn(vb, hit, parts :+ "__vbkt")
          .withColumn("r", col("__before") + row_number().over(
            Window.partitionBy((pc :+ col("__vbkt")): _*)
              .orderBy(col("__key").asc, tie.asc)))
      }
    joinOn(ranked.select((pc :+ col("r") :+ key.as("v")): _*), targets,
      parts :+ "r")
  }

  // ---- the bucketed two-pass machinery ----

  /** Broadcast `small` onto `big` on `keys` with null-safe equality: a
    * null key or group is one more value, as it is to the serial
    * window's partitioning and its NULLS FIRST order (a plain
    * equi-join would drop those rows). No keys: a cross join. */
  private def joinOn(big: DataFrame, small: DataFrame,
                     keys: Seq[String]): DataFrame =
    if (keys.isEmpty) big.crossJoin(broadcast(small))
    else big.join(
      broadcast(small.select(small.columns.map(c =>
        if (keys.contains(c)) col(c).as(s"__r_$c") else col(c)): _*)),
      keys.map(k => col(k) <=> col(s"__r_$k")).reduce(_ && _))
      .drop(keys.map("__r_" + _): _*)

  /** Bucket rows by the range of `key` within each `parts` group into
    * `b` slices. Returns the rows with `__key` (the BIGINT sort key)
    * and `__vbkt` added, and the per-bucket table (parts, `__vbkt`,
    * `__bagg` = `perBucket`, `__before` = the exclusive prefix of
    * `__bagg` over earlier buckets of the group). A null key lands in
    * the null bucket, which sorts first. */
  private def bucketed(df: DataFrame, parts: Seq[String], key: Column,
                       b: Int, perBucket: Column): (DataFrame, DataFrame) = {
    val pc = parts.map(col)
    val wk = df.withColumn("__key", key.cast("long"))
    val stats = wk.groupBy(pc: _*)
      .agg(min("__key").as("__kmin"), max("__key").as("__kmax"))
    // Bucket index in DECIMAL(38,0): (key − kmin) ≤ the key RANGE, but
    // range × B can wrap signed 64 for wide keys (unix-micros spans at
    // large B) — and under non-ANSI Spark that wrap is silent bucket
    // scrambling, not an error. The decimal product is exact for any
    // (range, B) a caller can express, and the final index is < B, so
    // the cast back to BIGINT never truncates.
    val vb = joinOn(wk, stats, parts)
      .withColumn("__vbkt",
        expr(s"CAST(((CAST(__key AS DECIMAL(38,0)) - __kmin) * $b)" +
          s" div (CAST(__kmax AS DECIMAL(38,0)) - __kmin + 1) AS BIGINT)"))
      .drop("__kmin", "__kmax")
    val offsets = vb.groupBy((pc :+ col("__vbkt")): _*)
      .agg(perBucket.cast("long").as("__bagg"))
      .withColumn("__before", coalesce(sum("__bagg").over(
        Window.partitionBy(pc: _*).orderBy("__vbkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    (vb, offsets)
  }

  /** Bucketed `row_number()` over (key asc, tie asc): the global rank
    * is the bucket's offset plus the row number within the bucket, so
    * no single-partition sort remains. `maxRank` > 0 drops buckets whose
    * offset is already past it BEFORE the per-bucket sort. */
  private[graft] def withRank(df: DataFrame, key: Column, tie: Column,
                              b: Int, out: String,
                              maxRank: Long = 0L): DataFrame = {
    val (vb, offsets) = bucketed(df, Nil, key, b, count(lit(1)))
    val kept =
      if (maxRank > 0L) offsets.filter(col("__before") < maxRank) else offsets
    joinOn(vb, kept.select("__vbkt", "__before"), Seq("__vbkt"))
      .withColumn(out, (col("__before") + row_number().over(
        Window.partitionBy("__vbkt").orderBy(col("__key").asc, tie.asc)))
        .cast("long"))
      .drop("__key", "__vbkt", "__before")
  }

  /** Bucketed EXCLUSIVE running sum of `value` over (key asc, tie asc)
    * within each `parts` group (globally when empty): bucket offsets
    * carry the sum of the group's earlier buckets, and the within-bucket
    * sum runs partitioned by (group, bucket) — for the value-histogram
    * class whose partition axis has tiny cardinality (3 return flags, 5
    * priorities) but whose per-group histogram approaches fact scale.
    * Emits LONG column `out`. */
  private[graft] def withPrefixSumBy(df: DataFrame, parts: Seq[String],
                                     key: Column, tie: Column, value: Column,
                                     b: Int, out: String): DataFrame = {
    val pc = parts.map(col)
    val (vb, offsets) = bucketed(df, parts, key, b, sum(value))
    joinOn(vb, offsets.drop("__bagg"), parts :+ "__vbkt")
      .withColumn(out, col("__before") + coalesce(sum(value).over(
        Window.partitionBy((pc :+ col("__vbkt")): _*)
          .orderBy(col("__key").asc, tie.asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__key", "__vbkt", "__before")
  }
}
