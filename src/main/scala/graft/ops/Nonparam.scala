package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 nonparametric statistics (SURVEY §2.85): rank-concordance
  * via the contingency-table Kendall counts (Goodman–Kruskal gamma —
  * the sqrt-free concordance coefficient), the Wald–Wolfowitz runs
  * readout per event type, and delete-one-stratum jackknife means.
  * All-integer emissions; pair products ride DECIMAL(38,0) (DuckDB:
  * HUGEINT) since cell-count products wrap BIGINT at warehouse scale.
  *
  * Scale shapes: Kendall runs on the CONTINGENCY CELLS (bounded by the
  * small discrete domains, ~550 cells — the cell-pair join is
  * broadcast-sized no matter the fact count); runs-test state is one
  * lag window partitioned by type (the §2.9 event-sequence
  * convention); jackknife is one grouped aggregate + a broadcast
  * totals row.
  */
object Nonparam {

  /** Kendall concordance via contingency cells (§2.85): per return
    * flag, concordant/discordant pair counts between quantity units
    * and discount cents, and Goodman–Kruskal gamma ×10³ =
    * (C−D)·1000 div (C+D) — the tie-robust, sqrt-free rank
    * correlation. Facts collapse to ≤ 50×11 cells per flag first;
    * the pair double-count runs over cells, never rows. */
  def qKendall(s: SparkSession, dir: String): DataFrame = {
    // Int64 note: C/D emit as BIGINT — exact to ~10¹⁸ comparable pairs;
    // past that (≳10⁹-row flags) the emission itself moves to
    // DECIMAL(38,0), same boundary note as q_graph_modularity.
    val cells = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("y"))
      .groupBy("flag", "x", "y").agg(count(lit(1)).as("c"))
    orderedAll(cells.as("a").join(cells.as("b"),
        col("a.flag") === col("b.flag") && col("a.x") < col("b.x"))
      .groupBy(col("a.flag").as("flag"))
      .agg(
        sum(expr("CASE WHEN a.y < b.y THEN " +
          "CAST(a.c AS DECIMAL(38,0)) * b.c ELSE CAST(0 AS " +
          "DECIMAL(38,0)) END")).as("cd"),
        sum(expr("CASE WHEN a.y > b.y THEN " +
          "CAST(a.c AS DECIMAL(38,0)) * b.c ELSE CAST(0 AS " +
          "DECIMAL(38,0)) END")).as("dd"))
      .select(col("flag"),
        col("cd").cast("long").as("concordant"),
        col("dd").cast("long").as("discordant"))
      .withColumn("gamma_milli", expr(
        "CASE WHEN concordant + discordant = 0 THEN NULL ELSE " +
          "(concordant - discordant) * 1000 div " +
          "(concordant + discordant) END")))
  }

  /** Wald–Wolfowitz runs readout (§2.85): per event type, events in
    * time order are signed above/at-or-below the TYPE MEAN (exact:
    * cents·n vs sum comparison — no float mean), runs counted as
    * 1 + sign changes, against the expected run count
    * 1 + 2·n_a·n_b/n in milli-units — randomness-of-sequence
    * deviation without the sqrt-bearing z. The sign lag is the §2.9
    * per-type ordered window (parallel across types); at 100 TB the
    * same seam-stitched day-partitioned carry as q_interval_overlap
    * applies — documented swap, the state is one bit. */
  def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val tot = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("s"))
    val w = Window.partitionBy("event_type").orderBy("us", "event_id")
    orderedAll(e.join(broadcast(tot), "event_type")
      .withColumn("above", expr(
        "CASE WHEN CAST(cents AS DECIMAL(38,0)) * n > " +
          "CAST(s AS DECIMAL(38,0)) THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("chg", when(lag("above", 1).over(w).isNull, 1L)
        .otherwise(when(col("above") =!= lag("above", 1).over(w), 1L)
          .otherwise(0L)))
      .groupBy("event_type")
      .agg(max("n").as("n"), sum("above").cast("long").as("n_above"),
        sum("chg").cast("long").as("n_runs"))
      .withColumn("n_below", expr("n - n_above"))
      .withColumn("expected_milli", expr(
        "1000 + CAST(2000 AS DECIMAL(38,0)) * n_above * n_below div n"))
      .withColumn("excess_milli",
        expr("n_runs * 1000 - expected_milli"))
      .select(col("event_type"), col("n"), col("n_above"), col("n_below"),
        col("n_runs"), col("expected_milli").cast("long").as("expected_milli"),
        col("excess_milli").cast("long").as("excess_milli")))
  }

  /** Delete-one-stratum jackknife (§2.85): per event type h, the
    * full-sample mean and the leave-type-out mean in milli-cents, and
    * the jackknife pseudo-value p_h = n·mean − (n−n_h)·mean₋ₕ — the
    * stratum-influence diagnostic behind q_bootstrap_ci's intervals.
    * One grouped aggregate + one 1-row broadcast; exact integer
    * divisions throughout. */
  def qJackknife(s: SparkSession, dir: String): DataFrame = {
    val st = t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_h"), sum("cents").cast("long").as("s_h"))
    val tot = st.agg(sum("n_h").cast("long").as("n"),
      sum("s_h").cast("long").as("s"))
    orderedAll(st.crossJoin(broadcast(tot))
      .withColumn("mean_full_milli", expr(
        "CAST(CAST(s AS DECIMAL(38,0)) * 1000 div n AS BIGINT)"))
      .withColumn("mean_loo_milli", expr(
        "CAST(CAST(s - s_h AS DECIMAL(38,0)) * 1000 div (n - n_h) " +
          "AS BIGINT)"))
      .withColumn("pseudo_milli", expr(
        "n * mean_full_milli - (n - n_h) * mean_loo_milli"))
      .select("event_type", "n_h", "mean_full_milli", "mean_loo_milli",
        "pseudo_milli"))
  }

  /** Mood's median test inputs (§2.99): per order priority, how many
    * orders sit strictly above the GLOBAL discrete median of
    * o_totalprice cents — the k-sample location test that needs no
    * distributional assumption at all (the χ² on these counts is the
    * textbook finish; the emitted table IS its contingency). The pivot
    * comes from the shared q_percentile_disc recipe on a global value
    * histogram. Round 11: the histogram is NOT the exemption class the
    * round-10 comment claimed — totalprice cents are near-distinct, so
    * the (cents, cnt) table approaches fact scale and its serial
    * cumulative window is a one-task ceiling. It now rides the shared
    * [[DistRank.gate]] auto-engage: above the stats floor the histogram
    * pins and the prefix sum stitches via [[DistRank.withPrefixSum]]
    * (bit-equal by integer associativity, Round11RankSpec-forced). The
    * pivot then rides a 1-row broadcast onto one mergeable fold. */
  def qMedianTest(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    val h0 = o.groupBy("cents").agg(count(lit(1)).as("cnt"))
    val (b, h) = DistRank.gate(s, h0, 1000000L,
      Pins.slot("mediantest_auto", dir))
    val w = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (b <= 0) h.withColumn("cum", sum("cnt").over(w))
      else DistRank.withPrefixSum(h, col("cents"), col("cents"),
        col("cnt"), b, "cum_before")
        .withColumn("cum", col("cum_before") + col("cnt"))
    val piv = cum
      .crossJoin(broadcast(h.agg(sum("cnt").as("n_all"))))
      .filter(col("cum") * 2 >= col("n_all"))
      .agg(min("cents").as("pivot_cents"))
    orderedAll(o.crossJoin(broadcast(piv))
      .groupBy("o_orderpriority", "pivot_cents")
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents") > col("pivot_cents"), 1L).otherwise(0L))
          .cast("long").as("n_above"))
      .withColumn("above_bp", expr("n_above * 10000 div n"))
      .select("o_orderpriority", "n", "n_above", "above_bp",
        "pivot_cents"))
  }

  /** Cochran's Q inputs (§2.99): the k-treatment binary repeated-
    * measures test on the (user, day) × event-type PRESENCE matrix
    * (did the user-day block see type j) — "do the k event types reach
    * the same share of active user-days", the categorical sibling of
    * q_anova. The block is the user-DAY, not the user: over a long
    * window every user eventually fires every type (all r_i = k makes
    * the denominator Σ rᵢ(k−rᵢ) identically zero — the test says
    * nothing), while a day-grain block is sparse and discriminating.
    * The matrix never materializes as a grid: one distinct() collapse,
    * then row totals (per block) and column totals (per type) are two
    * independent mergeable folds whose 1-row summaries cross-join
    * broadcast. Q is exact integer arithmetic end-to-end —
    * (k−1)·(k·ΣC² − (ΣC)²)·1000 div (k·ΣR − ΣR²) in milli. */
  def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val pres = t(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).distinct()
    val r = pres.groupBy("user_id", "day").agg(count(lit(1)).as("r"))
      .agg(count(lit(1)).as("n_blocks"),
        sum("r").cast("long").as("sum_r"),
        sum(expr("r * r")).cast("long").as("sum_r2"))
    val c = pres.groupBy("event_type").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("k"),
        sum("c").cast("long").as("sum_c"),
        sum(expr("c * c")).cast("long").as("sum_c2"))
    orderedAll(c.crossJoin(broadcast(r))
      .withColumn("q_milli", expr(
        "CASE WHEN k * sum_r - sum_r2 = 0 THEN NULL ELSE " +
          "(k - 1) * (k * sum_c2 - sum_c * sum_c) * 1000 " +
          "div (k * sum_r - sum_r2) END"))
      .select("k", "n_blocks", "sum_c", "sum_c2", "sum_r", "sum_r2",
        "q_milli"))
  }

  /** Fleiss' kappa (§2.111): chance-corrected agreement of the k = 5
    * event-type "raters" on the binary judgment "was this (user, day)
    * active" — the k-rater generalization of q_cohens_kappa, over the
    * SAME (user, day) block design as [[qCochranQ]] (Cochran asks "do
    * the raters differ"; Fleiss asks "how much do they agree beyond
    * chance" — the two sides of one contingency fold). With r_i
    * positives among k raters per block: P̄ = (2Σr² − 2kΣr +
    * Nk(k−1)) / (Nk(k−1)), p = Σr/(Nk), P̄e = p² + (1−p)², κ =
    * (P̄ − P̄e)/(1 − P̄e) — assembled ENTIRELY in DECIMAL(38,0)
    * integer arithmetic (κ is a rational of exact integers: round()
    * would .5-flap, so κ·1000 is a sign-split exact division). κ < 0
    * reads "less agreement than chance", expected here — event types
    * fire near-independently. */
  def qFleissKappa(s: SparkSession, dir: String): DataFrame = {
    val pres = t(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).distinct()
    val kAgg = pres.select("event_type").distinct()
      .agg(count(lit(1)).as("k"))
    val r = pres.groupBy("user_id", "day").agg(count(lit(1)).as("r"))
      .agg(count(lit(1)).as("n_blocks"),
        sum("r").cast("long").as("s"),
        sum(expr("r * r")).cast("long").as("s2"))
    orderedAll(r.crossJoin(broadcast(kAgg))
      // A/D are P̄'s exact numerator/denominator; M/Pe are P̄e's on the
      // (Nk)² grid. κ = (A·M − Pe·D)/(D·(M − Pe)) — one sign-split
      // ×1000 division of DECIMAL(38,0) products.
      .withColumn("a_num", expr(
        "2 * CAST(s2 AS DECIMAL(38,0)) - 2 * k * s + " +
          "n_blocks * k * (k - 1)"))
      .withColumn("d_den", expr(
        "CAST(n_blocks AS DECIMAL(38,0)) * k * (k - 1)"))
      .withColumn("pe_num", expr(
        "CAST(s AS DECIMAL(38,0)) * s + " +
          "(CAST(n_blocks AS DECIMAL(38,0)) * k - s) * " +
          "(CAST(n_blocks AS DECIMAL(38,0)) * k - s)"))
      .withColumn("m_den", expr(
        "CAST(n_blocks AS DECIMAL(38,0)) * k * n_blocks * k"))
      .withColumn("num", expr("a_num * m_den - pe_num * d_den"))
      .withColumn("den", expr("d_den * (m_den - pe_num)"))
      .withColumn("kappa_milli", expr(
        "CASE WHEN den = 0 THEN NULL " +
          "WHEN num >= 0 THEN CAST(num * 1000 div den AS BIGINT) " +
          "ELSE -CAST((-num) * 1000 div den AS BIGINT) END"))
      .select("k", "n_blocks", "s", "s2", "kappa_milli"))
  }

  /** Kruskal–Wallis inputs (§2.102): the rank-based k-sample location
    * test on totalprice cents across order priorities — the
    * nonparametric q_anova (q_mannwhitney is its k = 2 special case),
    * robust to the heavy tail that inflates ANOVA's within-SS. Ranks
    * never touch a row: the POOLED value histogram carries the
    * tie-averaged rank of every distinct value as an exact ×2 integer
    * (2·cum_before + cnt + 1 — midrank doubled dodges the half), the
    * per-(group, value) counts join it value-to-value, and per-group
    * rank sums collapse in one fold. The tie term Σ(t³ − t) rides the
    * same histogram. H is assembled from the exact integers as the
    * single terminal double — 12·Σ(R_g²/n_g)/(N(N+1)) − 3(N+1), over
    * the tie correction 1 − Σ(t³−t)/(N³−N) — in milli. Round 11: the
    * pooled histogram is near-distinct-valued (≈ one row per order), so
    * its cumulative window is DistRank-gated exactly like q_median_test
    * — the exclusive prefix (cum_before) stitches from bucket offsets,
    * and avg2 = 2·cum_before + cnt + 1 needs no inclusive sum at all. */
  def qKruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
    val h0 = o.groupBy("v").agg(count(lit(1)).as("cnt"))
    val (b, h) = DistRank.gate(s, h0, 1000000L,
      Pins.slot("kw_auto", dir))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked =
      (if (b <= 0) h.withColumn("cum", sum("cnt").over(w))
        .withColumn("cum_before", col("cum") - col("cnt"))
       else DistRank.withPrefixSum(h, col("v"), col("v"),
         col("cnt"), b, "cum_before"))
      .withColumn("avg2", expr("2 * cum_before + cnt + 1"))
    val gv = o.groupBy("grp", "v").agg(count(lit(1)).as("cnt_gv"))
    val g = gv.join(ranked.select("v", "avg2"), "v")
      .groupBy("grp")
      .agg(sum("cnt_gv").cast("long").as("n_g"),
        sum(expr("CAST(cnt_gv AS DECIMAL(38,0)) * avg2")).as("r2_g"))
    val ties = ranked.agg(
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt"))
        .cast("long").as("tie_num"))
    orderedAll(g.agg(
      count(lit(1)).as("k"),
      sum("n_g").cast("long").as("n"),
      sum(expr("(r2_g * r2_g) div (4 * CAST(n_g AS DECIMAL(38,0)))"))
        .cast("long").as("sum_rq"))
      .crossJoin(broadcast(ties))
      .withColumn("h_milli", expr(
        "CASE WHEN n <= 1 OR tie_num >= " +
          "CAST(n AS DECIMAL(38,0)) * n * n - n THEN NULL ELSE " +
          "CAST(round((12.0 * sum_rq / (CAST(n AS DOUBLE) * (n + 1)) " +
          "- 3.0 * (n + 1)) / (1.0 - CAST(tie_num AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * n * n - n)) * 1000) AS BIGINT) END"))
      .select("k", "n", "sum_rq", "tie_num", "h_milli"))
  }
}
