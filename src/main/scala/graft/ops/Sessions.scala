package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 session analytics (SURVEY §2.62): the batch-graded profile
  * layer over the §2.9 sessionization — session-depth histogram,
  * bounce rate by entry event type, and the entry/exit type profile.
  * All three sessionize exactly as q_events_session does (30-min gap,
  * (ts µs, event_id) total order, per-user window — user_id is the
  * high-cardinality partition key, so the windows scale), then
  * collapse sessions to bounded profile axes. */
object Sessions {

  /** Sessionized events: one row per session with depth and the entry
    * and exit event types under the (us, event_id) total order. */
  private def sessions(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("us", unix_micros(col("ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val gapUs = 1800L * 1000000L
    e.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("depth"),
        min(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"))
  }

  /** Session-depth histogram (§2.62): events-per-session k →
    * session count and share in basis points — the engagement-shape
    * readout behind q_events_session's per-session rows. */
  def qSessionDepth(s: SparkSession, dir: String): DataFrame = {
    val d = sessions(s, dir).groupBy(col("depth").as("k"))
      .agg(count(lit(1)).as("n_sessions"))
    val tot = d.agg(sum("n_sessions").cast("long").as("tot"))
    orderedAll(d.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n_sessions * 10000 div tot"))
      .select("k", "n_sessions", "share_bp"))
  }

  /** Bounce rate by entry type (§2.62): per first-event type, how many
    * sessions start there and what share end immediately (depth 1) —
    * the landing-quality readout. Sessions collapse to ≤|types| rows. */
  def qBounceRate(s: SparkSession, dir: String): DataFrame =
    orderedAll(sessions(s, dir)
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("depth") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_bounce"))
      .withColumn("bounce_bp", expr("n_bounce * 10000 div n_sessions")))

  /** Entry/exit type profile (§2.62): per event type, how many
    * sessions enter and exit there, with entry share over all
    * sessions — the funnel-boundary readout (full outer across the
    * two ≤|types| margins: a type can exit sessions it never opens).
    * The session table is pinned once: three readout branches hang off
    * it, and without the pin each re-runs the two-window sessionizer
    * (the 100× smoke measured 2.5× the single-branch cost). */
  def qEntryExit(s: SparkSession, dir: String): DataFrame = {
    val ss = Pins.pin(sessions(s, dir), "entry_exit_sessions")
    val tot = ss.agg(count(lit(1)).as("tot"))
    val en = ss.groupBy(col("entry_type").as("event_type"))
      .agg(count(lit(1)).as("n_entry"))
    val ex = ss.groupBy(col("exit_type").as("event_type"))
      .agg(count(lit(1)).as("n_exit"))
    orderedAll(en.join(ex, Seq("event_type"), "full_outer")
      .withColumn("n_entry", coalesce(col("n_entry"), lit(0L)))
      .withColumn("n_exit", coalesce(col("n_exit"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("entry_share_bp", expr("n_entry * 10000 div tot"))
      .select("event_type", "n_entry", "n_exit", "entry_share_bp"))
  }
}
