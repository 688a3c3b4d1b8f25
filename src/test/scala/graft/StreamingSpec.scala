package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming twins (SURVEY §2.9 last row, §5.2.2): the same
  * event-time semantics the batch queries grade, re-run as true streams
  * over MemoryStream. Not driver-gradable (the harness materializes batch
  * DataFrames), so unit-test-only by design. */
case class Ev(ts: Timestamp, user_id: Long, value: Double)

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming tumbling window agg with watermark") {
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(Ev(ts(1), 1, 10), Ev(ts(2), 1, 20), Ev(ts(16), 2, 30))
    val agg = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val rows = s.sql(
        """SELECT user_id, n, v FROM tumbling_out
          |ORDER BY user_id""".stripMargin).collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq == Seq((1L, 2L, 30.0), (2L, 1L, 30.0)))
    } finally q.stop()
  }

  test("streaming session_window groups by inactivity gap") {
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Ev]
    // user 1: events at 10:01, 10:05 (same session), 10:50 (new session)
    mem.addData(Ev(ts(1), 1, 1), Ev(ts(5), 1, 1), Ev(ts(50), 1, 1))
    val agg = mem.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("session_out").start()
    try {
      q.processAllAvailable()
      val ns = s.sql("SELECT n FROM session_out ORDER BY n").collect()
        .map(_.getLong(0)).toSeq
      assert(ns == Seq(1L, 2L))
    } finally q.stop()
  }

  test("transformWithState running totals merge across microbatches") {
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    // transformWithState only supports the RocksDB state store
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val totals = graft.streaming.EventStreams
        .runningUserTotals(mem.toDF())
      val q = totals.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("tws_out").start()
      try {
        // batch 1: user 1 twice, user 2 once
        mem.addData(Ev(ts(1), 1, 1.00), Ev(ts(2), 1, 2.00),
          Ev(ts(3), 2, 5.00))
        q.processAllAvailable()
        // batch 2: user 1 again, user 3 new — state must CARRY
        mem.addData(Ev(ts(4), 1, 3.00), Ev(ts(5), 3, 7.00))
        q.processAllAvailable()
        val rows = s.sql("SELECT user_id, n, cents FROM tws_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // final (max-n) row per user equals the batch groupBy
        val fin = rows.groupBy(_._1).view
          .mapValues(_.maxBy(_._2)).toMap
        assert(fin(1L) == ((1L, 3L, 600L)), s"user1: ${fin(1L)}")
        assert(fin(2L) == ((2L, 1L, 500L)))
        assert(fin(3L) == ((3L, 1L, 700L)))
        // user 1 emitted an intermediate row in batch 1 (n=2) — the
        // running contract, proving cross-batch state rather than a
        // single-batch recompute
        assert(rows.contains((1L, 2L, 300L)), s"rows: ${rows.toSeq}")
      } finally q.stop()
    } finally
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming running totals twin DistRank.withPrefixSum") {
    // Round-10 item 8: the batch total-order prefix sum (DistRank's
    // bucket-stitched spelling) and the streaming cumulative state
    // (transformWithState) must tell the same story over the same rows.
    // Feed one logical key in the batch side's (key, tie) total order,
    // two microbatches; every emitted running total must equal the
    // batch INCLUSIVE prefix (exclusive + own value) at that row count.
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val vals = Seq(3.00, 1.00, 4.00, 1.00, 5.00, 9.00)
      val batch = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, math.round(v * 100)) }
        .toDF("k", "cents")
      val ps = ops.DistRank.prefixSum(batch, Nil,
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("cents"), 3, "ps")
        .collect().map(r => r.getLong(0) -> (r.getLong(2) + r.getLong(1)))
        .toMap // k -> inclusive prefix cents
      val mem = MemoryStream[Ev]
      val q = graft.streaming.EventStreams.runningUserTotals(mem.toDF())
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("ps_twin_out").start()
      try {
        mem.addData(vals.take(3).zipWithIndex.map { case (v, i) =>
          Ev(ts(i + 1), 1L, v)
        }: _*)
        q.processAllAvailable()
        mem.addData(vals.drop(3).zipWithIndex.map { case (v, i) =>
          Ev(ts(i + 4), 1L, v)
        }: _*)
        q.processAllAvailable()
        val emitted = s.sql("SELECT n, cents FROM ps_twin_out")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // emitted running total after n rows == batch inclusive prefix
        // of the n-th row in total order (keys arrive in that order)
        for ((n, cents) <- emitted)
          assert(cents == ps(n - 1),
            s"stream says $cents after $n rows, batch prefix ${ps(n - 1)}")
        assert(emitted.nonEmpty)
      } finally q.stop()
    } finally
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("StreamingQueryListener observes rows and stateful progress") {
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val statefulOps = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        seen.addAndGet(e.progress.numInputRows)
        statefulOps.addAndGet(e.progress.stateOperators.length.toLong)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      val mem = MemoryStream[Ev]
      val agg = mem.toDF()
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode(OutputMode.Complete())
        .format("memory").queryName("listener_out").start()
      try {
        mem.addData(Ev(ts(1), 1, 1), Ev(ts(2), 2, 2), Ev(ts(3), 1, 3))
        q.processAllAvailable()
        // listener events are async; the bus drains on awaitTermination
        // or stop — poll briefly instead of sleeping blind
        val deadline = System.nanoTime() + 10_000_000_000L
        while (seen.get() < 3 && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(seen.get() == 3, s"listener saw ${seen.get()} input rows")
        assert(statefulOps.get() >= 1,
          "the stateful aggregation must report a state operator")
      } finally q.stop()
    } finally s.streams.removeListener(listener)
  }

  test("dropDuplicatesWithinWatermark dedups late replays") {
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(Ev(ts(1), 1, 1), Ev(ts(1), 1, 1), Ev(ts(2), 2, 2))
    val dedup = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "ts")
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      assert(s.sql("SELECT count(*) FROM dedup_out").collect()(0)
        .getLong(0) == 2)
    } finally q.stop()
  }

  test("foreachBatch incremental dedup converges to the full recluster") {
    // Round-15 item 3: the daily-ingest loop as a true stream — each
    // micro-batch of arriving documents flows through the ONE composed
    // entry point (Graft.dedupIncremental), the returned (labels,
    // bands) pair IS the standing state for the next batch, and after
    // all batches the standing labels equal the batch-mode full
    // recluster. The harness can't grade streams, so this is the
    // unit-tier twin of the ApiSpec equivalence pin.
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    import graft.api.Graft
    val docs = ops.t(s, sf, "documents")
      .filter(col("lang") === "en").select("doc_id", "text")
    val day0 = docs.filter(col("doc_id") % 10 < 6)
    // standing state: labels + bands, materialized (localCheckpoint —
    // the state must survive past each micro-batch's lifetime without
    // re-deriving a lineage through the stream)
    var state = (
      Graft.minhashClusters(day0, "doc_id", "text").localCheckpoint(true),
      Graft.minhashBandRows(day0, "doc_id", "text").localCheckpoint(true))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (l, b) = Graft.dedupIncremental(state._1, state._2, batch,
          "doc_id", "text")
        state = (l.localCheckpoint(true), b.localCheckpoint(true))
        ()
      }.start()
    try {
      // two arrival days as two micro-batches
      val arr = docs.filter(col("doc_id") % 10 === 7 ||
          col("doc_id") % 10 === 8)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val (d1, d2) = arr.partition(_._1 % 10 == 7)
      mem.addData(d1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(d2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = state._1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = Graft.minhashClusters(
        docs.filter(col("doc_id") % 10 < 6 || col("doc_id") % 10 === 7 ||
          col("doc_id") % 10 === 8),
        "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == full)
    assert(got.nonEmpty)
  }

  test("foreachBatch incremental dedup via the append-shaped delta " +
      "converges to the full recluster") {
    // Round-16 item 1, streaming twin: the SAME daily-ingest loop, but
    // each micro-batch asks for `changedOnly = true` and the standing
    // state advances by MERGE (replace label rows by id, insert new)
    // + APPEND (batch band rows) — the O(batch)-write shape a 100 TB
    // pipeline persists, proven equal to the full recluster across a
    // two-batch stream.
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    import graft.api.Graft
    val docs = ops.t(s, sf, "documents")
      .filter(col("lang") === "en").select("doc_id", "text")
    val day0 = docs.filter(col("doc_id") % 10 < 6)
    var state = (
      Graft.minhashClusters(day0, "doc_id", "text").localCheckpoint(true),
      Graft.minhashBandRows(day0, "doc_id", "text").localCheckpoint(true))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (ld, bd) = Graft.dedupIncremental(state._1, state._2, batch,
          "doc_id", "text", changedOnly = true)
        val mergedLabels = state._1
          .join(ld.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionAll(ld)
        val appendedBands = state._2.unionAll(bd)
        state = (mergedLabels.localCheckpoint(true),
          appendedBands.localCheckpoint(true))
        ()
      }.start()
    try {
      val arr = docs.filter(col("doc_id") % 10 === 7 ||
          col("doc_id") % 10 === 8)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val (d1, d2) = arr.partition(_._1 % 10 == 7)
      mem.addData(d1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(d2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val union = docs.filter(col("doc_id") % 10 < 6 ||
      col("doc_id") % 10 === 7 || col("doc_id") % 10 === 8)
    val got = state._1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = Graft.minhashClusters(union, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == full)
    // the band state the appends accumulated equals the full banding
    assert(state._2.collect().map(_.toString).toSet ==
      Graft.minhashBandRows(union, "doc_id", "text")
        .collect().map(_.toString).toSet)
    assert(got.nonEmpty)
  }
}
