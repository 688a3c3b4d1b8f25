package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors}

/** The session-pin registry (ops.Pins): one instance per key under
  * concurrent nested derives, the session bound, fresh values from a
  * rewritten input dir, and slot deletion when the context stops. */
class PinsSpec extends SparkSpec {

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("concurrent nested derives yield one instance per key") {
    // a fresh session: every key is derived here, not served from an
    // earlier suite's pins
    val s = spark.newSession()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val asks = (0 until 4).map { i =>
        pool.submit(new Callable[(AnyRef, AnyRef)] {
          def call(): (AnyRef, AnyRef) = {
            go.await()
            // half the askers enter through each derivation chain
            if (i % 2 == 0) {
              val cc = ops.Text.dedupClusterLabels(s, sf)
              (cc, ops.DedupAudit.candPairsForTest(s, sf))
            } else {
              val cand = ops.DedupAudit.candPairsForTest(s, sf)
              (ops.Text.dedupClusterLabels(s, sf), cand)
            }
          }
        })
      }
      go.countDown()
      val got = asks.map(_.get())
      assert(got.forall(_._1 eq got.head._1))
      assert(got.forall(_._2 eq got.head._2))
      assert(ops.Text.dedupClusterLabels(s, sf) eq got.head._1)
    } finally pool.shutdown()
  }

  test("the registry holds at most 8 sessions") {
    (1 to 9).foreach(_ => ops.t(spark.newSession(), sf, "region"))
    assert(ops.Pins.sessionCount == 8)
  }

  test("a rewritten input dir serves fresh pins, not stale ones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pins_stale").toFile
    def write(texts: String*): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def postings: Set[(Long, String)] =
      ops.Sketches.enPostings(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    try {
      write("alpha beta", "gamma")
      assert(postings == Set((0L, "alpha"), (0L, "beta"), (1L, "gamma")))
      write("delta", "epsilon zeta")
      assert(postings == Set((0L, "delta"), (1L, "epsilon"), (1L, "zeta")))
    } finally deleteTree(dir)
  }

  test("checkpoint slots are deleted when the context stops") {
    val root = Files.createTempDirectory("pins_ckpt").toFile
    val s = spark.newSession()
    s.conf.set("spark.graft.reliableCheckpoint", "true")
    s.conf.set("spark.graft.checkpointDir", root.toString)
    try {
      assert(ops.Pins.pin(ops.t(s, sf, "region"), "region_slot").count() > 0)
      val slots = new File(ops.Pins.slotDir(s))
      assert(new File(slots, "region_slot").isDirectory)
      // the suites share one SparkContext: call its application-end hook
      ops.Pins.onContextEnd(spark.sparkContext)
      assert(!slots.exists())
      assert(root.isDirectory, "the configured root itself is kept")
    } finally deleteTree(root)
  }
}
