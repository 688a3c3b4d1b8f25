package perfbench

import scala.collection.mutable
import scala.util.Random

/** The `api_curation` input, drawn from the workload seed, with its
  * planted truth.
  *
  *  - `docs` documents of `tokens` words each, words drawn from a fixed
  *    Zipf(0.6) vocabulary of 20 000, so common words are shared widely.
  *  - A tenth of the documents are planted near-copies: each
  *    group is a base document plus 1–3 copies that differ from it in one
  *    word. Every pair inside a group has token-set Jaccard ≥ 0.85, so at
  *    the default 0.8 threshold the clusters are exactly the groups.
  *  - Every document has a 64-dim float embedding; each probe is a noisy
  *    copy (noise 0.05 per lane) of one planted twin, so its top-1 cosine
  *    neighbour is that twin. Probe ids never collide with document ids.
  */
final class Corpus(seed: Long, val docs: Int, tokens: Int, val probes: Int) {
  private val dims = 64
  private val rnd = new Random(seed)
  private val vocab = 20000
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(k => 1.0 / math.pow(k + 1, 0.6))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def word(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, vocab - 1)
  }
  private def jaccard(a: Array[Int], b: Array[Int]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    (sa & sb).size.toDouble / (sa | sb).size
  }

  /** doc id (1-based, shuffled) -> words */
  val text: Array[Array[Int]] = new Array(docs + 1)
  /** planted groups, as sets of doc ids */
  val groups: mutable.ArrayBuffer[Array[Int]] = mutable.ArrayBuffer.empty

  locally {
    val ids = rnd.shuffle((1 to docs).toVector)
    var next = 0
    def take(): Int = { next += 1; ids(next - 1) }
    val copies = math.round(docs * 0.1).toInt
    var planted = 0
    while (planted < copies) {
      val k = math.min(1 + rnd.nextInt(3), copies - planted)
      val base = Array.fill(tokens)(word())
      val members = Array.fill(k + 1)(take())
      text(members(0)) = base
      members.tail.foreach { id =>
        var copy: Array[Int] = null
        // one word differs; redraw until every pair in the group stays
        // comfortably above the 0.8 threshold
        while (copy == null ||
            members.takeWhile(_ != id).exists(m => jaccard(text(m), copy) < 0.85)) {
          copy = base.clone()
          copy(rnd.nextInt(tokens)) = word()
        }
        text(id) = copy
      }
      groups += members.sorted
      planted += k
    }
    while (next < docs) text(take()) = Array.fill(tokens)(word())
  }

  def line(id: Int): String = text(id).map(w => s"w$w").mkString(" ")

  /** doc id -> embedding */
  val vec: Array[Array[Float]] =
    Array.tabulate(docs + 1)(_ => Array.fill(dims)(rnd.nextGaussian().toFloat))

  /** probe id -> (twin doc id, embedding) */
  val probeOf: Map[Long, (Int, Array[Float])] = (0 until probes).map { j =>
    val twin = 1 + rnd.nextInt(docs)
    (1000000000L + j) -> (twin, vec(twin).map(v => v + 0.05f * rnd.nextGaussian().toFloat))
  }.toMap

  /** expected clusters: doc id -> cluster id (the group's least id) */
  def clusterOf: Map[Long, Long] =
    groups.iterator.flatMap(g => g.map(id => id.toLong -> g.min.toLong)).toMap
}
