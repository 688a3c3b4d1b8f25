package graft.ops

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-pin registry: the one owner of what is reused across
  * queries of a session, how it is keyed and where it is materialized.
  *
  *  - [[memo]]: a value derived once per (session, input dir, key),
  *    re-derived when the checkpoint mode or the dir's contents change.
  *    Table plans (graft.Tables), the shared dedup/sketch/graph frames
  *    and the stats-gate decisions all live here.
  *  - [[pin]]: materialize a frame — localCheckpoint, or a named parquet
  *    slot under the session's checkpoint namespace ([[ckptReliable]]).
  *  - [[pinned]]: both — memoize a pin whose slot is `name_<dir basename>`.
  *
  * The registry holds at most [[MaxSessions]] sessions, least recently
  * used out: cached frames strongly reference their session, so a weak
  * map would never collect, and a hard cap is what keeps dead sessions'
  * plans from accumulating. Parquet slots outlive eviction (an evicted
  * session may still be alive and hold handles on them); they are
  * deleted when their SparkContext stops ([[onContextEnd]]).
  */
object Pins {
  private val MaxSessions = 8

  /** A once-only value: `derive` runs on first [[value]] access, under
    * the cell's own lock — never under the registry map's, because
    * derivations nest (dedupClusterLabels derives nearPairs, candPairs
    * derives auditSampleBp and enPostings) and a nested update of one
    * ConcurrentHashMap throws `Recursive update` when two keys share a
    * bin. A derive that throws leaves the cell empty for the next call. */
  private final class Cell(val inputs: Seq[(String, Long, Long)],
                           derive: () => Any) {
    lazy val value: Any = derive()
  }

  /** One session's registry entry: its checkpoint namespace (a UUID —
    * identityHashCode can collide across a long-running JVM) and its
    * memo cells. */
  private final class Entry {
    val id: String = java.util.UUID.randomUUID().toString
    val cells = new ConcurrentHashMap[Seq[Any], Cell]()
  }

  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[SparkSession, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, Entry]): Boolean =
        size() > MaxSessions
    })

  private def entry(s: SparkSession): Entry =
    sessions.computeIfAbsent(s, _ => new Entry)

  /** Sessions currently in the registry (≤ [[MaxSessions]]). */
  private[graft] def sessionCount: Int = sessions.size()

  /** The checkpoint mode as it enters every key: UNSET keys as "auto",
    * distinct from an explicit "false" (the unset tier resolves per plan
    * through the ckptAutoBytes leaf gate), so flipping
    * `spark.graft.reliableCheckpoint` mid-session re-derives through the
    * requested durability class instead of serving the other mode's
    * materialization. */
  private def mode(s: SparkSession): String =
    s.conf.getOption("spark.graft.reliableCheckpoint").getOrElse("auto")

  /** Cheap input fingerprint: (name, length, lastModified) of the dir's
    * entries. A rewritten fixture file changes it, so a dir-keyed value
    * is re-derived instead of served stale. Empty for paths the local
    * file system cannot list. */
  private def inputs(dir: String): Seq[(String, Long, Long)] =
    Option(new File(dir).listFiles()).fold(Seq.empty[(String, Long, Long)])(
      _.toSeq.map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1))

  /** `derive`, once per (session, dir, checkpoint mode, key) and input
    * fingerprint of `dir`. `key` names the value and every conf it
    * depends on. Concurrent askers of one key get the same instance. */
  def memo[T](s: SparkSession, dir: String, key: Any*)(derive: => T): T = {
    val fp = inputs(dir)
    val cell = entry(s).cells.compute(dir +: mode(s) +: key, (_, old) =>
      if (old != null && old.inputs == fp) old else new Cell(fp, () => derive))
    cell.value.asInstanceOf[T]
  }

  /** The slot name `name_<dir basename>`: two dirs queried in one
    * session never share a parquet slot (a retained handle from the
    * first dir would silently re-read the second's data). */
  def slot(name: String, dir: String): String =
    name + "_" + new File(dir).getName

  /** [[pin]] `df` once per (session, dir) under [[slot]]`(name, dir)`. */
  private[graft] def pinned(s: SparkSession, name: String, dir: String)(
      df: => DataFrame): DataFrame =
    memo(s, dir, name)(pin(df, slot(name, dir)))

  // ---- materialization -------------------------------------------------

  /** Materialize loop or shared state, truncating lineage. Small inputs:
    * eager `localCheckpoint` — blocks live in executor storage, fast, but
    * they DIE WITH THE EXECUTOR; correct on local[n], lossy on a real
    * cluster under executor churn. `spark.graft.reliableCheckpoint=true`
    * (forced, or auto-engaged above the ckptAutoBytes leaf floor — see
    * [[ckptReliable]]) writes state through fault-tolerant storage
    * instead (`spark.graft.checkpointDir`, default
    * `java.io.tmpdir/graft_ckpt`; on a cluster point it at DFS): an
    * explicit parquet write to a NAMED SLOT under the session's
    * namespace, read back as the new lineage root. Named slots (not RDD
    * `checkpoint()`) because slot names can be REUSED — round r+2
    * overwrites round r's slot, which is safe (round r's data is only
    * read while materializing round r+1, already on disk) and bounds the
    * footprint at the FIXED set of named slots (clusterLabels'
    * <prefix>_pairs/labels_0/cedges/labels_1..3 — the loop alternates
    * the last two and is skipped when contraction leaves no edge, one
    * prefix per calling operator — plus
    * qPagerank's pagerank_edges_raw/pagerank_deg/pagerank_edges)
    * regardless of round count. RDD `checkpoint()` files, by contrast,
    * are only ever deleted when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` was set at
    * context startup — the default leaks one full state copy per round.
    */
  private[graft] def pin(df: DataFrame, slot: String): DataFrame = {
    val s = df.sparkSession
    if (ckptReliable(df)) {
      val path = s"${slotDir(s)}/$slot"
      df.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    } else df.localCheckpoint(true)
  }

  /** Pick the materialization class for [[pin]] (round-13): conf
    * verbatim when set ("true" → parquet slots, anything else → local
    * checkpoint); when UNSET, an auto gate on the pinned plan's LEAF
    * file-relation bytes (`spark.graft.ckptAutoBytes`, default 256 MiB
    * — leaf sizes are real file statistics, unlike join-node
    * sizeInBytes estimates which multiply and overshoot by orders of
    * magnitude). Below the floor graded SFs keep the fast in-memory
    * localCheckpoint, byte-identical plans; above it loop state is
    * written through compressed parquet slots instead of executor
    * block storage. That is not only the durability class a real
    * cluster needs (blocks die with the executor) — it MEASURES FASTER
    * at scale: the 100× smoke clocked q_pagerank at 41/66 s with
    * parquet slots vs 171/257 s with localCheckpoint (BASELINE.md
    * round 13), because columnar-compressed state avoids the
    * serialized-block storage-memory pressure that dominates the
    * local[32] run at that size. */
  private[graft] def ckptReliable(df: DataFrame): Boolean = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.reliableCheckpoint") match {
      case Some(v) => v == "true"
      case None =>
        val floor = s.conf.getOption("spark.graft.ckptAutoBytes")
          .map(_.toLong).getOrElse(256L << 20)
        // Count ONLY relation leaves whose sizeInBytes is a real
        // measurement: file-backed scans (LogicalRelation over file
        // stats) and in-memory LocalRelations. Everything else —
        // notably the LogicalRDD a previous localCheckpoint leaves
        // behind, which (Spark 3.4+) carries the ORIGIN plan's
        // estimate, i.e. the multiplicative join overestimate for
        // loop state — is ignored: counting it would flip loop pins
        // chaining from a local pin onto the parquet path at ANY
        // scale. The resulting class is stable along a chain: a chain
        // that started local contributes no counted leaves and stays
        // local (its state was floor-small at the first decision); a
        // chain that started reliable reads its parquet slots back as
        // file relations with real stats and stays reliable.
        import org.apache.spark.sql.execution.datasources.LogicalRelation
        import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        df.queryExecution.optimizedPlan.collectLeaves().collect {
          case l: LogicalRelation => l.stats.sizeInBytes
          case l: LocalRelation => l.stats.sizeInBytes
        }.sum >= floor
    }
  }

  // ---- slot lifetime ---------------------------------------------------

  /** Per SparkContext, the session slot directories [[pin]] wrote. */
  private val slotDirs =
    new ConcurrentHashMap[SparkContext, java.util.Set[String]]()

  /** The session's checkpoint namespace,
    * `<spark.graft.checkpointDir | java.io.tmpdir/graft_ckpt>/<session id>`,
    * recorded for deletion when the session's SparkContext stops. */
  private[graft] def slotDir(s: SparkSession): String = {
    val root = s.conf.getOption("spark.graft.checkpointDir").getOrElse(
      new File(sys.props("java.io.tmpdir"), "graft_ckpt").toString)
    val dir = s"$root/${entry(s).id}"
    slotDirs.computeIfAbsent(s.sparkContext, sc => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          onContextEnd(sc)
      })
      ConcurrentHashMap.newKeySet[String]()
    }).add(dir)
    dir
  }

  /** The application-end hook: forget every session of `sc` and delete
    * the session slot directories written under it (never the
    * configured root). */
  private[graft] def onContextEnd(sc: SparkContext): Unit = {
    sessions.keySet.removeIf(_.sparkContext eq sc)
    Option(slotDirs.remove(sc)).foreach(_.forEach { d =>
      val p = new Path(d)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    })
  }
}
