package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.{Catalog, SparkEntry}
import graft.api.Graft

/** Benchmark harness: one client in a closed loop on `local[4]`.
  *
  * Usage: `Harness key=value ...`, normally launched by `perfbench/run.py`.
  *  - `mode=catalog`: `sf=<fixture dir> queries=<file> seed=` runs the
  *    named SparkEntry queries, each pass in its own order drawn from the
  *    seed; `expect=<file>` holds the reference digest of each
  *    (tab-separated name, digest).
  *  - `mode=api`: `seed= docs= tokens= probes= work=<dir>` runs the
  *    `graft.api.Graft` curation pipeline on a generated corpus.
  *  - common: `warm=` untimed passes after the set-up (a session and a
  *    first untimed pass), `passes=` timed passes after those,
  *    `trace=0|1`, `localDir=`, `warehouse=`, `out=<result json>`,
  *    `spans=<jsonl>`.
  *
  * Every layer is timed from outside, around calls into its public
  * functions: the query function or Graft call (`ops`), planning of the
  * same QueryExecution that then runs (`plans`), the action (`exec`) and
  * the writer (`sources`). With `trace=1` each phase also tags its Spark
  * jobs with a job group and the [[Recorder]] attributes stages and tasks
  * to it; with `trace=0` nothing is registered and only wall times are
  * kept.
  */
object Harness {
  private val cpus = 4
  private val a = mutable.HashMap.empty[String, String]
  private def arg(k: String): String = a.getOrElse(k, sys.error(s"missing $k="))

  private lazy val trace = a.getOrElse("trace", "0") == "1"
  private var spark: SparkSession = _
  private var rec: Recorder = _

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  // ---- records -------------------------------------------------------

  final case class Span(qid: String, id: Int, parent: Int, name: String,
                        layer: String, startMs: Double, endMs: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** job group -> (span its jobs nest under, query id) */
  private val groupSpan = mutable.HashMap.empty[String, (Int, String)]
  private def span(qid: String, parent: Int, name: String, layer: String,
                   s: Double, e: Double): Int = {
    val id = spans.size + 1
    spans += Span(qid, id, parent, name, layer, s, e)
    id
  }

  /** One operation: a catalogue query or one stage of the API pipeline. */
  final class Op(val qid: String, val kind: String, val pass: Int, val name: String) {
    var ok = false
    var err = ""
    var start, end = 0.0
    /** layer -> interval, each from its own clock reads */
    val layers = mutable.LinkedHashMap.empty[String, (Double, Double)]
    var exchanges = 0
    var digest = ""
    val extra = mutable.LinkedHashMap.empty[String, String]
    def wallMs: Double = end - start
    def ms(layer: String): Double = layers.get(layer).fold(0.0)(iv => iv._2 - iv._1)
  }
  private val ops = mutable.ArrayBuffer.empty[Op]
  private var setupS, registerMs = 0.0
  private val warmS = mutable.ArrayBuffer.empty[Double]
  private val passes = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]

  private def group(qid: String, layer: String): Unit = if (trace) {
    val g = s"$qid|$layer"
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    rec.current = g
  }
  private def drain(): Unit = if (trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Runs `body` as `layer` of `op`. The interval ends when `body`
    * returns or throws; a layer never reached has none. */
  private def layer[T](op: Op, layer: String)(body: => T): T = {
    group(op.qid, layer)
    val s = nowMs
    try body finally op.layers(layer) = s -> nowMs
  }

  // ---- session -------------------------------------------------------

  private def newSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the same session settings as graft.Bench
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", arg("localDir"))
      .config("spark.sql.warehouse.dir", arg("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
  }

  /** The set-up (session, `register`, then the first pass, which fills
    * the session pins and is timed as part of it), `warm=` untimed
    * passes, then `passes=` timed ones. A pass returns whether every
    * operation in it succeeded. */
  private def run(register: => Unit)(pass: (String, String, Int) => Boolean): Unit = {
    val t0 = nowMs
    newSession()
    val r0 = nowMs
    register
    registerMs = nowMs - r0
    pass("s0", "setup", 0)
    setupS = (nowMs - t0) / 1e3
    for (p <- 0 until arg("warm").toInt) {
      val w0 = nowMs
      pass(s"w$p", "warm", p)
      warmS += (nowMs - w0) / 1e3
    }
    System.gc()
    for (p <- 0 until arg("passes").toInt) {
      val p0 = nowMs
      val ok = pass(s"t$p", "timed", p)
      passes += ((p, (nowMs - p0) / 1e3, ok))
    }
  }

  // ---- catalogue -------------------------------------------------------

  private lazy val expect: Map[String, String] = a.get("expect").map { f =>
    scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty)
      .map { l => val p = l.split("\t"); p(0) -> p(1) }.toMap
  }.getOrElse(Map.empty)

  private def runQuery(sf: String, name: String, qid: String, kind: String, pass: Int): Op = {
    val op = new Op(qid, kind, pass, name)
    var qe: QueryExecution = null
    op.start = nowMs
    try {
      val df = layer(op, "ops")(SparkEntry.queries(name)(spark, sf))
      qe = layer(op, "plans") { val q = df.queryExecution; q.executedPlan; q }
      val d = layer(op, "exec") {
        val types = qe.executedPlan.output.map(_.dataType).toArray
        SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name"))(Digest.of(qe.toRdd, types))
      }
      op.digest = d.toString
      expect.get(name) match {
        case Some(e) if e != op.digest => op.err = s"digest ${op.digest} != reference $e"
        case _ => op.ok = true
      }
    } catch {
      case e: Throwable =>
        op.err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally if (trace) spark.sparkContext.clearJobGroup()
    op.end = nowMs
    if (trace) {
      if (op.layers.contains("exec")) op.exchanges = Recorder.exchanges(qe.executedPlan)
      val q = span(qid, 0, name, "query", op.start, op.end)
      op.layers.foreach { case (l, (s, e)) => groupSpan(s"$qid|$l") = span(qid, q, l, l, s, e) -> qid }
    }
    ops += op
    op
  }

  private def catalog(): Unit = {
    val sf = arg("sf")
    val names = scala.io.Source.fromFile(arg("queries")).getLines().filter(_.nonEmpty).toVector
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    // A new order every pass: run times depend on the order queries ran
    // in, so one order per run would make that order part of the result.
    val rnd = new scala.util.Random(arg("seed").toLong)
    run {
      group("setup", "tables")
      Catalog.registerTables(spark, sf)
    } { (tag, kind, p) =>
      rnd.shuffle(names).map(n => runQuery(sf, n, s"$tag.$n", kind, p).ok).forall(identity)
    }
  }

  // ---- api curation ------------------------------------------------------

  private def api(): Unit = {
    val work = new File(arg("work"))
    val corpus = new Corpus(arg("seed").toLong, arg("docs").toInt, arg("tokens").toInt,
      arg("probes").toInt)
    val in = new File(work, "in").toString
    var inputMs = 0.0
    run {
      // benchmark input, not set-up
      val t0 = nowMs
      group("input", "data")
      writeCorpus(corpus, in)
      inputMs = nowMs - t0
    } { (tag, kind, p) => pipeline(corpus, in, work, tag, kind, p) }
    setupS -= inputMs / 1e3
    registerMs = 0.0
  }

  private def writeCorpus(c: Corpus, in: String): Unit = {
    import scala.jdk.CollectionConverters._
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(rows.asJava, schema).repartition(cpus)
        .write.mode("overwrite").parquet(s"$in/$name")
    val vecT = ArrayType(FloatType, containsNull = false)
    save((1 to c.docs).map(i => Row(i.toLong, c.line(i))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))), "docs")
    save((1 to c.docs).map(i => Row(i.toLong, c.vec(i).toSeq)),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", vecT))), "vecs")
    save(c.probeOf.toSeq.map { case (id, (_, v)) => Row(id, v.toSeq) },
      StructType(Seq(StructField("probe_id", LongType), StructField("embedding", vecT))), "probes")
  }

  /** One stage: a Graft call (`ops`), then writes of its outputs, each
    * split into planning, jobs and the writer's own remainder. */
  private def stage(qid: String, kind: String, pass: Int, name: String)
                   (call: => DataFrame)(writes: DataFrame => Seq[(String, () => DataFrame)])
                   (check: => Option[String]): Op = {
    val op = new Op(qid, kind, pass, name)
    op.start = nowMs
    val written = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val paths = mutable.ArrayBuffer.empty[String]
    try {
      val df = layer(op, "ops")(call)
      writes(df).zipWithIndex.foreach { case ((path, out), i) =>
        group(s"$qid.w$i", "sources")
        val w0 = nowMs
        out().write.mode("overwrite").parquet(path)
        paths += path
        written += ((s"$qid.w$i", w0, nowMs))
        drain()
      }
      op.end = nowMs
      if (trace) spark.sparkContext.setJobGroup(s"$qid|check", "check", interruptOnCancel = false)
      check.foreach(e => op.err = e)
      op.ok = op.err.isEmpty
    } catch {
      case e: Throwable =>
        if (op.end == 0.0) op.end = nowMs
        op.err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally if (trace) spark.sparkContext.clearJobGroup()
    op.extra("run_ms") = num(written.map(w => w._3 - w._2).sum)
    if (trace) {
      val q = span(qid, 0, name, "query", op.start, op.end)
      op.layers.foreach { case (l, (s, e)) => groupSpan(s"$qid|$l") = span(qid, q, l, l, s, e) -> qid }
      var plan, exec = 0.0
      var exchanges = 0
      written.foreach { case (g, s, e) =>
        val w = span(qid, q, "write", "sources", s, e)
        groupSpan(s"$g|sources") = w -> qid
        val p = rec.commandPlanMs.getOrElse(s"$g|sources", 0.0)
        plan += p
        exec += rec.jobWallMs(s"$g|sources")
        exchanges += rec.commandExchanges.getOrElse(s"$g|sources", 0)
        if (p > 0) span(qid, w, "plan", "plans", s, s + p)
      }
      op.extra("write_plan_ms") = num(plan)
      op.extra("write_exec_ms") = num(exec)
      op.extra("write_exchanges") = exchanges.toString
      val parts = paths.flatMap(p => Option(new File(p).listFiles()).toSeq.flatten)
        .filter(_.getName.startsWith("part-"))
      op.extra("files") = parts.size.toString
      op.extra("write_bytes") = parts.map(_.length).sum.toString
      op.extra("write_groups") = written.map(w => "\"" + w._1 + "|sources\"").mkString("[", ",", "]")
    }
    ops += op
    op
  }

  private def pipeline(c: Corpus, in: String, work: File, tag: String, kind: String,
                       pass: Int): Boolean = {
    val out = new File(work, s"out/$tag").toString
    group(tag, "input")
    val docs = spark.read.parquet(s"$in/docs")
    val expected = c.clusterOf
    val dedup = stage(s"$tag.dedup", kind, pass, "dedupClusters") {
      Graft.dedupClusters(docs, "doc_id", "text")
    } { clusters =>
      Seq(s"$out/clusters" -> (() => clusters),
        s"$out/kept" -> (() => docs.join(
          spark.read.parquet(s"$out/clusters").filter(!col("keep")), Seq("doc_id"), "left_anti")))
    } {
      val got = spark.read.parquet(s"$out/clusters").collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
      val kept = spark.read.parquet(s"$out/kept").count()
      val wantKept = c.docs - expected.size + c.groups.size
      if (got.map { case (k, v) => k -> v._1 } != expected) Some("clusters differ from the planted groups")
      else if (got.exists { case (k, v) => v._2 != (k == v._1) }) Some("keep flag is not the cluster minimum")
      else if (kept != wantKept) Some(s"kept $kept docs, expected $wantKept")
      else None
    }
    dedup.extra("route") = "\"" + spark.conf.get("spark.graft.lastDedupRoute", "") + "\""
    val tf = stage(s"$tag.tfidf", kind, pass, "tfidf") {
      Graft.tfidf(spark.read.parquet(s"$out/kept"), "doc_id", "text", 5)
    } { w => Seq(s"$out/tfidf" -> (() => w)) } {
      val keptIds = spark.read.parquet(s"$out/kept").select("doc_id").collect().map(_.getLong(0))
      val want = keptIds.map(id => math.min(5, c.text(id.toInt).distinct.length).toLong).sum
      val got = spark.read.parquet(s"$out/tfidf").count()
      if (got != want) Some(s"tfidf has $got rows, expected $want") else None
    }
    val knn = stage(s"$tag.knn", kind, pass, "knnCosine") {
      Graft.knnCosine(spark.read.parquet(s"$in/vecs"), "vec_id", "embedding",
        spark.read.parquet(s"$in/probes"), "probe_id", "embedding", 5)
    } { n => Seq(s"$out/neighbours" -> (() => n)) } {
      val top = spark.read.parquet(s"$out/neighbours").filter(col("rn") === 1)
        .select("probe_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = c.probeOf.map { case (p, (twin, _)) => p -> twin.toLong }
      if (top != want) Some(s"${want.count { case (p, t) => !top.get(p).contains(t) }} probes miss their twin")
      else None
    }
    deleteTree(new File(out))
    Seq(dedup, tf, knn).forall(_.ok)
  }

  // ---- output ------------------------------------------------------------

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  // JSON numbers: never a locale's decimal comma
  private def num(d: Double, digits: Int = 3): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, d)

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    args.foreach { kv => val i = kv.indexOf('='); a(kv.take(i)) = kv.drop(i + 1) }
    arg("mode") match {
      case "catalog" => catalog()
      case "api" => api()
      case m => sys.error(s"unknown mode $m")
    }
    drain()
    val sparkVersion = spark.version
    val groupsJson = if (!trace) "{}" else rec.groups.toSeq.sortBy(_._1).map { case (g, x) =>
      q(g) + s""":{"jobs":${x.jobs},"stages":${x.stages},"tasks":${x.tasks},""" +
        s""""failed_tasks":${x.failedTasks},"task_ms":${x.runMs},"cpu_ns":${x.cpuNs},""" +
        s""""gc_ms":${x.gcMs},"shuffle_write":${x.shuffleWrite},"shuffle_read":${x.shuffleRead},""" +
        s""""spill":${x.spill},"scan":${x.scan},"job_wall_ms":${num(rec.jobWallMs(g))}}"""
    }.mkString("{", ",", "}")
    val hwm = vmHwmKb()
    spark.stop()
    // what the run leaves behind once the session is stopped
    val tmpLeft = Seq(sys.props("java.io.tmpdir"), arg("localDir"), arg("warehouse"))
      .map(p => treeBytes(new File(p))).sum
    val opsJson = ops.map { o =>
      s"""{"qid":${q(o.qid)},"kind":${q(o.kind)},"pass":${o.pass},"name":${q(o.name)},""" +
        s""""ok":${o.ok},"err":${q(o.err)},"wall_ms":${num(o.wallMs)},""" +
        s""""ops_ms":${num(o.ms("ops"))},"plan_ms":${num(o.ms("plans"))},""" +
        s""""exec_ms":${num(o.ms("exec"))},"exchanges":${o.exchanges},""" +
        s""""digest":${q(o.digest)}""" +
        o.extra.map { case (k, v) => s",${q(k)}:$v" }.mkString + "}"
    }.mkString("[\n", ",\n", "]")
    val json =
      s"""{"setup_s":${num(setupS, 4)},"register_ms":${num(registerMs)},""" +
        s""""warm_s":${warmS.map(num(_, 4)).mkString("[", ",", "]")},""" +
        s""""passes":${passes.map { case (p, w, ok) => s"""{"pass":$p,"wall_s":${num(w, 4)},"ok":$ok}""" }.mkString("[", ",", "]")},""" +
        s""""rss_hwm_kb":$hwm,"tmp_left_bytes":$tmpLeft,"cpus":$cpus,""" +
        s""""spark":${q(sparkVersion)},"jvm":${q(sys.props("java.vm.version"))},""" +
        s""""heap_mb":${Runtime.getRuntime.maxMemory() / (1 << 20)},""" +
        s""""groups":$groupsJson,"ops":$opsJson}"""
    val pw = new PrintWriter(arg("out"))
    try pw.println(json) finally pw.close()
    if (trace) {
      rec.jobSpans.foreach { j =>
        groupSpan.get(j.group).foreach { case (parent, qid) =>
          span(qid, parent, s"job${j.jobId}", "job", j.startMs.toDouble, j.endMs.toDouble)
        }
      }
      val sw = new PrintWriter(arg("spans"))
      try spans.foreach { s =>
        sw.println(s"""{"qid":${q(s.qid)},"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
          s""""layer":${q(s.layer)},"start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)}}""")
      } finally sw.close()
    }
  }
}
