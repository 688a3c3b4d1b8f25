package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool: run one named query, print wall time (cold + warm) and the
  * formatted physical plan. Usage:
  * RunOne <name> [sfDir] [--explain] [--warm] — --warm first runs the
  * query once at sf0.001, emulating Bench's untimed warmup pass, so run 1
  * shows what the timed bench pass will actually pay. Next to each wall
  * time it prints the run's Spark jobs and its generated-class compiles
  * (Janino compiles a class on a miss in Spark's generated-code cache). */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir =
      if (args.length > 1 && !args(1).startsWith("--")) args(1)
      else "/root/testdata/sf0.1"
    val explain = args.contains("--explain")
    val warm = args.contains("--warm")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    if (warm) {
      val warmDir = "/root/testdata/sf0.001"
      if (new java.io.File(warmDir).isDirectory) {
        val t0 = System.nanoTime()
        try fn(spark, warmDir).count()
        catch { case e: Throwable => println(s"warm pass failed: $e") }
        println(
          f"warm pass (sf0.001): ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } else println(s"warm pass skipped: $warmDir missing")
    }
    for (i <- 1 to 3) {
      val (j0, c0, t0) = (jobs.get, compiles, System.nanoTime())
      val n = fn(spark, sfDir).count()
      // the listener bus is asynchronous: let it post this run's jobs
      org.apache.spark.sql.GraftSql.drainListeners(spark.sparkContext)
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows, " +
        s"${jobs.get - j0} jobs, ${compiles - c0} compiles)")
    }
    spark.stop()
  }
}
