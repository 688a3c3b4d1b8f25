package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (r17): print every declared query's formatted-plan line
  * count and Exchange mentions, sorted descending (ties by name, so
  * two trees' outputs diff line by line) — a cheap proxy for
  * Catalyst planning cost and duplicated-subtree blowup (the
  * q_tail_mass 1238-line plan was found this way). A query whose plan
  * cannot be built is counted as failed on the TOTAL line, and any
  * failure makes the run exit 1. Not part of the driver contract;
  * Bench/Verify are untouched. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val p = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val lines = p.count(_ == '\n')
          val ex = "Exchange".r.findAllIn(p).size
          Some((name, lines, ex))
        } catch { case e: Throwable =>
          failed += 1
          println(s"$name FAILED: ${e.getMessage}"); None }
    }
    rows.sortBy(-_._2).foreach { case (n, l, e) =>
      println(f"$l%6d lines $e%4d ex  $n")
    }
    // A failed query is missing from the total, so it would read as a
    // plan-line reduction: report it and fail the run.
    println(f"TOTAL plan lines: ${rows.map(_._2).sum}%d over " +
      f"${rows.size}%d queries, $failed%d failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
