package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused). */
trait SparkSpec extends AnyFunSuite {

  /** Flatten a physical plan through the adaptive/stage/reuse wrappers
    * that hide their subplans from the default TreeNode collect — the
    * one helper every plan-assertion suite needs (was duplicated per
    * suite; a Spark upgrade adding a wrapper type now changes ONE
    * place). */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => p +: flattenPlan(a.executedPlan)
      case q: QueryStageExec => p +: flattenPlan(q.plan)
      case r: ReusedExchangeExec => p +: flattenPlan(r.child)
      case _ => p +: p.children.flatMap(flattenPlan)
    }
  }
  /** Delete a file or a directory and everything under it. */
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The pairs of a clique on ids `from`, `from + 1`, … just big
    * enough that its pair list exceeds ops.Text.LocalMaxPairs: padded
    * with it, a graph runs the distributed label fixpoint instead of
    * the driver-side union-find. */
  def paddingClique(from: Long): Seq[(Long, Long)] = {
    val n = Iterator.from(2)
      .find(n => n.toLong * (n - 1) / 2 > ops.Text.LocalMaxPairs).get
    for (a <- 0 until n; b <- a + 1 until n) yield (from + a, from + b)
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf: String = "/root/testdata/sf0.001"
}
