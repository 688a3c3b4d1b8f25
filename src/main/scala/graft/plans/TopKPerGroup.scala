package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, AttributeSet, BindReferences, Expression,
  GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{LongType, StringType}

/** Per-group top-k as a CUSTOM whole-operator extension (SURVEY §2.13's
  * deepest tier: logical node + planner strategy + physical operator —
  * the one tier the codegen Expressions / native aggregates / typed
  * Aggregator / optimizer rule ladder did not yet demonstrate).
  *
  * WHY a custom operator: the built-in spelling
  * (`row_number().over(partitionBy(g).orderBy(v.desc)) <= k`) plans a
  * sort of every group's full row set before its partial limit —
  * O(n log n) per partition and, at 100 TB, a spill-prone full
  * materialization just to discard all but k rows. This operator keeps
  * a k-BOUNDED HEAP per group in two phases (see [[TopKStrategy]]):
  * O(n log k) time, O(groups·k) memory, nothing sorted, nothing spills,
  * and only ≤ k·groups·partitions rows cross the shuffle.
  *
  * The partial phase pays only when each input partition holds many
  * more than k rows per group (few groups, such as the probes of a
  * k-NN query). With many small groups it prunes nothing and would copy
  * every row into heaps the final phase rebuilds: 2 M rows in groups of
  * 2k (k = 5, 8 input partitions, local[4]) ran 1979 ms two-phase
  * against 1278 ms with the final heap alone. So the partial phase
  * looks at its first [[TopKPerGroupExec.PartialCheckRows]] rows and,
  * if its heaps still hold more than half of them, passes the rest of
  * the partition through unheaped.
  *
  * Contract: the output is the child's rows that rank ≤ k within their
  * group, plus `rank` (LONG, 1-based) — exactly what
  * `row_number().over(partitionBy(g).orderBy(order.desc, tie.asc)) <= k`
  * keeps, so the DuckDB oracle is the standard row_number query.
  * `order` is a DOUBLE compared as SQL ordering does (−0.0 = 0.0, NaN
  * greatest, null last: DESC NULLS LAST); `tie` is a unique non-null
  * LONG (the library's standard deterministic tie-break) or STRING
  * (a token within its document), compared as SQL ordering does.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Expression,
    tie: Expression,
    k: Int,
    rank: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroup = copy(child = newChild)
}

object TopKPerGroup {
  // ONE lock for the read-modify-write of `extraStrategies`, or two
  // first-callers could double-append the strategy
  private val strategyLock = new Object

  /** The top-`k` rows of `df` per `groupCols` by (`orderCol` DESC NULLS
    * LAST, `tieCol` ASC), with their rank as LONG column `rankCol`. The
    * planner strategy is injected into the DataFrame's session
    * idempotently — the same `experimental.extraStrategies` hook
    * `SparkSessionExtensions.injectPlannerStrategy` targets. */
  def frame(df: DataFrame, groupCols: Seq[String], orderCol: String,
            tieCol: String, k: Int, rankCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(k > 0, s"k must be positive, got $k")
    val s = df.sparkSession
    strategyLock.synchronized {
      if (!s.experimental.extraStrategies.contains(TopKStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ TopKStrategy
    }
    val analyzed = df.queryExecution.analyzed
    val names = analyzed.output.map(_.name)
    def attr(n: String) = analyzed.output.find(_.name == n).getOrElse(
      sys.error(s"column '$n' not found in " + names.mkString("[", ", ", "]")))
    require(!names.contains(rankCol), s"rank column '$rankCol' already exists")
    require(Seq(LongType, StringType).contains(attr(tieCol).dataType),
      s"tie column '$tieCol' must be LONG or STRING")
    org.apache.spark.sql.GraftSql.ofRows(s,
      TopKPerGroup(groupCols.map(attr), attr(orderCol), attr(tieCol), k,
        AttributeReference(rankCol, LongType, nullable = false)(), analyzed))
  }
}

/** Planner strategy mapping the logical node to its two-phase physical
  * form: a PARTIAL heap per input partition (no distribution required,
  * so it runs before the shuffle and prunes each partition to ≤ k rows
  * per group), then the FINAL heap after the hash exchange on the group
  * keys, which merges the partial winners and emits the rank. Injectable
  * via `SparkSessionExtensions.injectPlannerStrategy` or a live session's
  * `experimental.extraStrategies`. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, t, k, r, child) =>
      TopKPerGroupExec(g, o, t, k, Some(r),
        TopKPerGroupExec(g, o, t, k, None, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** One phase of [[TopKPerGroup]]: the partial phase (`rank` = None)
  * keeps each partition's per-group winners — or, once it sees it
  * prunes little, every row — and passes them through unranked; the
  * final phase (`rank` set) requires hash
  * clustering on the group keys and appends the rank. Neither moves a
  * row between partitions, so both keep the child's partitioning. */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Expression,
    tie: Expression,
    k: Int,
    rank: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank.toSeq)
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The final phase asks the planner for hash clustering on the group
    * keys — Spark inserts the exchange; we never sort. */
  override def requiredChildDistribution: Seq[Distribution] =
    (if (rank.isEmpty) UnspecifiedDistribution
     else ClusteredDistribution(groupExprs)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    // local copies: the closure must not capture `this` (which would
    // serialize the whole plan subtree to every task)
    val childOutput = child.output
    val outAttrs = output
    val ranked = rank.isDefined
    val groupL = groupExprs
    val orderL = order
    val tieL = tie
    val kL = k
    val tieType = tie.dataType
    child.execute().mapPartitions { it =>
      val rankOrder = TopKPerGroupExec.rankOrder(
        TypeUtils.getInterpretedOrdering(tieType))
      val keyProj = UnsafeProjection.create(groupL, childOutput)
      val orderB = BindReferences.bindReference(orderL, childOutput)
      val tieB = BindReferences.bindReference(tieL, childOutput)
      val heaps = mutable.HashMap.empty[
        InternalRow, mutable.PriorityQueue[TopKPerGroupExec.Kept]]
      // rows seen and rows held in the heaps; a partial phase that still
      // holds more than half its rows at the check stops heaping
      var seen = 0L
      var held = 0L
      var pruning = true
      while (pruning && it.hasNext) {
        val row = it.next()
        val vAny = orderB.eval(row)
        val tAny = tieB.eval(row)
        // a null tie would rank mid-pack where both engines rank it
        // first — fail fast on the contract instead
        require(tAny != null, "TopKPerGroup requires non-null tie values")
        val kept = new TopKPerGroupExec.Kept(
          if (vAny == null) 0.0 else vAny.asInstanceOf[Double],
          vAny == null, tAny, row)
        // probe with the projection's reused buffer; copy the key only
        // when a new group is first seen
        val probe = keyProj(row)
        val q = heaps.get(probe) match {
          case Some(existing) => existing
          case None =>
            val fresh = mutable.PriorityQueue.empty(rankOrder)
            heaps.put(probe.copy(), fresh)
            fresh
        }
        // the queue's head is the worst kept row — the eviction candidate
        if (q.size < kL) { q.enqueue(kept.copied()); held += 1 }
        else if (rankOrder.lt(kept, q.head)) {
          q.dequeue(); q.enqueue(kept.copied())
        }
        seen += 1
        if (!ranked && seen == TopKPerGroupExec.PartialCheckRows)
          pruning = held * 2 <= seen
      }
      // a partial phase that stopped pruning streams the rest of `it`;
      // otherwise `it` is drained and adds nothing
      if (!ranked) heaps.valuesIterator.flatMap(_.iterator.map(_.row)) ++ it
      else {
        val proj = UnsafeProjection.create(outAttrs, outAttrs)
        val rankRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        heaps.valuesIterator.flatMap { q =>
          q.toArray.sorted(rankOrder).iterator.zipWithIndex
            .map { case (kept, i) =>
              rankRow.setLong(0, i + 1L)
              proj(joined(kept.row, rankRow))
            }
        }
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerGroupExec = copy(child = newChild)
}

object TopKPerGroupExec {
  /** Rows the partial phase heaps before it checks that it prunes. */
  private[graft] val PartialCheckRows = 1 << 14

  /** One candidate row with its decoded score and tie. A copy also
    * copies the tie: a string tie points into the input row's buffer. */
  private final class Kept(val v: Double, val isNull: Boolean, val t: Any,
                           val row: InternalRow) {
    def copied(): Kept =
      new Kept(v, isNull, InternalRow.copyValue(t), row.copy())
  }

  /** Rank order, best first: score DESC NULLS LAST compared as SQL
    * ordering does (−0.0 = 0.0, NaN greatest — `java.lang.Double.compare`
    * alone would split the zeros), then tie ASC by `tieOrder`. The heap
    * and the replacement test both use it, so the two decisions stay
    * consistent. */
  private def rankOrder(tieOrder: Ordering[Any]): Ordering[Kept] =
    new Ordering[Kept] {
      override def compare(a: Kept, b: Kept): Int = {
        val c =
          if (a.isNull || b.isNull) java.lang.Boolean.compare(a.isNull, b.isNull)
          else SQLOrderingUtil.compareDoubles(b.v, a.v)
        if (c != 0) c else tieOrder.compare(a.t, b.t)
      }
    }
}
