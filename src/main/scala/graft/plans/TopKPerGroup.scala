package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, LessThan, LessThanOrEqual, Literal, NamedExpression, RowOrdering, SortOrder, WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame}
import org.apache.spark.sql.catalyst.expressions.{RowNumber, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Heap-based per-group top-k.
  *
  * Spark plans `row_number() OVER (PARTITION BY g ORDER BY o) <= k`
  * as a full sort of every group's rows (Window operator). When only
  * the first k rows per group survive, a bounded heap per group is
  * O(n log k) with O(groups·k) memory — at 100 TB of pair scores that
  * is the difference between sorting everything and streaming it.
  *
  * Wired the Catalyst-native way: [[TopKRewriteRule]] (an optimizer
  * rule injected via [[GraftExtensions]]) pattern-matches the
  * Filter-over-Window shape and swaps in the [[TopKPerGroup]] logical
  * node; [[TopKStrategy]] plans it as [[TopKPerGroupExec]]. User code
  * keeps writing the plain declarative window — the physical operator
  * changes underneath.
  */
case class TopKPerGroup(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroup {
  /** Opt-in switch: the rewrite buffers k rows per group key in task
    * memory (no spill), which beats the sort-based Window plan when
    * groups-per-partition × k is bounded — the ANN/top-k shapes it
    * targets — but could exceed task memory where the stock plan would
    * spill. Off by default; setting it to "true" turns it on per
    * session. */
  val EnabledKey = "spark.graft.topk.enabled"

  /** Fail-fast bound on rows buffered per partition (groups × k). The
    * operator throws with remediation guidance instead of creeping into
    * an executor OOM. */
  val MaxBufferedKey = "spark.graft.topk.maxBufferedRows"
  val MaxBufferedDefault = 4000000L

  /** "heap" (default: no sort, task-memory heaps, fail-fast cap) or
    * "sorted" (spill-safe: the planner's SortExec owns memory, the
    * operator streams first-k-per-group in O(1)). Pick "sorted" when
    * group cardinality per partition is unbounded. */
  val ModeKey = "spark.graft.topk.mode"

  /** Plan-local opt-in: a row_number alias starting with this prefix
    * marks that specific Filter-over-Window for the rewrite, regardless
    * of [[EnabledKey]]. Queries that want the heap operator name their
    * rank column with the marker (see Similarity.exactTopK); nothing
    * else in the session is affected — unlike the session conf, which
    * would silently switch every later rank-filter query in a shared
    * session onto the non-spilling operator. */
  val MarkerPrefix = "__graft_topk_"

  /** Installs the rule + strategy into an existing session without
    * switching the session-wide gate on. Idempotent. Only plans using
    * the [[MarkerPrefix]] alias are rewritten until [[EnabledKey]] is
    * set. */
  // synchronized: the check-then-act append below must not
  // double-install when two threads install into one session
  def install(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(TopKRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewriteRule
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
  }
}

/** Rewrites Filter(rank <= k, Window(row_number as rank, g, o)) into
  * TopKPerGroup. Conservative: fires only on the exact shape where the
  * window computes a single row_number and the filter bounds it by a
  * literal. */
object TopKRewriteRule extends Rule[LogicalPlan] {
  private def asLimit(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rank) => Some(v)
    // v - 1 on Int.MinValue would wrap to Int.MaxValue and turn an
    // always-false filter into keep-everything
    case LessThan(a: Attribute, Literal(v: Int, IntegerType))
        if a.semanticEquals(rank) && v > Int.MinValue => Some(v - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val sessionWide = conf.getConfString(TopKPerGroup.EnabledKey, "false") == "true"
    plan.transformUp {
      case f @ Filter(cond,
          LogicalWindow(Seq(a @ Alias(WindowExpression(_: RowNumber,
            WindowSpecDefinition(part, order, _: SpecifiedWindowFrame)), _)),
            _, _, child, _))
          if sessionWide || a.name.startsWith(TopKPerGroup.MarkerPrefix) =>
        asLimit(cond, a.toAttribute) match {
          case Some(k) if k >= 0 && order.nonEmpty =>
            TopKPerGroup(part, order, k, a.toAttribute, child)
          case _ => f
        }
    }
  }
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(group, order, k, rankAttr, child) =>
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val maxBuffered = conf.getConfString(TopKPerGroup.MaxBufferedKey,
        TopKPerGroup.MaxBufferedDefault.toString).toLong
      val sorted = conf.getConfString(TopKPerGroup.ModeKey, "heap") == "sorted"
      TopKPerGroupExec(group, order, k, rankAttr, maxBuffered, sorted,
        planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    maxBuffered: Long,
    sorted: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def requiredChildDistribution: Seq[Distribution] =
    if (group.isEmpty) ClusteredDistribution(Seq(Literal(1))) :: Nil
    else ClusteredDistribution(group) :: Nil

  // sorted mode delegates memory safety to the (spillable) SortExec the
  // planner inserts to satisfy this ordering; the operator itself then
  // streams in O(1) memory
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (!sorted) Seq(Nil)
    else Seq(group.map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)) ++ order)

  /** Streaming pass over (group, order)-sorted input: emit the first k
    * rows of each group, skip the rest. No operator-side buffering at
    * all — the upstream sort spills as needed. */
  private def doExecuteSorted(): RDD[InternalRow] = {
    val localGroup = group
    val localK = k
    val localOutput = child.output
    val localRank = rankAttr
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(localGroup, localOutput)
      val joiner = UnsafeProjection.create(localOutput :+ localRank, localOutput :+ localRank)
      var curKey: InternalRow = null
      var rank = 0
      iter.flatMap { row =>
        val key = groupProj(row)
        if (curKey == null || key != curKey) { curKey = key.copy(); rank = 0 }
        rank += 1
        if (rank <= localK)
          Iterator.single[InternalRow](joiner(
            new org.apache.spark.sql.catalyst.expressions.JoinedRow(row, InternalRow(rank))))
        else Iterator.empty
      }
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    if (sorted) return doExecuteSorted()
    // capture only serializable expressions; build projections and
    // orderings executor-side (generated classes don't serialize)
    val localGroup = group
    val localOrder = order
    val localK = k
    val localOutput = child.output
    val localRank = rankAttr
    val localMax = maxBuffered
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(localGroup, localOutput)
      val ordering = RowOrdering.create(localOrder, localOutput)
      val joiner = UnsafeProjection.create(localOutput :+ localRank, localOutput :+ localRank)
      // bounded max-heap per group key: keeps the k smallest rows in
      // the window order (= ranks 1..k)
      val heaps = mutable.LinkedHashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
      val heapOrd = ordering.asInstanceOf[Ordering[InternalRow]]
      var buffered = 0L
      iter.foreach { row =>
        val key = groupProj(row)
        val heap = heaps.getOrElseUpdate(key.copy(),
          mutable.PriorityQueue.empty[InternalRow](heapOrd))
        if (heap.size < localK) {
          // state grows only here (groups × k bound); fail fast with
          // remediation instead of creeping into an executor OOM —
          // this operator buffers in task memory and does not spill
          buffered += 1
          if (buffered > localMax) throw new IllegalStateException(
            s"TopKPerGroupExec buffered > $localMax rows in one partition " +
            s"(group cardinality too high for the heap rewrite). " +
            s"Set ${TopKPerGroup.EnabledKey}=false to use the spillable " +
            s"Window plan, or raise ${TopKPerGroup.MaxBufferedKey}.")
          heap.enqueue(row.copy())
        }
        else if (localK > 0 && heapOrd.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heaps.iterator.flatMap { case (_, heap) =>
        val ranked: Seq[InternalRow] = heap.dequeueAll.reverse
        ranked.iterator.zipWithIndex.map { pair =>
          val withRank = new org.apache.spark.sql.catalyst.expressions.JoinedRow(
            pair._1, InternalRow(pair._2 + 1))
          joiner(withRank)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
