package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator custom plan (SURVEY.md §3, preference (c)): top-k
  * rows per group in a given sort order — `row_number() OVER
  * (PARTITION BY g ORDER BY o) <= k` without materializing a full
  * per-partition sort. Each task keeps one bounded k-heap per group:
  * O(n log k) work, O(groups·k) memory, and rows beyond the heap are
  * dropped at the scan, not carried through a sort. At 100 TB this is
  * the difference between shuffling everything into a window sort and
  * shuffling only survivors.
  */
case class TopKPerGroupLogical(
    group: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    group: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: SparkPlan, partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** Final phase co-locates each group (the planner inserts the one
    * exchange; empty group = global top-k, all rows to one partition).
    * The PARTIAL phase runs map-side with no distribution requirement
    * — each task heap-cuts its own slice to ≤ groups·k rows BEFORE
    * the exchange, so the shuffle moves per-task survivors, not the
    * whole input (TakeOrderedAndProject's two-phase shape, per
    * group). Top-k of a union equals top-k of the per-slice top-ks,
    * so the final phase over partials is exact; under a non-total
    * order row_number is tie-nondeterministic either way, and every
    * call site orders totally.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial)
      org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
    else if (group.isEmpty) AllTuples
    else ClusteredDistribution(group)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val ordering = new LazilyGeneratedOrdering(sortOrder, childOutput)
      // PriorityQueue dequeues the greatest per `ordering`, i.e. the
      // worst currently-kept row — exactly the eviction candidate.
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      it.foreach { row =>
        val key = keyProj(row)
        // probe with the reused projection row; copy the key only on
        // the miss path — getOrElseUpdate's key arg is strict and
        // would allocate per input row
        var heap = heaps.getOrElse(key, null)
        if (heap == null) {
          heap = mutable.PriorityQueue.empty[InternalRow](ordering)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) heap.enqueue(row.copy())
        else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  /** The partial phase can only REDUCE when a task holds more than k
    * rows of a group; a candidate cut whose k scales with the corpus
    * (nCand ~ N/40 — thousands at sf10) sits beyond every task's
    * per-group row count, so the partial would buffer-and-copy every
    * row for zero reduction (measured: ann_binary's hamming cut paid
    * ~1.6× for it). Small-k rank cuts (top-3/top-5 per query — the
    * knn_join shape) are where the survivors-only shuffle wins by
    * orders of magnitude. 512 splits the regimes with margin.
    */
  val PartialCutoff = 512

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupLogical(g, o, k, child) =>
      // two-phase: map-side partial cut, exchange survivors only,
      // final cut per co-located group
      val inner =
        if (k <= PartialCutoff)
          TopKPerGroupExec(g, o, k, planLater(child), partial = true)
        else planLater(child)
      TopKPerGroupExec(g, o, k, inner) :: Nil
    case _ => Nil
  }
}

object TopK {

  /** Public API: rows of `df` ranked ≤ k per group under `orderCols`
    * (name → ascending?; row_number semantics, so make the order total
    * for determinism). Attributes are resolved against the analyzed
    * child directly — custom nodes don't get the analyzer's column
    * resolution. Registers the planner strategy idempotently.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val plan = Bridge.analyzed(df)
    val resolve = Bridge.resolver(spark)
    def attr(n: String) = plan.output.filter(a => resolve(a.name, n)) match {
      case Seq(one) => one
      case Seq() => sys.error(s"topKPerGroup: no column '$n' in ${plan.output.map(_.name)}")
      case many => sys.error(s"topKPerGroup: ambiguous column '$n' matches ${many.map(_.name)}")
    }
    val sortOrders = orderCols.map { case (n, asc) =>
      SortOrder(attr(n),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    Bridge.ofRows(spark, TopKPerGroupLogical(groupCols.map(attr), sortOrders, k, plan))
  }
}
