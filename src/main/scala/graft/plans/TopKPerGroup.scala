package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Native per-group top-k — SURVEY §2.9 preference (c): a custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan` for an operator whose
  * built-in expression (`row_number() OVER (PARTITION BY g ORDER BY o)
  * <= k`) carries cost the semantics don't need.
  *
  * The window form SORTS every group completely (shuffle + full sort,
  * then discards all but k rows); this operator keeps a BOUNDED heap of
  * k rows per group and never sorts beyond it:
  *
  *  - partial exec (pre-shuffle): per-PARTITION top-k per group. Any
  *    group's global top-k is a subset of the union of its per-partition
  *    top-k's, so the shuffle then moves ≤ k rows per (group, partition)
  *    instead of every row — the same contract partial aggregation gives
  *    a hash aggregate. At 100 TB with k=3 this is the difference
  *    between shuffling the fact table and shuffling ~nothing.
  *  - final exec (post-shuffle): requiredChildDistribution clusters on
  *    the group keys (EnsureRequirements inserts the Exchange), and the
  *    same bounded-heap pass produces the exact global answer.
  *
  * O(n log k) comparisons, O(groups·k) memory per task, result EXACTLY
  * equal to the window form for any total `ordering` (ties must be
  * broken by the caller's sort columns, same as the window idiom).
  *
  * Planned by [[GraftStrategies]], which the [[graft.Graft]] catalog
  * puts in every graft session.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, ord, k, child) =>
      TopKPerGroupExec(g, ord, k, partial = false,
        TopKPerGroupExec(g, ord, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  override protected def doExecute(): RDD[InternalRow] = {
    val attrs = child.output
    val gExprs = groupExprs
    val ord = ordering
    val kk = k
    child.execute().mapPartitions ({ iter =>
      val keyProj = UnsafeProjection.create(gExprs, attrs)
      val cmp = RowOrdering.create(ord, attrs)
      // max-heap under cmp: head = current worst of the kept k, evicted
      // first — identical selection rule on the partial and final pass
      val heaps = new java.util.LinkedHashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var h = heaps.get(key)
        if (h == null) {
          h = mutable.PriorityQueue.empty[InternalRow](cmp)
          heaps.put(key.copy(), h)
        }
        if (h.size < kk) h.enqueue(row.copy())
        else if (cmp.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
      }
      heaps.values().asScala.iterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroup {

  /** First `k` rows of each group under `orderBy` (must be a total order
    * for a deterministic result — include a tie-breaker column, exactly
    * as with the window idiom this replaces).
    */
  def topK(df: DataFrame, groupCols: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    // fail here, not in EnsureRequirements: ClusteredDistribution(Nil)
    // dies deep in planning with a Spark-internal message
    require(groupCols.nonEmpty,
      "topK needs at least one group column — for a GLOBAL top-k use " +
        "orderBy(...).limit(k) (plans TakeOrderedAndProject)")
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    def resolve(n: String): Attribute = plan.output
      .find(a => spark.sessionState.conf.resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${plan.output.map(_.name).mkString(", ")}"))
    val g = groupCols.map(resolve)
    val ord = orderBy.map { case (n, asc) =>
      SortOrder(resolve(n), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, TopKPerGroup(g, ord, k, plan))
  }
}
