package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Per-key top-k as a first-class operator: LogicalPlan + Strategy +
  * physical exec (the SURVEY §2 tier-(c) pattern, used where composition of
  * built-ins is semantically right but physically wasteful).
  *
  * Spark expresses "first k rows per key" as a window `row_number` +
  * filter, which plans as: shuffle on key → FULL SORT of every partition →
  * window pass → filter. The sort is O(n log n) over all rows and the
  * shuffle moves every row. This operator instead keeps a bounded heap per
  * key: O(n log k), no sort, and — because a partial pass runs map-side
  * before the exchange — the shuffle carries at most k rows per key per
  * input partition instead of everything. Same result set; at a 100 TB
  * fact table with bounded keys the shuffled volume drops by orders of
  * magnitude. (Memory: state is ≤ #distinct-keys × k rows per task, the
  * same envelope as hash aggregation over the keys; no spill path.)
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: SparkPlan, partial: Boolean)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numDroppedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows pruned by the bounded heaps"))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    val outRows = longMetric("numOutputRows")
    val dropped = longMetric("numDroppedRows")
    child.execute().mapPartitions ({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val cmp = new LazilyGeneratedOrdering(sortOrder, childOutput)
      // per-key bounded heap: worst row on top (reverse comparator)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      var inputRows = 0L
      while (iter.hasNext) {
        inputRows += 1
        val row = toUnsafe(iter.next())
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](limit + 1, cmp.reversed())
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) heap.add(row.copy())
        else if (cmp.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      heaps.values().forEach { h =>
        val rows = new Array[UnsafeRow](h.size)
        var i = rows.length - 1
        while (i >= 0) { rows(i) = h.poll(); i -= 1 }  // drain → ascending
        rows.foreach(out += _)
      }
      outRows += out.length.toLong
      dropped += inputRows - out.length
      out.iterator
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      // partial map-side pass shrinks the exchange input to ≤ k rows per
      // key per partition; the final pass runs after the key shuffle
      val partialExec = TopKPerKeyExec(keys, order, k, planLater(child), partial = true)
      TopKPerKeyExec(keys, order, k, partialExec, partial = false) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Sort spec for [[perKey]]: column name + direction. */
  final case class Ord(name: String, ascending: Boolean = true)
  def asc(name: String): Ord = Ord(name, ascending = true)
  def desc(name: String): Ord = Ord(name, ascending = false)

  /** First k rows per key group in `orderBy` order. Registers the strategy
    * on the session (idempotent) and returns the operator as a DataFrame.
    * Expressions are built as unresolved catalyst attributes (resolved by
    * the analyzer against `df`) — pure catalyst trees, executor-shippable. */
  def perKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Ord], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    val spark: SparkSession = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies = TopKStrategy +: spark.experimental.extraStrategies
    }
    val plan = df.queryExecution.analyzed
    val keyExprs = keys.map(n => UnresolvedAttribute.quoted(n))
    val order = orderBy.map { o =>
      SortOrder(UnresolvedAttribute.quoted(o.name),
        if (o.ascending) Ascending else Descending)
    }
    Bridge.ofRows(spark, TopKPerKeyNode(keyExprs, order, k, plan))
  }

  /** Ranked top-k per key: [[perKey]]'s partial and final heaps, then a
    * `row_number` (int) column `rankCol` over the at most k survivors per
    * key in `orderBy` order. Same rows and schema as the window
    * formulation (`rankCol` = `row_number() over (partition by keys order
    * by orderBy)`, filtered to `rankCol <= k`), but the sort runs on ≤ k
    * rows per key instead of every row.
    *
    * Bounded-keys contract: heap state is distinct keys × k rows per task
    * with no spill path, so this is for key sets bounded by construction
    * (query ids, query terms, sources). Windows whose keys grow with the
    * data (per user, per customer, per document) stay windows, which can
    * spill. */
  def ranked(df: DataFrame, keys: Seq[String], orderBy: Seq[Ord], k: Int,
             rankCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(o => if (o.ascending) col(o.name).asc else col(o.name).desc): _*)
    perKey(df, keys, orderBy, k).withColumn(rankCol, row_number().over(w))
  }
}
