package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Minimal bridge into `private[sql]` constructors needed to expose a custom
  * LogicalPlan as a DataFrame (the same technique every Spark extension
  * library uses: a small shim compiled inside the org.apache.spark.sql
  * namespace; no Spark internals are modified or copied).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eagerly convert a Column's node tree to a catalyst Expression.
    * [[expression]] wraps the node LAZILY in a ColumnNodeExpression, which
    * hides the attribute references from collect/transform — use this when
    * the caller needs to inspect what an (unresolved) Column refers to. */
  def catalystExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Starts streaming `df` into the V1 `sink` the way
    * `writeStream.foreachBatch(f).start()` starts its own sink (append
    * mode, a temporary checkpoint deleted on stop), so `sink.addBatch`
    * receives the micro-batch itself, planned, with no re-wrapping. */
  def startQuery(df: DataFrame, sink: Sink, trigger: Trigger): StreamingQuery =
    df.sparkSession.asInstanceOf[ClassicSession].streams.startQuery(None, None, df.asInstanceOf[Dataset[Row]],
      Map.empty, sink, OutputMode.Append(), useTempCheckpointLocation = true, trigger = trigger)
}
