package graft.streaming

import java.util.concurrent.{Semaphore, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{NamedExpression, UnsafeProjection}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStreamBase
import org.apache.spark.sql.execution.streaming.sources.{TextSocketInputPartition, TextSocketMicroBatchStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's HW3 pipeline (`G016HW3.java:39-231`) on Structured
  * Streaming: consume a stream of integers until exactly `n` items have
  * been processed (truncating the final micro-batch), maintaining three
  * sketches — exact histogram, reservoir, sticky sampling — then report.
  *
  * Reference → engine mapping:
  *  - DStream `foreachRDD` → a V1 streaming `Sink` whose `addBatch`
  *    receives each planned micro-batch (T1): started like Spark's
  *    batch-function sink (append mode, temporary checkpoint), without
  *    that sink's per-batch re-wrapping (`toRdd`, `LogicalRDD`,
  *    `Dataset.ofRows`) of rows the driver path never reads;
  *  - per-batch `mapToPair/reduceByKey/collectAsMap` → a driver fold of the
  *    batch items into the histogram (T6): reservoir and sticky need the raw
  *    arrival-order items on the driver anyway, so a distributed combine
  *    would only add a second action on the same batch;
  *  - semaphore + `ssc.stop` → semaphore + `query.stop()` from the main
  *    thread (T2);
  *  - the n-item cutoff truncates the final batch in partition order, the
  *    reference's `zipWithIndex().filter` cut: arrival order for a
  *    `MemoryStream` (one partition per `addData` block) and for the
  *    one-partition socket stream of `cli.StreamApp`.
  *
  * Each row of a batch goes, in partition order, straight into one
  * [[Sketches.Fold]] step; every row is null-checked, also past the n cut.
  * The reservoir/sticky updates are inherently sequential driver state
  * (SURVEY §7.4 risk 3) — by design, like the reference; the distributed
  * order-relaxed variants live in [[DistributedSketches]].
  *
  * Where the batch already sits in the driver heap — a `MemoryStream` or
  * the socket source, both of which buffer every batch on the driver — and
  * the batch's physical plan is a bare projection of the scan, the
  * partitions are read on the driver through the source's own readers (the
  * socket source's line slices directly, in one pass) and Spark's
  * projection, folding as they read, with no job: a job would serialize the
  * rows into a task only to collect them back into the same JVM. The rows
  * read are added to the scan's `numOutputRows`, so the progress events
  * still count them. Any other source or plan (a filter, join or
  * aggregate; Kafka, file, rate) is read with one job over the planned
  * rows, `batch.queryExecution.toRdd`, and folded in partition order once
  * the job returns.
  *
  * Limit of that one-job path: a socket plan that is not a bare projection
  * (a filter, say) is read by Spark's `TextSocketMicroBatchStream` reader,
  * which fetches row j with `ListBuffer.apply(j)`, a walk of j nodes. One
  * batch of m lines then costs about m²/(2·numPartitions) node walks, so
  * m²/2 at `numPartitions` 1, the setting that keeps arrival order. Keep
  * such socket batches small, or the plan a bare projection.
  */
object FrequentItemsJob {

  final case class Report(
      n: Long,
      histogramSize: Int,
      trueFrequent: Seq[Long],
      reservoirSample: Seq[Long],
      reservoirEstimate: Seq[Long],
      stickyTableSize: Int,
      stickyEstimate: Seq[Long])

  /** Run over a streaming DataFrame with a single LongType `item` column.
    * Blocks until n items are processed, then stops the query; throws if
    * the query ends first. */
  def run(spark: SparkSession, stream: DataFrame, n: Long, phi: Double,
          epsilon: Double, delta: Double, seed: Long = 42L): Report = {
    val fold = new Sketches.Fold(phi, epsilon, delta, n, seed)
    val done = new Semaphore(0)
    // rows past n are still checked: the reference's zipWithIndex().filter
    // cut (G016HW3.java:84-87) keeps the first n of a batch
    def add(row: InternalRow): Unit = {
      if (row.isNullAt(0)) throw new IllegalArgumentException("null item in the stream")
      if (fold.count < n) fold.add(row.getLong(0))
    }
    val sink = new Sink {
      override def toString: String = "FrequentItemsJob"
      override def addBatch(batchId: Long, batch: DataFrame): Unit = if (fold.count < n) {
        batch.queryExecution.executedPlan match {
          case WholeStageCodegenExec(ProjectExec(list, InputAdapter(s: MicroBatchScanExec))) if inHeap(s) =>
            readOnDriver(list, s, add)
          case ProjectExec(list, s: MicroBatchScanExec) if inHeap(s) => readOnDriver(list, s, add)
          case s: MicroBatchScanExec if inHeap(s) => readOnDriver(s.output, s, add)
          case _ =>
            spark.sparkContext.runJob(batch.queryExecution.toRdd, (rows: Iterator[InternalRow]) =>
              rows.map(_.copy()).toArray).foreach(_.foreach(add))
        }
        if (fold.count >= n) done.release()
      }
    }
    val query: StreamingQuery = Bridge.startQuery(stream.select(col("item").cast("long").as("item")),
      sink, Trigger.ProcessingTime("10 milliseconds"))

    while (!done.tryAcquire(100, TimeUnit.MILLISECONDS)) {
      if (!query.isActive) {
        query.exception.foreach(e => throw e)
        throw new IllegalStateException(s"stream stopped after ${fold.count} of $n items")
      }
    }
    query.stop()
    query.awaitTermination()

    Report(
      n = fold.count,
      histogramSize = fold.counts.size,
      trueFrequent = fold.frequent,
      reservoirSample = fold.sample,
      reservoirEstimate = fold.reservoirEstimate,
      stickyTableSize = fold.table.size,
      stickyEstimate = fold.stickyEstimate)
  }

  /** Whether the scan's source holds every batch in the driver heap. */
  private def inHeap(s: MicroBatchScanExec): Boolean = s.stream match {
    case _: MemoryStreamBase[_] | _: TextSocketMicroBatchStream => true
    case _ => false
  }

  /** Feeds every row of a driver-resident batch, partition by partition,
    * through the source's readers and the plan's own projection to `add`. */
  private def readOnDriver(list: Seq[NamedExpression], scan: MicroBatchScanExec, add: InternalRow => Unit): Unit = {
    val project = UnsafeProjection.create(list, scan.output)
    var rows = 0L
    scan.inputPartitions.zipWithIndex.foreach { case (p, i) =>
      project.initialize(i)
      p match {
        // the socket reader fetches row j as `slice(j)` of a ListBuffer, a
        // walk of j nodes, so a batch's read is quadratic in its size; the
        // slice is walked once here, into the reader's InternalRow(line, ts)
        case t: TextSocketInputPartition =>
          t.slice.foreach { case (line, ts) => add(project(InternalRow(line, ts))); rows += 1 }
        case _ =>
          val reader = scan.readerFactory.createReader(p)
          try while (reader.next()) { add(project(reader.get())); rows += 1 }
          finally reader.close()
      }
    }
    scan.metrics("numOutputRows").add(rows)
  }
}
