package graft.streaming

import java.util.concurrent.{Semaphore, TimeUnit}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{NamedExpression, UnsafeProjection}
import org.apache.spark.sql.execution.{InputAdapter, LogicalRDD, ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStreamBase, StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.sources.{TextSocketInputPartition, TextSocketMicroBatchStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's HW3 pipeline (`G016HW3.java:39-231`) on Structured
  * Streaming: consume a stream of integers until exactly `n` items have
  * been processed (truncating the final micro-batch), maintaining three
  * sketches — exact histogram, reservoir, sticky sampling — then report.
  *
  * Reference → engine mapping:
  *  - DStream `foreachRDD` → `writeStream.foreachBatch` (T1);
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
  * Each batch reaches the driver as one `long[]` per partition, in
  * partition order, and folds into primitive sketch state. The
  * reservoir/sticky updates are inherently sequential driver state
  * (SURVEY §7.4 risk 3) — by design, like the reference; the distributed
  * order-relaxed variants live in [[DistributedSketches]].
  *
  * Where the batch already sits in the driver heap — a `MemoryStream` or
  * the socket source, both of which buffer every batch on the driver — and
  * the batch's physical plan is a bare projection of the scan, the
  * partitions are read on the driver through the source's own readers (the
  * socket source's line slices directly, in one pass) and Spark's
  * projection, with no job: a job would serialize the rows into a task
  * only to collect them back into the same JVM. The rows read are
  * added to the scan's `numOutputRows`, so the progress events still count
  * them. Any other source or plan (a filter, join or aggregate; Kafka,
  * file, rate) is read with one job over the planned rows.
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
    val hist = new Sketches.ExactHistogram
    val m = math.ceil(1.0 / phi).toInt
    val reservoir = new Sketches.Reservoir(m, new scala.util.Random(seed))
    val sticky = new Sketches.StickySampling(phi, epsilon, delta, n, new scala.util.Random(seed + 1))
    var processed = 0L
    val done = new Semaphore(0)

    val query: StreamingQuery = stream
      .select(col("item").cast("long").as("item"))
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("10 milliseconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (processed < n) {
          val parts = driverScan(spark) match {
            case Some((list, scan)) => readOnDriver(list, scan)
            case None =>
              // foreachBatch hands the batch over as a LogicalRDD over rows
              // that are already planned: read them without planning again
              val rows = batch.queryExecution.logical match {
                case l: LogicalRDD => l.rdd
                case _ => batch.queryExecution.toRdd
              }
              spark.sparkContext.runJob(rows, longs _).toIndexedSeq
          }
          // fold the partitions in order; truncate the final batch like the
          // reference's zipWithIndex().filter (G016HW3.java:84-87)
          var p = 0
          while (p < parts.length && processed < n) {
            val items = parts(p)
            val take = math.min(items.length.toLong, n - processed).toInt
            var i = 0
            while (i < take) {
              val it = items(i)
              hist.add(it)
              reservoir.add(it)
              sticky.add(it)
              i += 1
            }
            processed += take
            p += 1
          }
          if (processed >= n) done.release()
        }
      }
      .start()

    while (!done.tryAcquire(100, TimeUnit.MILLISECONDS)) {
      if (!query.isActive) {
        query.exception.foreach(e => throw e)
        throw new IllegalStateException(s"stream stopped after $processed of $n items")
      }
    }
    query.stop()
    query.awaitTermination()

    Report(
      n = processed,
      histogramSize = hist.counts.size,
      trueFrequent = hist.frequent(phi, processed),
      reservoirSample = reservoir.sample,
      reservoirEstimate = reservoir.estimate,
      stickyTableSize = sticky.table.size,
      stickyEstimate = sticky.estimate)
  }

  /** The running batch's projection list and scan, when its plan is only a
    * projection of a scan whose source holds the batch in the driver heap.
    * Called on the stream execution thread, whose local properties name the
    * query and whose `lastExecution` is the batch being added. */
  private def driverScan(spark: SparkSession): Option[(Seq[NamedExpression], MicroBatchScanExec)] = {
    def inHeap(s: MicroBatchScanExec) = s.stream match {
      case _: MemoryStreamBase[_] | _: TextSocketMicroBatchStream => true
      case _ => false
    }
    Option(spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      .flatMap(id => Option(spark.streams.get(id)))
      .flatMap {
        case q: StreamingQueryWrapper => Option(q.streamingQuery.lastExecution)
        case _ => None
      }
      .map(_.executedPlan)
      .collect {
        case WholeStageCodegenExec(ProjectExec(list, InputAdapter(s: MicroBatchScanExec))) if inHeap(s) => (list, s)
        case ProjectExec(list, s: MicroBatchScanExec) if inHeap(s) => (list, s)
        case s: MicroBatchScanExec if inHeap(s) => (s.output, s)
      }
  }

  /** Every partition of a driver-resident batch, in order, through the
    * source's readers and the plan's own projection. */
  private def readOnDriver(list: Seq[NamedExpression], scan: MicroBatchScanExec): IndexedSeq[Array[Long]] = {
    val project = UnsafeProjection.create(list, scan.output)
    val parts = scan.inputPartitions.toIndexedSeq.zipWithIndex.map { case (p, i) =>
      project.initialize(i)
      p match {
        // the socket reader fetches row j as `slice(j)` of a ListBuffer, a
        // walk of j nodes, so a batch's read is quadratic in its size; the
        // slice is walked once here, into the reader's InternalRow(line, ts)
        case t: TextSocketInputPartition =>
          longs(t.slice.iterator.map { case (line, ts) => project(InternalRow(line, ts)) })
        case _ =>
          val reader = scan.readerFactory.createReader(p)
          try longs(Iterator.continually(reader).takeWhile(_.next()).map(r => project(r.get())))
          finally reader.close()
      }
    }
    scan.metrics("numOutputRows").add(parts.map(_.length.toLong).sum)
    parts
  }

  /** One partition's `item` column as a single array. */
  private def longs(rows: Iterator[InternalRow]): Array[Long] = {
    val b = new mutable.ArrayBuilder.ofLong
    rows.foreach { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException("null item in the stream")
      b += r.getLong(0)
    }
    b.result()
  }
}
