package graft.streaming

import java.util.concurrent.{Semaphore, TimeUnit}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
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
  *  - the n-item cutoff truncates the final batch in arrival order; with a
  *    file/socket source a micro-batch arrives as a single ordered
  *    partition, matching the reference's `zipWithIndex().filter` cut.
  *
  * Each batch reaches the driver as one `long[]` per partition, taken from
  * the Tungsten rows in one job, and folds into primitive sketch state. The
  * reservoir/sticky updates are inherently sequential driver state
  * (SURVEY §7.4 risk 3) — by design, like the reference; the distributed
  * order-relaxed variants live in [[DistributedSketches]].
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
          // foreachBatch hands the batch over as a LogicalRDD over rows that
          // are already planned: read them without planning a second time
          val rows = batch.queryExecution.logical match {
            case l: LogicalRDD => l.rdd
            case _ => batch.queryExecution.toRdd
          }
          // partitions in order = arrival order; truncate the final batch
          // like the reference's zipWithIndex().filter (G016HW3.java:84-87)
          val parts = spark.sparkContext.runJob(rows, longs _)
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
