package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.Text

/** Streaming near-duplicate detection at ingest time: MinHash band keys per
  * document, first-seen state per band bucket, candidate-pair stream out.
  *
  * Batch near-dup (graft.ops.Text.qMinHashLsh) re-scans the corpus; at
  * training-data ingest rates you want the dedup decision as documents
  * arrive. Design constraints that shape this pipeline:
  *  - band keys are the batch near-dup kernel's (`Text.withHashedShingles`
  *    and the `Text.minHashBands` rule: 32 xxhash64 seeds, 16 bands × 2
  *    rows), so a document lands in the buckets `Text.lshAggAndBanded`
  *    gives it; its signature is a per-row projection (per-row HOF mins),
  *    NOT a groupBy aggregation — append-mode streams forbid unwatermarked
  *    aggregations, projections are free;
  *  - band buckets are the grouping key for flatMapGroupsWithState, so
  *    state is partitioned/checkpointed by the state store and scales
  *    horizontally — nothing driver-held;
  *  - state per bucket is only the canonical (first-seen) doc id — memory
  *    is O(#non-empty buckets), not O(#documents).
  *
  * Emitted rows are *candidate* pairs (same band bucket). Exact Jaccard
  * re-verification happens downstream on the candidate stream — same
  * two-phase contract as the batch LSH operator.
  */
object StreamingNearDup {

  /** doc stream (doc_id, text) → banded stream (doc_id, band, bkey). */
  def bandKeys(docs: DataFrame): DataFrame =
    Text.withHashedShingles(docs)
      .select(col("doc_id"), posexplode(Text.minHashBands(i =>
        array_min(expr(s"transform(hs, h -> xxhash64($i, h))")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")

  final case class CandidatePair(canonical_id: Long, duplicate_id: Long, band: Int)

  /** Candidate near-dup pairs across the whole stream history: the first
    * doc seen in a band bucket becomes its canonical; later docs in the
    * same bucket emit a pair. */
  def candidatePairs(docs: DataFrame): Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandKeys(docs)
      .select(col("band").cast("int"), col("bkey"), col("doc_id"))
      .as[(Int, Long, Long)]
      .groupByKey { case (band, bkey, _) => (band, bkey) }
      .flatMapGroupsWithState[Long, CandidatePair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[(Int, Long, Long)], state: GroupState[Long]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
          var canonical = state.getOption.getOrElse(-1L)
          // stable order inside the batch so the smallest id is canonical
          rows.map(_._3).toSeq.sorted.foreach { id =>
            if (canonical < 0) canonical = id
            else if (id != canonical) out += CandidatePair(canonical, id, key._1)
          }
          if (state.getOption.isEmpty && canonical >= 0) state.update(canonical)
          out.iterator
      }
  }
}
