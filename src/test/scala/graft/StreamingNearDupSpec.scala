package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingNearDup

class StreamingNearDupSpec extends SparkSpec {

  test("near-dup candidates detected within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different words appear in this second document about spark engines and parquet files"
    val mem = MemoryStream[(Long, String)]
    val pairs = StreamingNearDup.candidatePairs(mem.toDF().toDF("doc_id", "text"))
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_test")
      .outputMode("append").start()
    mem.addData((1L, textA), (2L, textA), (3L, textB))   // batch 1: 2 dups of 1
    q.processAllAvailable()
    mem.addData((4L, textA))                             // batch 2: dup across batches
    q.processAllAvailable()
    q.stop()
    val found = spark.table("neardup_test")
      .select("canonical_id", "duplicate_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 2L)), s"in-batch dup missed: $found")
    assert(found.contains((1L, 4L)), s"cross-batch dup missed: $found")
    assert(!found.exists(p => p._1 == 3L || p._2 == 3L), s"false positive on distinct doc: $found")
  }

  test("streaming band keys equal the batch LSH banding") {
    import spark.implicits._
    val twin = "two identical texts share every band key of the batch banding"
    val extra = Seq((-1L, "two tokens"), (-2L, twin), (-3L, twin)).toDF("doc_id", "text")
    val docs = graft.core.Tables.documents(spark, sfDir).select("doc_id", "text").union(extra)
    def keys(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("doc_id", "band", "bkey").as[(Long, Int, Long)].collect().toSet
    try {
      val batch = keys(graft.ops.Text.lshAggAndBanded(docs)._2)
      assert(keys(StreamingNearDup.bandKeys(docs)) == batch)
      assert(!batch.exists(_._1 == -1L), "a document under 3 tokens was banded")
      assert(batch.filter(_._1 == -2L).map(k => (k._2, k._3)) ==
        batch.filter(_._1 == -3L).map(k => (k._2, k._3)))
    } finally graft.core.InternalCaches.release(spark)
  }
}
