package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Events
import graft.sources.{PartitionedSink, PointSource}
import graft.streaming.StreamJoins

class SourcesSpec extends SparkSpec {

  test("PointSource: a re-read plans on the cache; a read after unpersist re-caches") {
    val f = Files.createTempFile("graft_pts", ".csv")
    Files.writeString(f, (0 until 50).map(i => s"$i.0,${i * 2}.5\n").mkString)
    val path = f.toString
    def cacheOf(df: DataFrame) = df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder }
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    val a = PointSource.read(spark, path, l = 2)
    val want = rows(a)
    assert(want.length == 50 && want.map(_._1).distinct.length == 50)
    val b = PointSource.read(spark, path, l = 2)
    assert(cacheOf(a).isDefined)
    assert(cacheOf(b).exists(_ eq cacheOf(a).get), "the second read must plan on the first's cache")
    assert(rows(b) == want, "the second read must give the cached rows and ids")
    a.unpersist(blocking = true)
    val c = PointSource.read(spark, path, l = 2)
    assert(c.storageLevel != StorageLevel.NONE)
    assert(cacheOf(c).exists(cb => !(cb eq cacheOf(a).get)), "a read after unpersist must cache afresh")
    assert(c.count() == 50)
    c.unpersist(blocking = true)
  }

  test("partitioned sink: filter on partition column prunes partitions") {
    val dir = Files.createTempDirectory("graft_part").toString
    val ev = graft.core.Tables.events(spark, sfDir)
    PartitionedSink.write(ev, dir, Seq("event_type"))
    val filtered = PartitionedSink.read(spark, dir)
      .filter(col("event_type") === "click")
    val scans = filtered.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // pruned scan reads exactly the one matching partition directory
    val parts = scans.head.selectedPartitions.partitionCount
    assert(parts == 1, s"expected 1 selected partition, got $parts")
    val n = filtered.count()
    val expected = ev.filter(col("event_type") === "click").count()
    assert(n == expected)
  }

  test("sized write bounds file count and records per file") {
    val dir = Files.createTempDirectory("graft_sized").toString + "/out"
    val li = graft.core.Tables.lineitem(spark, sfDir)
    PartitionedSink.writeSized(li, dir, targetFiles = 4, maxRecordsPerFile = 1000)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    // 6k rows / 1000-record cap → between 6 and ~8 files from 4 tasks
    assert(files.length >= 6 && files.length <= 12, s"got ${files.length} files")
    val back = PartitionedSink.read(spark, dir)
    assert(back.count() == li.count())
  }

  test("as-of join: inclusive equality match and null for no prior row") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L))
      .toDF("user_id", "ms0", "event_id")
      .select(col("user_id"), timestamp_millis(col("ms0")).as("ts"), col("event_id"))
    val right = Seq((1L, 100L), (1L, 150L), (3L, 10L))
      .toDF("user_id", "ms0")
      .select(col("user_id"), timestamp_millis(col("ms0")).as("ts"),
        (col("ms0") + 1000).as("event_id"))
    val out = Events.asOfJoin(left, right, "user_id", "ts", "ts", "event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(out(10L) == Some(100L))   // equality is inclusive
    assert(out(11L) == Some(150L))   // latest prior, not first
    assert(out(12L) == None)         // no right row for user 2
  }

  test("stream-stream join matches purchases within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = StreamJoins.clickToPurchase(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"))
    val q = out.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    clicks.addData((1L, 7L, ts(0)), (2L, 8L, ts(0)))
    purchases.addData((100L, 7L, ts(10)), (101L, 8L, ts(55)), (102L, 9L, ts(5)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj_test").select("click_id", "purchase_id")
      .as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 100L)))  // 101 outside 30-min window; 102 wrong user
  }

  test("format round-trip: parquet, ORC, CSV, and JSON agree row-for-row") {
    // the engine's queries are storage-format-agnostic: the same documents
    // frame written to each built-in columnar/row format reads back
    // identically (ORC exercises a second columnar reader with its own
    // pushdown path; CSV/JSON the schema-on-read text paths)
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars", "text")
    val base = Files.createTempDirectory("graft_fmt").toString
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, String)] =
      df.select(col("doc_id").cast("long"), col("lang"),
          col("n_chars").cast("long"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val expected = canon(docs)
    docs.write.parquet(s"$base/p"); docs.write.orc(s"$base/o")
    docs.write.option("header", "true").csv(s"$base/c")
    docs.write.json(s"$base/j")
    assert(canon(spark.read.parquet(s"$base/p")) == expected)
    assert(canon(spark.read.orc(s"$base/o")) == expected)
    assert(canon(spark.read.option("header", "true")
      .schema("doc_id long, lang string, n_chars long, text string")
      .csv(s"$base/c")) == expected)
    assert(canon(spark.read.json(s"$base/j")) == expected)
    // pushdown parity: the ORC scan takes filters like the parquet one
    val orcPlan = spark.read.orc(s"$base/o").filter(col("doc_id") < 10)
      .queryExecution.executedPlan.toString
    assert(orcPlan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"),
      s"ORC lost filter pushdown:\n$orcPlan")
  }

  test("Tables.events reads both layouts: TIMESTAMP(NANOS) and rewritten µs") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    // the driver's nanos file (legacy-conf long read + div-1000 normalize)
    val nanos = graft.core.Tables.events(spark, sfDir)
    assert(nanos.schema("ts").dataType == TimestampType)
    // a rewritten twin: any non-nanos writer (Spark here, DuckDB in
    // tools/make_sf1.py) emits standard µs — values must agree exactly
    val base = java.nio.file.Files.createTempDirectory("graft-ev").toString
    // Spark writes TimestampType as µs parquet; reading it back yields
    // TIMESTAMP_NTZ or TIMESTAMP depending on the writer's session conf —
    // write NTZ explicitly to exercise the make_sf1.py shape
    nanos.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.parquet(s"$base/events.parquet")
    val rewritten = graft.core.Tables.events(spark, base)
    assert(rewritten.schema("ts").dataType == TimestampType)
    val a = nanos.select("event_id", "ts").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSeq
    val b = rewritten.select("event_id", "ts").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSeq
    assert(a == b, "rewritten µs events diverged from the nanos originals")
  }

  test("SyntheticDocs rejects nTok beyond the per-doc hash stride") {
    // token j of doc `base` hashes base * 64 + j — past 64 tokens adjacent
    // docs would share token streams and the planted-pair ground truth
    // (TextSpec + Bench reference_text anchors) silently breaks
    val e = intercept[IllegalArgumentException] {
      graft.sources.SyntheticDocs.planted(spark, nBase = 10L, nPlant = 1L, nTok = 65)
    }
    assert(e.getMessage.contains("hash-stride"))
    // and below: nTok = 0 would index words(0/2) inside an executor task
    intercept[IllegalArgumentException] {
      graft.sources.SyntheticDocs.planted(spark, nBase = 10L, nPlant = 1L, nTok = 0)
    }
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    // a corpus that gained a column mid-life (the normal state of a long-
    // lived 100 TB dataset): old files must read with nulls in the new
    // column, and pruning a v1-only column must still work
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v1")
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    Seq((3L, "c", 9.5), (4L, "d", 8.5)).toDF("id", "v1", "score")
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "score", "gen"))
    val rows = merged.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(9.5), 4L -> Some(8.5)))
    // old-column projection prunes: the scan must not read `score`
    val p = merged.select("v1").queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<v1:string>"), s"projection did not prune:\n$p")
  }
}
