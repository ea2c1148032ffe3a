package graft

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import graft.streaming.{DistributedSketches, FrequentItemsJob, Sketches, StreamJoins, WindowedAnalytics}

class StreamingSpec extends SparkSpec {

  private def planted(n: Int, nFrequent: Int, seed: Long): Seq[Long] = {
    // ~4% each for planted items, uniform tail — mirrors the reference's
    // stream shape (FIXTURES.md §2)
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      if (rng.nextDouble() < 0.04 * nFrequent) (rng.nextInt(nFrequent) + 1).toLong
      else rng.nextInt(Int.MaxValue).toLong + 100L
    }
  }

  test("FrequentItemsJob: exact histogram + cutoff at n over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val items = planted(5000, 5, seed = 11)
    val mem = MemoryStream[Long]
    mem.addData(items take 3000)
    mem.addData(items.slice(3000, 4200))
    mem.addData(items.drop(4200))   // job must cut at n=4000 inside batch 2
    val stream = mem.toDF().select(col("value").as("item"))
    val rep = FrequentItemsJob.run(spark, stream, n = 4000, phi = 0.03,
      epsilon = 0.01, delta = 0.1, seed = 5)
    assert(rep.n == 4000)
    // oracle: exact frequent over the first 4000 items
    val truth = items.take(4000).groupBy(identity).view.mapValues(_.size).toMap
    val threshold = math.ceil(0.03 * 4000).toInt
    val expected = truth.filter(_._2 >= threshold).keys.toSeq.sorted
    assert(rep.trueFrequent == expected)
    assert(rep.histogramSize == truth.size)
    // reservoir: m = ceil(1/phi) = 34
    assert(rep.reservoirSample.size == math.min(34, 4000))
    // sticky: estimate must contain every true frequent item w.h.p.
    // (delta=0.1; deterministic given the seed — this seed passes)
    assert(expected.forall(rep.stickyEstimate.contains))
  }

  test("socket source end-to-end: frequent items over a live TCP stream (reference S3 contract)") {
    // a real TCP feeder, not MemoryStream: the reference consumed
    // algo.dei.unipd.it ports — this exercises the exact readStream
    // .format("socket") path cli.StreamApp uses, on an ephemeral port
    val rng = new scala.util.Random(3)
    val feeder = new LineFeeder(Int.MaxValue, _ =>
      (if (rng.nextDouble() < 0.5) (rng.nextInt(5) + 1).toLong else 1000L + rng.nextInt(1000000)).toString)
    val rep = try FrequentItemsJob.run(spark, feeder.stream, n = 20000, phi = 0.05,
      epsilon = 0.02, delta = 0.1, seed = 8) finally feeder.stop()
    assert(rep.n == 20000)
    // 5 planted heavies at ~10% each vs threshold ceil(0.05*20000) = 1000;
    // tail ids are ~unique, so the true-frequent set is exactly the plant
    assert(rep.trueFrequent == Seq(1L, 2L, 3L, 4L, 5L))
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(rep.stickyEstimate.contains))
  }

  test("HW3 accuracy anchor: 1M-item stream, phi=0.07 eps=0.03 delta=0.1 (reference Output1M shape)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Deterministic stand-in for the reference's dead socket feed
    // (algo.dei.unipd.it:8888, published run Output1M_007_003_01_8888.txt):
    // same published SHAPE — n = 1e6, exactly 10 true frequent items,
    // reservoir m = 15, sticky reports all 10 true frequent. Stream: 10
    // heavy items at 7.2% each (72000 ≥ ⌈phi·n⌉ = 70000) interleaved with
    // 40000 distinct tail items ×7 (7 ≪ (phi−eps)·n = 40000).
    val n = 1000000
    val items = new Array[Long](n)
    var h = 0; var t = 0
    var i = 0
    while (i < n) {
      if (i % 25 < 18) { items(i) = (h % 10).toLong; h += 1 }
      else { items(i) = 1000000L + (t / 7).toLong; t += 1 }
      i += 1
    }
    val mem = MemoryStream[Long]
    items.grouped(100000).foreach(chunk => mem.addData(chunk.toSeq))
    val stream = mem.toDF().select(col("value").as("item"))
    val rep = FrequentItemsJob.run(spark, stream, n = n, phi = 0.07,
      epsilon = 0.03, delta = 0.1, seed = 42)
    assert(rep.n == n)
    // exact half (reference: 10 true frequent)
    assert(rep.trueFrequent == (0L to 9L))
    assert(rep.histogramSize == 10 + 40000)
    // reservoir half (reference: m = 15 slots, 11 estimated items)
    assert(rep.reservoirSample.size == 15)
    assert(rep.reservoirEstimate.size >= 8 && rep.reservoirEstimate.size <= 15)
    assert(rep.reservoirEstimate.count(_ < 10L) >= 6) // mostly true-frequent
    // sticky half (reference: all 10 true frequent reported, few extras in
    // the table): a 7-count tail item can never cross the 40000 threshold,
    // so the estimate must be exactly the 10 heavy items
    assert(rep.stickyEstimate == (0L to 9L))
    assert(rep.stickyTableSize >= 10 && rep.stickyTableSize <= 300)
  }

  /** The boxed fold FrequentItemsJob ran before its primitive path —
    * HashMap histogram and sticky table, ArrayBuffer reservoir — over the
    * arrival order a Row collect of each batch yields. */
  private def boxedReport(arrival: Seq[Long], n: Int, phi: Double, epsilon: Double,
                          delta: Double, seed: Long): FrequentItemsJob.Report = {
    val items = arrival.take(n)
    val hist = mutable.HashMap.empty[Long, Long]
    val m = math.ceil(1.0 / phi).toInt
    val sample = mutable.ArrayBuffer.empty[Long]
    val rRng = new scala.util.Random(seed)
    val r = math.log(1.0 / (delta * phi)) / epsilon
    val table = mutable.HashMap.empty[Long, Long]
    val sRng = new scala.util.Random(seed + 1)
    items.zipWithIndex.foreach { case (it, t) =>
      hist.update(it, hist.getOrElse(it, 0L) + 1L)
      if (sample.length < m) sample += it
      else if (rRng.nextDouble() < m.toDouble / (t + 1).toDouble) sample(rRng.nextInt(m)) = it
      table.get(it) match {
        case Some(c) => table.update(it, c + 1)
        case None => if (sRng.nextDouble() < r / n.toDouble) table.update(it, 1L)
      }
    }
    val threshold = math.ceil(phi * items.size).toLong
    val stickyThreshold = (phi - epsilon) * n.toDouble
    FrequentItemsJob.Report(
      n = items.size,
      histogramSize = hist.size,
      trueFrequent = hist.iterator.filter(_._2 >= threshold).map(_._1).toSeq.sorted,
      reservoirSample = sample.toSeq,
      reservoirEstimate = sample.distinct.sorted.toSeq,
      stickyTableSize = table.size,
      stickyEstimate = table.iterator.filter(_._2 >= stickyThreshold).map(_._1).toSeq.sorted)
  }

  /** Arrival order of a stream: every batch Row-collected, in order. */
  private def arrivalOrder(stream: org.apache.spark.sql.DataFrame): Seq[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    val q = stream.writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
      out ++= b.collect().map(_.getLong(0)); ()
    }.start()
    q.processAllAvailable()
    q.stop()
    out.toSeq
  }

  /** 30000 planted items (six at about 4 % each) in five blocks of
    * unequal size, one MemoryStream partition each. */
  private def blocks(seed: Long): Seq[Seq[Long]] = {
    val items = planted(30000, 6, seed)
    Seq(items.take(7000), items.slice(7000, 8000), items.slice(8000, 19000),
      items.slice(19000, 26000), items.drop(26000))
  }

  /** Runs `body` while `mem` is fed `bs`: the first two blocks at once, the
    * rest 200 ms apart from another thread. */
  private def feeding[T](mem: MemoryStream[Long], bs: Seq[Seq[Long]])(body: => T): T = {
    bs.take(2).foreach(mem.addData(_))
    val feeder = new Thread(() => bs.drop(2).foreach { b => Thread.sleep(200); mem.addData(b) })
    feeder.start()
    try body finally feeder.join()
  }

  test("FrequentItemsJob: Report bit-identical to the boxed Row fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // six planted items at about 4 % each clear phi = 3 %
    val (phi, eps, delta) = (0.03, 0.01, 0.1)
    def stream(mem: MemoryStream[Long]) = mem.toDF().select(col("value").as("item"))
    // one partition per block, fed while the job runs: several batches, the
    // first spanning several partitions, n cut inside the fourth block
    for (seed <- Seq(101L, 102L)) {
      val bs = blocks(seed)
      val twin = MemoryStream[Long]
      bs.foreach(twin.addData(_))
      val expected = boxedReport(arrivalOrder(stream(twin)), 23456, phi, eps, delta, seed)
      val mem = MemoryStream[Long]
      val rep = feeding(mem, bs)(FrequentItemsJob.run(spark, stream(mem), n = 23456, phi, eps, delta, seed))
      assert(rep == expected, s"seed $seed")
      assert(rep.trueFrequent.size == 6 && rep.stickyTableSize > 6 && rep.reservoirSample.size == 34)
    }
    // rows spread round-robin over 3 partitions, final batch truncated
    val bs = blocks(103L)
    def partitioned() = { val m = MemoryStream[Long](3); bs.foreach(m.addData(_)); m }
    val expected = boxedReport(arrivalOrder(stream(partitioned())), 29999, phi, eps, delta, 103L)
    assert(FrequentItemsJob.run(spark, stream(partitioned()), n = 29999, phi, eps, delta, 103L) == expected)
  }

  /** A TCP server on an ephemeral port that writes `line(0)`, `line(1)`, …
    * to the first client, `lines` of them, pausing 1 ms every 2000; then it
    * holds the connection open until [[stop]]. */
  private final class LineFeeder(lines: Int, line: Int => String) {
    private val server = new java.net.ServerSocket(0)
    @volatile private var stopped = false
    private val thread = new Thread(() => {
      try {
        val sock = server.accept() // blocks until the socket source connects
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        var i = 0
        while (!stopped && !out.checkError()) {
          if (i < lines) {
            out.println(line(i))
            i += 1
            if (i % 2000 == 0) Thread.sleep(1)
          } else Thread.sleep(5)
        }
        sock.close()
      } catch { case _: Throwable => () } finally {
        try server.close() catch { case _: Throwable => () }
      }
    })
    thread.setDaemon(true)
    thread.start()

    /** The `cli.StreamApp` stream: each line cast to a long `item`. */
    def stream: org.apache.spark.sql.DataFrame = spark.readStream.format("socket")
      .option("host", "127.0.0.1").option("port", server.getLocalPort).option("numPartitions", 1).load()
      .selectExpr("CAST(value AS LONG) AS item")

    def stop(): Unit = {
      stopped = true
      server.close()
      thread.join(5000)
    }
  }

  /** One micro-batch of a query: its source offsets (-1 before the first),
    * its progress `numInputRows` and the Spark jobs it started. */
  private final case class Batch(id: Long, start: Long, end: Long, rows: Long, jobs: Int) {
    /** The rows a MemoryStream fed `bs` delivered in this batch: its
      * offsets count `addData` blocks. */
    def blocks(bs: Seq[Seq[Long]]): Long = bs.slice((start + 1).toInt, (end + 1).toInt).map(_.size.toLong).sum
  }

  /** Runs `body`, which starts and stops one streaming query, and returns
    * that query's batches. Jobs are matched to batches through the query
    * and batch ids the stream thread sets as local properties, with the
    * listener pattern of PlanContractSpec's `jobsOf`: a marker job submitted
    * afterwards shows every earlier job start has been seen, and the query's
    * termination event does the same for its progress events. */
  private def batchesOf[T](body: => T): (T, Seq[Batch]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    val markerKey = "graft.spec.marker"
    val marker = java.util.UUID.randomUUID().toString
    val markerSeen = new CountDownLatch(1)
    val jobStarts = new ConcurrentLinkedQueue[(String, String)]
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        if (p.getProperty(markerKey) == marker) markerSeen.countDown()
        else jobStarts.add(p.getProperty("sql.streaming.queryId") -> p.getProperty("streaming.sql.batchId"))
      }
    }
    @volatile var id: java.util.UUID = null
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val terminated = new CountDownLatch(1)
    val streams = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = if (id == null) id = e.id
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == id) progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == id) terminated.countDown()
    }
    sc.addSparkListener(jobs)
    spark.streams.addListener(streams)
    try {
      val out = body
      sc.setLocalProperty(markerKey, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerKey, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS) && terminated.await(60, TimeUnit.SECONDS))
      val started = jobStarts.asScala.toSeq
      def offset(o: String) = Option(o).flatMap(_.trim.toLongOption).getOrElse(-1L)
      out -> progress.asScala.toSeq.map { p =>
        Batch(p.batchId, offset(p.sources(0).startOffset), offset(p.sources(0).endOffset), p.numInputRows,
          started.count(_ == (id.toString, p.batchId.toString)))
      }.sortBy(_.id)
    } finally {
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
    }
  }

  test("FrequentItemsJob reads driver-resident batches with no job and keeps their progress row count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the plan-shape contract: a Spark upgrade that changes the batch plan
    // of these sources shows here as jobs, not as a silently slower path
    val bs = blocks(104L)
    for (parts <- Seq(None, Some(3))) {
      val mem = parts.fold(MemoryStream[Long])(MemoryStream[Long](_))
      val (rep, batches) = feeding(mem, bs)(batchesOf(FrequentItemsJob.run(spark,
        mem.toDF().select(col("value").as("item")), n = 30000, phi = 0.03, epsilon = 0.01, delta = 0.1)))
      assert(rep.n == 30000)
      val data = batches.filter(b => b.end > b.start)
      assert(data.nonEmpty && data.map(_.rows).sum == 30000, s"$parts: $batches")
      for (b <- batches) {
        assert(b.rows == b.blocks(bs), s"$parts: $b")
        assert(b.jobs == 0, s"$parts: $b")
      }
    }
    // the socket source: offsets count lines, and the feeder sends exactly n
    val feeder = new LineFeeder(20000, i => (i % 7).toString)
    val (rep, batches) = try batchesOf(FrequentItemsJob.run(spark, feeder.stream, n = 20000,
      phi = 0.05, epsilon = 0.02, delta = 0.1)) finally feeder.stop()
    assert(rep.n == 20000 && rep.trueFrequent == (0L to 6L))
    assert(batches.exists(_.end > -1L) && batches.map(_.rows).sum == 20000, s"$batches")
    for (b <- batches) assert(b.rows == b.end - b.start && b.jobs == 0, s"socket: $b")
  }

  test("socket stream: a mid-batch n cut keeps the first n lines in send order") {
    // the socket source deals a batch's lines round-robin over its
    // `numPartitions` slices; with one slice the fold sees the send order,
    // so the Report is the boxed fold over exactly the first n lines sent
    val (phi, eps, delta) = (0.03, 0.01, 0.1)
    val items = planted(40000, 6, seed = 108)
    val n = 23457
    val feeder = new LineFeeder(items.size, i => items(i).toString)
    val (rep, batches) = try batchesOf(FrequentItemsJob.run(spark, feeder.stream, n, phi, eps, delta, 108L))
      finally feeder.stop()
    assert(batches.exists(b => b.start < n - 1 && b.end >= n), s"n = $n does not cut a batch: $batches")
    assert(rep == boxedReport(items, n, phi, eps, delta, 108L))
  }

  test("FrequentItemsJob keeps one job per batch for any other plan, with the boxed fold's Report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (phi, eps, delta) = (0.03, 0.01, 0.1)
    val bs = blocks(105L)
    // a filter in the batch plan: the rows no longer are the scan's
    def stream(mem: MemoryStream[Long]) =
      mem.toDF().where(col("value") % 7 =!= 3).select(col("value").as("item"))
    val twin = MemoryStream[Long]
    bs.foreach(twin.addData(_))
    val arrival = arrivalOrder(stream(twin))
    val n = arrival.size
    val expected = boxedReport(arrival, n, phi, eps, delta, 106L)
    val mem = MemoryStream[Long]
    val (rep, batches) = feeding(mem, bs)(batchesOf(FrequentItemsJob.run(spark, stream(mem), n, phi, eps, delta, 106L)))
    assert(rep == expected)
    val data = batches.filter(b => b.end > b.start)
    assert(data.nonEmpty && data.map(_.rows).sum == bs.map(_.size).sum, s"$batches")
    for (b <- batches) {
      assert(b.rows == b.blocks(bs), s"$b")
      if (b.end > b.start) assert(b.jobs >= 1, s"$b")
    }
  }

  test("FrequentItemsJob.run throws instead of hanging when its query dies") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boom = udf((x: Long) => if (x == 13L) throw new IllegalStateException("boom") else x)
    val nullItem = when(col("value") =!= 13L, col("value"))
    // a throwing UDF, and a null item (a socket line that is not a number);
    // at n = 10 the null lands past the n cut of the one batch, on the
    // driver path and, behind a filter, on the one-job path
    for ((stream, n, cause) <- Seq[(MemoryStream[Long] => org.apache.spark.sql.DataFrame, Long, String)](
           (_.toDF().select(boom(col("value")).as("item")), 1000L, "boom"),
           (_.toDF().select(nullItem.as("item")), 1000L, "null item"),
           (_.toDF().select(nullItem.as("item")), 10L, "null item"),
           (_.toDF().where(col("value") =!= 50L).select(nullItem.as("item")), 10L, "null item"))) {
      val mem = MemoryStream[Long]
      mem.addData(1L to 100L)
      val job = Future(FrequentItemsJob.run(spark, stream(mem), n,
        phi = 0.1, epsilon = 0.05, delta = 0.1))(ExecutionContext.global)
      val e = intercept[StreamingQueryException](Await.result(job, 60.seconds))
      assert(e.getMessage.contains(cause))
    }
  }

  test("FrequentItemsJob.run throws when a live socket sends a line that is not a number") {
    val feeder = new LineFeeder(Int.MaxValue, i => if (i == 5000) "not-a-number" else (i % 11).toString)
    try {
      val job = Future(FrequentItemsJob.run(spark, feeder.stream, n = 1000000,
        phi = 0.1, epsilon = 0.05, delta = 0.1))(ExecutionContext.global)
      val e = intercept[StreamingQueryException](Await.result(job, 60.seconds))
      // an ANSI cast error, or a null item where the cast is lenient
      assert(Seq("CAST_INVALID_INPUT", "null item").exists(e.getMessage.contains), e.getMessage)
    } finally feeder.stop()
  }

  test("HW3 steady batches fork no process on the stream execution thread") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chunk = 20000
    val items = planted(9 * chunk, 5, seed = 21)
    val done = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) done.put(e.progress.batchId)
    }
    val mem = MemoryStream[Long]
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    spark.streams.addListener(listener)
    val events = try {
      val job = Future(FrequentItemsJob.run(spark, mem.toDF().select(col("value").as("item")),
        n = items.size, phi = 0.07, epsilon = 0.03, delta = 0.1))(ExecutionContext.global)
      // batches 3..7 run inside the recording; a probe fork on another
      // thread shows the recording sees forks at all
      for (k <- 0 until 9) {
        if (k == 3) {
          recording.start()
          val probe = new Thread(() => new ProcessBuilder("true").start().waitFor(), "fork probe")
          probe.start(); probe.join()
        }
        if (k == 8) recording.stop()
        mem.addData(items.slice(k * chunk, (k + 1) * chunk))
        if (k < 8)
          assert(done.poll(60, java.util.concurrent.TimeUnit.SECONDS) != null, s"batch for chunk $k")
      }
      assert(Await.result(job, 60.seconds).n == items.size)
      val file = java.nio.file.Files.createTempFile("hw3-forks", ".jfr")
      recording.dump(file)
      try RecordingFile.readAllEvents(file).asScala.toSeq
      finally java.nio.file.Files.delete(file)
    } finally {
      spark.streams.removeListener(listener)
      recording.close()
    }
    def on(prefix: String) = events.filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
      Option(e.getThread).exists(_.getJavaName.startsWith(prefix)))
    assert(on("fork probe").size == 1)
    val forks = on("stream execution thread")
    assert(forks.isEmpty, s"${forks.size} forks, first: ${forks.take(3).map(_.getString("command")).mkString("; ")}")
  }

  test("Reservoir sketch: size bound and fill behavior") {
    // m = ⌈1/0.1⌉ = 10 slots
    val r = new Sketches.Fold(phi = 0.1, epsilon = 0.05, delta = 0.1, n = 1000, seed = 3)
    (1L to 5L).foreach(r.add)
    assert(r.sample.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    (6L to 1000L).foreach(r.add)
    assert(r.sample.size == 10)
  }

  test("StickySampling: tracked items always increment") {
    val s = new Sketches.Fold(phi = 0.1, epsilon = 0.05, delta = 0.1, n = 1000, seed = 3)
    // force-track by direct table seed, then verify increments
    s.table.add(42L, graft.functions.BitMix.splitmix64(42L), 1L)
    (1 to 99).foreach(_ => s.add(42L))
    assert(s.table.getOrElse(42L, 0L) == 100L)
  }

  test("Sketches.Lcg draws what java.util.Random draws: nextDouble and nextInt(bound)") {
    /** The first of 100000 draws where the two generators differ, or -1. */
    def firstMismatch(seed: Long)(same: (Sketches.Lcg, java.util.Random) => Boolean): Int = {
      val (ours, theirs) = (new Sketches.Lcg(seed), new java.util.Random(seed))
      (0 until 100000).find(_ => !same(ours, theirs)).getOrElse(-1)
    }
    for (seed <- Seq(0L, 1L, 42L, -1L, Long.MinValue, Long.MaxValue)) {
      assert(firstMismatch(seed)((o, j) =>
        java.lang.Double.doubleToRawLongBits(o.nextDouble()) == java.lang.Double.doubleToRawLongBits(j.nextDouble())) == -1,
        s"nextDouble, seed $seed")
      for (bound <- Seq(1, 2, 15, 16, 34, 1 << 30, Int.MaxValue))
        assert(firstMismatch(seed)((o, j) => o.nextInt(bound) == j.nextInt(bound)) == -1, s"nextInt($bound), seed $seed")
      // interleaved, as the reservoir draws: a double, then a slot
      assert(firstMismatch(seed)((o, j) => o.nextDouble() == j.nextDouble() && o.nextInt(34) == j.nextInt(34)) == -1,
        s"interleaved, seed $seed")
    }
  }

  test("DistributedReservoir: deterministic, mergeable, size m") {
    import spark.implicits._
    val agg = new DistributedSketches.DistributedReservoir(16, seed = 9)
    val ds = spark.range(10000).map(i => (i.toLong, i % 100L))
    val out1 = ds.select[Array[Long]](agg.toColumn).collect().head
    val out2 = ds.repartition(7).select[Array[Long]](agg.toColumn).collect().head
    assert(out1.length == 16)
    assert(out1.toSeq == out2.toSeq) // order-independent: same keys win
    // the exact draw pins the key hash (splitmix64 of position ^ seed)
    assert(out1.toSeq == Seq(57L, 29L, 51L, 70L, 66L, 88L, 32L, 16L,
      70L, 18L, 50L, 57L, 89L, 67L, 60L, 5L))
  }

  test("MisraGries: heavy hitters survive any merge order") {
    import spark.implicits._
    val agg = new DistributedSketches.MisraGries(8)
    // 40% of the stream is item 1, 20% item 2 — far above n/k = 12.5%
    val data = (1 to 4000).map(_ => 1L) ++ (1 to 2000).map(_ => 2L) ++
      (1 to 4000).map(i => (i % 997 + 10).toLong)
    val ds = spark.createDataset(data).repartition(13)
    val out = ds.select(agg.toColumn).collect().head
    assert(out.contains(1L) && out.contains(2L))
  }

  test("CountMin: partition-invariant cells, never undercounts, overcount bounded") {
    import spark.implicits._
    val (d, w, seed) = (4, 256, 7L)
    val agg = new DistributedSketches.CountMin(d, w, seed)
    // zipf-ish: item i appears ~4000/i times for i in 1..40
    val data = (1 to 40).flatMap(i => Seq.fill(4000 / i)(i.toLong))
    val truth = data.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val ds = spark.createDataset(data)
    val sk1 = ds.select(agg.toColumn).collect().head
    val sk2 = ds.repartition(13).select(agg.toColumn).collect().head
    // cell-wise merge is exact addition: any partitioning yields the SAME matrix
    assert(sk1.cells.toSeq == sk2.cells.toSeq && sk1.n == sk2.n)
    assert(sk1.n == data.length.toLong)
    val overs = truth.map { case (item, t) =>
      val est = DistributedSketches.CountMin.estimate(sk1, d, w, seed, item)
      assert(est >= t, s"count-min undercounted item $item: $est < $t")
      est - t
    }
    // one-sided error: overcount stays within the 2n/w analysis bound
    assert(overs.max <= 2L * sk1.n / w, s"overcount ${overs.max} above 2n/w=${2L * sk1.n / w}")
  }

  test("WindowedAnalytics tumbling window over MemoryStream with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:40:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 01:10:00")
    mem.addData(Seq((t0, "click", 1.0), (t1, "click", 2.0), (t2, "view", 3.0)))
    val out = WindowedAnalytics.tumblingCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "1 hour", "2 hours")
    val q = out.writeStream.format("memory").queryName("win_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // append mode emits only watermark-closed windows; with a 2h watermark
    // nothing closes — assert the query ran and the plan is streaming
    assert(out.isStreaming)
  }

  test("watermark closes windows across batches and drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val out = WindowedAnalytics.tumblingCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "1 hour", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_late")
      .outputMode("append").start()
    // batch 1: [00:00,01:00) gets one click; max event time 01:10 advances
    // the watermark to 01:00, closing the first window
    mem.addData(Seq((ts("00:10:00"), "click", 1.0), (ts("01:10:00"), "click", 2.0)))
    q.processAllAvailable()
    // batch 2: a LATE click at 00:20 (behind the 01:00 watermark — must be
    // dropped, its window already closed) + an 02:10 view that advances
    // the watermark to 02:00, closing [01:00,02:00)
    mem.addData(Seq((ts("00:20:00"), "click", 9.0), (ts("02:10:00"), "view", 3.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_late")
      .select(col("w_start"), col("event_type"), col("n"), col("sum_v"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // the late 00:20 click is NOT counted (n=1, sum=1.0, not n=2/sum=10.0)
    assert(rows == Set(
      ("2024-01-01 00:00:00.0", "click", 1L, 1.0),
      ("2024-01-01 01:00:00.0", "click", 1L, 2.0)), s"got $rows")
  }

  test("sliding windows: an event lands in every overlapping window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val out = WindowedAnalytics.slidingCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "1 hour", "15 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_slide")
      .outputMode("append").start()
    // one event at 00:10; the 02:00 event advances the watermark to 01:50,
    // closing every 1h/15m window that contains 00:10 (starts 23:15..00:00)
    mem.addData(Seq((ts("2024-01-01 00:10:00"), "click", 1.0)))
    q.processAllAvailable()
    mem.addData(Seq((ts("2024-01-01 02:00:00"), "click", 2.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_slide")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(
      ("2023-12-31 23:15:00.0", "click", 1L),
      ("2023-12-31 23:30:00.0", "click", 1L),
      ("2023-12-31 23:45:00.0", "click", 1L),
      ("2024-01-01 00:00:00.0", "click", 1L)), s"got $rows")
  }

  test("stream-stream inner join: watermark drops late rows on BOTH sides") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = StreamJoins.clickToPurchase(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      watermark = "10 minutes", joinWindow = "30 minutes")
    val q = out.writeStream.format("memory").queryName("ssj_late")
      .outputMode("append").start()
    // batch 1: user 1 click+purchase match; users 98/99 only advance
    // event time on their side (watermark after the batch: 01:50)
    clicks.addData((1L, 1L, ts("00:00:00")), (2L, 98L, ts("02:00:00")))
    purchases.addData((100L, 1L, ts("00:10:00")), (101L, 99L, ts("02:00:00")))
    q.processAllAvailable()
    // batch 2: a LATE click and a LATE purchase for user 2 that WOULD
    // match each other — both are behind the 01:50 watermark and must be
    // dropped before the join, on their respective sides
    clicks.addData((3L, 2L, ts("00:20:00")))
    purchases.addData((102L, 2L, ts("00:30:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj_late").select("click_id", "purchase_id")
      .as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 100L)), s"got $rows")
  }

  test("stream-stream left-outer join: null rows emit at eviction, late right dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = StreamJoins.clickToPurchase(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      watermark = "10 minutes", joinWindow = "30 minutes",
      joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    // batch 1: u1 matches; u3's click has no purchase; u98/u99 advance
    // event time (watermark after batch 1: 01:50)
    clicks.addData((1L, 1L, ts("00:00:00")), (2L, 3L, ts("00:05:00")),
                   (3L, 98L, ts("02:00:00")))
    purchases.addData((100L, 1L, ts("00:10:00")), (101L, 99L, ts("02:00:00")))
    q.processAllAvailable()
    // batch 2: u3's click (00:05, horizon 00:35) is now past the 01:50
    // watermark → its NULL row must emit here, not in batch 1. The late
    // u3 purchase at 00:15 would have matched it — dropped, never joins.
    // u98/u99 rows advance the watermark to 02:50.
    clicks.addData((4L, 98L, ts("03:00:00")))
    purchases.addData((102L, 3L, ts("00:15:00")), (103L, 99L, ts("03:00:00")))
    q.processAllAvailable()
    // batch 3: watermark 02:50 passes u98's 02:00 click horizon (02:30) →
    // its null row emits. The 03:20 rows only move the watermark to 03:10,
    // short of the 03:00 click's horizon (03:30), so that click stays in
    // state — even through the extra no-data batch Spark runs after a
    // watermark advance — and the query ends with it unemitted.
    clicks.addData((5L, 98L, ts("03:20:00")))
    purchases.addData((104L, 99L, ts("03:20:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj_outer")
      .select("click_id", "c_user", "purchase_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows == Set(
      (1L, 1L, Some(100L)),   // matched pair, emitted inner-style
      (2L, 3L, None),         // unmatched click → null row at eviction
      (3L, 98L, None)         // watermark-driver click, evicted unmatched
    ), s"got $rows")
    // unmatched purchases (u99) never emit: right side is not preserved
  }

  test("session windows: gap splits sessions, counts per session emitted on close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val out = WindowedAnalytics.sessionCounts(
      mem.toDF().toDF("ts", "user_id"), "30 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_sess")
      .outputMode("append").start()
    // user 1: events at 00:00 and 00:10 (one session, end 00:40), then
    // 01:00 (gap 50 min > 30 ⇒ NEW session, end 01:30); the 02:00 event
    // advances the watermark to 01:50, closing both
    mem.addData(Seq((ts("00:00:00"), 1L), (ts("00:10:00"), 1L), (ts("01:00:00"), 1L)))
    q.processAllAvailable()
    mem.addData(Seq((ts("02:00:00"), 2L)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_sess")
      .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
        r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set(
      ("2024-01-01 00:00:00.0", "2024-01-01 00:40:00.0", 1L, 2L),
      ("2024-01-01 01:00:00.0", "2024-01-01 01:30:00.0", 1L, 1L)), s"got $rows")
  }

  test("decontaminateStream: ingest-time flags match the batch operator's rule") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val evalText = (1 to 20).map(i => s"tok$i").mkString(" ")
    val contaminated = "lead in words " + (3 to 15).map(i => s"tok$i").mkString(" ") + " trailing"
    val cleanDoc = (100 to 120).map(i => s"word$i").mkString(" ")
    val shortDoc = "too short for any thirteen gram"
    val evalDocs = Seq((1L, evalText)).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    mem.addData((2L, contaminated), (3L, cleanDoc))
    mem.addData((4L, shortDoc), (5L, evalText))   // 5 = verbatim eval copy
    val flagged = graft.streaming.StreamJoins.decontaminateStream(
      mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text")), evalDocs)
    val q = flagged.writeStream.format("memory").queryName("decontam")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("decontam").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(2L -> true, 3L -> false, 4L -> false, 5L -> true))
    // cross-check against the BATCH operator on the same corpus: the
    // per-lang contaminated count it reports must equal the stream flags
    val batchDocs = Seq((1L, "en", evalText), (2L, "en", contaminated),
      (3L, "en", cleanDoc), (4L, "en", shortDoc), (5L, "en", evalText))
      .toDF("doc_id", "lang", "text")
    val batch = graft.ops.Text.decontaminate(batchDocs, col("doc_id") === 1L, n = 13)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(batch("en") == out.values.count(identity).toLong)
  }

  test("decontaminateStream resumes from checkpoint: no doc dropped, re-flagged, or double-processed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the operator is stateless (broadcast eval set, per-row map), so
    // restart semantics are: source offsets resume exactly where they
    // committed, and the eval shingle set is REBUILT at query
    // construction — this proves both: the post-restart half is flagged
    // with the same rule, pre-restart docs are neither lost nor replayed
    // (an ArrayBuffer, not a Set, so a double-emission would show)
    val evalText = (1 to 20).map(i => s"tok$i").mkString(" ")
    val contaminated = "lead in words " + (3 to 15).map(i => s"tok$i").mkString(" ") + " trailing"
    val cleanDoc = (100 to 120).map(i => s"word$i").mkString(" ")
    val shortDoc = "too short for any thirteen gram"
    val evalDocs = Seq((1L, evalText)).toDF("doc_id", "text")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_decon_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    def startQuery() = graft.streaming.StreamJoins.decontaminateStream(
        mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text")), evalDocs)
      .writeStream.option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => r.getLong(0) -> r.getBoolean(2))
        emitted.synchronized { emitted ++= rows }
        ()
      }.start()
    val q1 = startQuery()
    mem.addData((2L, contaminated), (3L, cleanDoc))
    q1.processAllAvailable(); q1.stop()
    val q2 = startQuery()
    mem.addData((4L, shortDoc), (5L, evalText)) // 5 = verbatim eval copy
    q2.processAllAvailable(); q2.stop()
    assert(emitted.sorted.toSeq ==
      Seq(2L -> true, 3L -> false, 4L -> false, 5L -> true),
      s"restart broke ingest flags: ${emitted.sorted}")
    // and the flag set still matches the batch operator on the full corpus
    val batchDocs = Seq((1L, "en", evalText), (2L, "en", contaminated),
      (3L, "en", cleanDoc), (4L, "en", shortDoc), (5L, "en", evalText))
      .toDF("doc_id", "lang", "text")
    val batch = graft.ops.Text.decontaminate(batchDocs, col("doc_id") === 1L, n = 13)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(batch("en") == emitted.count(_._2).toLong)
  }

  test("streaming centroid assignment: ingest-time routing equals the batch argmin") {
    // the serving-side shape of the clustering layer: vectors arriving on
    // a stream are routed to their centroid by the SAME stateless
    // NearestCells projection the batch path uses — no state store, no
    // shuffle, so it composes with any downstream streaming agg
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchVecs = graft.sources.SyntheticVectors.clustered(spark, 48L, nCenters = 8)
    val cents = batchVecs.orderBy(col("vec_id")).limit(8)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val want = graft.ops.Clustering.assign(batchVecs, cents)
      .select(col("vec_id"), col("cidx")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = batchVecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(rows.take(20).toSeq); mem.addData(rows.drop(20).toSeq)
    val routed = graft.ops.Clustering.assign(
      mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding")), cents)
    val q = routed.select(col("vec_id"), col("cidx"))
      .writeStream.format("memory").queryName("assign_stream")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("assign_stream").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want, "stream routing diverged from batch assignment")
    assert(got.size == 48)
  }

  test("streaming quality filter: ingest-time classifier margins equal the batch scores") {
    // the ingest-time shape of the q93 quality filter: the model is a plan
    // literal and scoring is a stateless projection, so the SAME
    // classifierScores call works on a stream with no state store and no
    // shuffle — documents can be kept/dropped at ingest before they ever
    // hit storage
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (w, b) = graft.ops.Embeddings.q93Model
    val want = graft.ops.Embeddings.classifierScores(emb, w, b)
      .select(col("vec_id"), col("margin"), col("keep")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    val rows = emb.select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)].collect()
    val mem = MemoryStream[(Long, Array[Float], Int)]
    mem.addData(rows.take(17).toSeq); mem.addData(rows.drop(17).toSeq)
    val scored = graft.ops.Embeddings.classifierScores(
      mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"),
        col("_3").as("label")), w, b)
    val q = scored.select(col("vec_id"), col("margin"), col("keep"))
      .writeStream.format("memory").queryName("classify_stream")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("classify_stream").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(got == want, "stream scoring diverged from batch classifierScores")
    assert(got.size == rows.length)
  }
}
