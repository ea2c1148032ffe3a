package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Trace recorder, attached from outside the program: a SparkListener for
  * jobs, stages, tasks and SQL executions, and a QueryExecutionListener for
  * the Catalyst phases of `QueryExecution.tracker`. Events are kept in
  * memory and written once, when the run ends; the harness turns them into
  * spans and per-op layer metrics. All times are epoch milliseconds.
  */
final class Recorder extends SparkListener {
  import Main.OpKey

  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  private val stageTaskRuns = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val executions = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var markers = 0

  private def exec(id: Long) = executions.getOrElseUpdate(id, mutable.LinkedHashMap("id" -> id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
    jobs(e.jobId) = mutable.LinkedHashMap("job" -> e.jobId, "start" -> e.time,
      "op" -> prop(OpKey), "exec" -> prop("spark.sql.execution.id"),
      "batch" -> prop("streaming.sql.batchId"), "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end") = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = stages.getOrElseUpdate((s.stageId, s.attemptNumber()), newStage(s.stageId))
    m("start") = s.submissionTime.getOrElse(-1L)
    m("end") = s.completionTime.getOrElse(-1L)
    m("task_run_ms") = stageTaskRuns.remove((s.stageId, s.attemptNumber())).map(_.toSeq).getOrElse(Nil)
    // cached RDDs the stage read, with their size: how scans of cached
    // inputs show (their reads do not count as input bytes)
    m("cached_rdds") = s.rddInfos.filter(_.isCached).map(r => Map("id" -> r.id, "bytes" -> (r.memSize + r.diskSize)))
  }

  private def newStage(id: Int): mutable.Map[String, Any] = mutable.LinkedHashMap(
    "stage" -> id, "tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
    "deser_ms" -> 0L, "result_b" -> 0L, "input_b" -> 0L, "shuffle_write_b" -> 0L,
    "shuffle_read_b" -> 0L, "fetch_wait_ms" -> 0L, "spill_b" -> 0L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val m = stages.getOrElseUpdate(key, newStage(e.stageId))
    def add(k: String, v: Long): Unit = m(k) = m(k).asInstanceOf[Long] + v
    add("tasks", 1L)
    val t = e.taskMetrics
    if (t != null) {
      add("run_ms", t.executorRunTime); add("cpu_ns", t.executorCpuTime)
      add("gc_ms", t.jvmGCTime); add("deser_ms", t.executorDeserializeTime)
      add("result_b", t.resultSize); add("input_b", t.inputMetrics.bytesRead)
      add("shuffle_write_b", t.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", t.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime)
      add("spill_b", t.diskBytesSpilled)
      stageTaskRuns.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += t.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { exec(s.executionId)("start") = s.time }
    case s: SparkListenerSQLExecutionEnd => synchronized { exec(s.executionId)("end") = s.time }
    case _ =>
  }

  /** Catalyst phases of every executed query (`QueryExecution.tracker`),
    * with the start time of its first phase. */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      val ps = qe.tracker.phases
      if (ps.nonEmpty) queries += (ps.map { case (name, p) => s"${name}_ms" -> p.durationMs } +
        ("start" -> ps.values.map(_.startTimeMs).min))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planning)
  }

  /** Wait until every event posted before this call has reached the
    * recorder (a marker job travels the same listener queue), then detach. */
  def detach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markers += 1
    val tag = s"marker-$markers"
    sc.setLocalProperty(OpKey, tag)
    val marker = sc.parallelize(Seq(1), 1).map(identity).count()
    sc.setLocalProperty(OpKey, null)
    require(marker == 1L)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def drained = synchronized(jobs.values.exists(j => j("op") == tag && j.contains("end")))
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
    spark.listenerManager.unregister(planning)
    sc.removeSparkListener(this)
  }

  def dump: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq,
      "executions" -> executions.values.map(_.toMap).toSeq,
      "queries" -> queries.toSeq)
  }
}

/** Micro-batch progress of the streams one op starts: the closed-loop
  * feeder waits on it, the paced phase derives batch lag from it, and the
  * trace reads its per-batch durations. Only queries started after
  * [[begin]] are recorded, so late events of a previous op never leak in. */
final class StreamTap extends StreamingQueryListener {
  import StreamingQueryListener._

  private var runId: java.util.UUID = null
  private var open = false
  private var batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var lastEnd = -1L

  def begin(): Unit = synchronized { open = true; runId = null; batches = mutable.ArrayBuffer.empty; lastEnd = -1L }

  def end(): Seq[Map[String, Any]] = synchronized { open = false; batches.toSeq }

  /** Block until a batch of the current query has consumed offset `k`. */
  def awaitOffset(k: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (lastEnd < k && System.currentTimeMillis() < deadline) wait(5)
    lastEnd >= k
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    if (open && runId == null) runId = e.runId
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (open && p.runId == runId && p.sources.nonEmpty) {
      def offset(s: String): Long = Option(s).flatMap(_.trim.toLongOption).getOrElse(-1L)
      val src = p.sources(0)
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val endOffset = offset(src.endOffset)
      batches += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_offset" -> offset(src.startOffset), "end_offset" -> endOffset,
        "timestamp" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
        "query_planning_ms" -> dur("queryPlanning"), "wal_commit_ms" -> dur("walCommit"),
        "seen" -> System.currentTimeMillis())
      if (endOffset > lastEnd) { lastEnd = endOffset; notifyAll() }
    }
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
