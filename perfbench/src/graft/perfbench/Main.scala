package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.Bench
import graft.core.{InternalCaches, Sessions}
import graft.ops.Geometry
import graft.streaming.FrequentItemsJob

/** One benchmark run inside one JVM:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <out.json>
  *
  * Sets up [[Setups]] times (session, seeded inputs, one correctness pass
  * over every op), then runs the timed phase on the last session and writes
  * the raw record — every op, its check, its meters and, when traced, the
  * recorder's events — to `out.json`. The harness (`perfbench/run.py`)
  * turns the record into metrics.
  */
object Main {
  /** local[2] on a 4-core host: the other two cores absorb the JIT, the GC
    * and co-tenant load. Measured on 4 cores, hw12_points ran as many ops
    * per second at local[2] as at local[4], with a third of the
    * run-to-run spread. */
  val Cores = 2
  val Setups = 3
  val OpKey = "perfbench.op"
  /** Samples a p90 needs: at least 10 of them beyond it. */
  val MinSamples = 100
  private var nextId = 0

  /** One public call plus its action, and the check of its output. */
  final case class Op(name: String, call: () => Any, action: Any => Any, check: Any => Option[String])

  trait Workload {
    /** Points or stream items one op consumes. */
    def inputSize: Long
    def prepare(spark: SparkSession): Unit
    /** Ops of the correctness pass that ends every set-up. */
    def firstPass(r: Runner): Seq[Op]
    /** Timed phase: closed loops (and for streams a paced phase) on `r`.
      * With `trace`, the phases the recorder watches are named `traced…`:
      * the per-layer metrics read only those. */
    def timed(r: Runner, seconds: Double, trace: Boolean): Unit
    def close(spark: SparkSession): Unit = ()
  }

  /** Runs ops one at a time (one client thread), releasing operator caches
    * and counting leaked persisted RDDs after each. */
  final class Runner(val spark: SparkSession, val baselineRdds: Set[Int]) {
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
    var recorder: Option[Recorder] = None
    private def sc = spark.sparkContext

    /** Run one op, tagging its jobs with the op id (local property). */
    def run(op: Op, phase: String): Unit = {
      val id = nextId; nextId += 1
      sc.setLocalProperty(OpKey, id.toString)
      val gc0 = gcMs()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = 0L
      val err: Option[String] = try {
        val r = op.call()
        t1 = System.nanoTime()
        op.check(op.action(r))
      } catch { case NonFatal(e) => Some(e.toString) }
      val t2 = System.nanoTime()
      if (t1 == 0L) t1 = t2
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(OpKey, null)
      InternalCaches.release(spark)
      val leaked = (sc.getPersistentRDDs.keySet -- baselineRdds).size
      err.foreach(e => System.err.println(s"[perfbench] op ${op.name} failed: $e"))
      records += Map("id" -> id, "name" -> op.name, "phase" -> phase,
        "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> (t2 - t0) / 1e9,
        "construct_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
        "ok" -> err.isEmpty, "error" -> err, "leaked_rdds" -> leaked,
        "gc_s" -> (gcMs() - gc0) / 1e3, "heap_used_mb" -> heapUsedMb()) ++ extra
      extra = Map.empty
    }

    /** Fields the current op adds to its record (stream batches, feeder). */
    var extra: Map[String, Any] = Map.empty

    /** Run `ops` round-robin until `seconds` pass and `enough` holds (the
      * percentile rule needs a minimum sample count), for at most three
      * times `seconds`; record the phase with its host-contention meter. */
    def loop(ops: Seq[Op], seconds: Double, phase: String, enough: => Boolean = true): Unit = {
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val cap = t0 + (3 * seconds * 1e9).toLong
      var i = 0
      val load0 = Bench.loadAvg()
      val meter = Bench.timeWithForeign {
        while (i == 0 || (System.nanoTime() < deadline || !enough) && System.nanoTime() < cap) {
          run(ops(i % ops.size), phase); i += 1
        }
      }
      phases += Map("phase" -> phase, "ops" -> i, "seconds" -> meter.sec,
        "foreign_cores" -> meter.foreign, "iowait_cores" -> meter.iowaitCores,
        "procs_blocked" -> meter.blocked, "loadavg_start" -> load0, "loadavg_end" -> Bench.loadAvg())
    }

    /** Traced run: untraced and traced segments alternate (U T U T), so
      * warm-up drift does not bias the traced/untraced throughput ratio. */
    def alternate(ops: Seq[Op], seconds: Double): Unit = for (_ <- 1 to 2) {
      loop(ops, seconds / 4, "untraced")
      traced(true)
      loop(ops, seconds / 4, "traced")
      traced(false)
    }

    /** JIT warm-up before timing: op times keep falling for the first
      * dozens of ops of a fresh JVM. Counted, not timed, so every run
      * starts its timed phase from the same amount of work. */
    def warmup(ops: Seq[Op], rounds: Int): Unit = for (_ <- 1 to rounds; op <- ops) run(op, "warmup")

    def count(phase: String): Int = records.count(_("phase") == phase)

    def traced(on: Boolean): Unit = {
      val r = recorder.getOrElse(new Recorder)
      recorder = Some(r)
      if (on) r.attach(spark) else r.detach(spark)
    }
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def heapUsedMb(): Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Heap in use right after a full collection: the live set, in MB. */
  def liveHeapMb(): Double = { System.gc(); heapUsedMb() }

  /** `VmHWM` of this process in MB (-1 when /proc is unreadable). */
  def peakRssMb(): Double = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  } catch { case NonFatal(_) => -1.0 }

  // --------------------------------------------------------------- hw12

  /** The paper's HW1 and HW2 over seeded clustered points: MRFFT, then the
    * approximate and exact (M,D)-outliers at D = the MRFFT radius. */
  final class Hw12(seed: Long, n: Long) extends Workload {
    val K = 200; val L = 4; val M = 10L
    def inputSize: Long = n
    private var pts: DataFrame = _
    private var radius = 0.0

    def prepare(spark: SparkSession): Unit = { pts = Gen.points(spark, seed, n, Cores); radius = 0.0 }

    private val mrfft = Op("mrfft", () => Geometry.mrFFT(pts, K, L), identity, {
      case (r: Double, centers: Array[_]) =>
        if (radius == 0.0 && r > 0 && r <= 2 * Gen.ClusterRadius) radius = r
        if (centers.length != K) Some(s"${centers.length} centers, expected $K")
        else if (!(r > 0 && r <= 2 * Gen.ClusterRadius)) Some(s"radius $r outside (0, ${2 * Gen.ClusterRadius}]")
        else if (r != radius) Some(s"radius $r differs from the first pass's $radius")
        else None
      case other => Some(s"unexpected result $other")
    })

    private val approx = Op("approx_outliers", () => Geometry.approxOutliers(pts, radius, M),
      r => r.asInstanceOf[DataFrame].collect(), { out =>
        val byCls = out.asInstanceOf[Array[Row]].map(r => r.getString(0) -> r.getLong(1)).toMap
        val sure = byCls.getOrElse("sure", 0L); val unc = byCls.getOrElse("uncertain", 0L)
        if (sure == Gen.Outliers && unc == 0L) None else Some(s"sure=$sure uncertain=$unc")
      })

    private val exact = Op("exact_outliers", () => Geometry.exactOutliers(pts, radius, M),
      r => r.asInstanceOf[DataFrame].collect(), { out =>
        val ids = out.asInstanceOf[Array[Row]].map(_.getLong(0)).toSet
        if (ids == Gen.outlierIds(n)) None
        else Some(s"${ids.size} outliers, ${(ids -- Gen.outlierIds(n)).size} not planted")
      })

    private val ops = Seq(mrfft, approx, exact)
    def firstPass(r: Runner): Seq[Op] = ops

    def timed(r: Runner, seconds: Double, trace: Boolean): Unit = {
      r.warmup(ops, 10)
      if (!trace) r.loop(ops, seconds, "timed", r.count("timed") >= MinSamples)
      else r.alternate(ops, seconds)
    }
  }

  // ---------------------------------------------------------------- hw3

  /** The paper's HW3: `FrequentItemsJob.run` over a MemoryStream of n
    * seeded items. Drain ops add the next chunk once the previous batch
    * completes (closed loop); paced ops add items at a fixed rate from one
    * feeder thread (open loop), about a sixth of the drain rate so that a
    * slow batch does not snowball into ever larger ones. */
  final class Hw3(seed: Long, n: Int, drainChunk: Int, pacedChunk: Int, pacedRate: Double) extends Workload {
    val Phi = 0.07; val Eps = 0.03; val Delta = 0.1
    // 10 planted items share 95% of the stream, about 0.095n each: sticky
    // sampling then misses one with probability about 1e-4 per item
    val Planted = 10; val PlantedShare = 0.95
    def inputSize: Long = n
    private var spark: SparkSession = _
    private var items: Array[Long] = _
    private var planted: Seq[Long] = Nil
    private val tap = new StreamTap

    def prepare(s: SparkSession): Unit = {
      spark = s
      val (xs, pl) = Gen.items(seed, n, Planted, PlantedShare)
      items = xs; planted = pl
      s.streams.addListener(tap)
    }

    override def close(s: SparkSession): Unit = s.streams.removeListener(tap)

    private def check(rep: Any): Option[String] = rep match {
      case r: FrequentItemsJob.Report =>
        val m = math.ceil(1.0 / Phi).toInt
        if (r.n != n) Some(s"processed ${r.n} of $n items")
        else if (r.trueFrequent != planted) Some(s"frequent ${r.trueFrequent} != planted $planted")
        else if (r.reservoirSample.size != m) Some(s"reservoir holds ${r.reservoirSample.size}, expected $m")
        else if (!planted.forall(r.stickyEstimate.contains)) Some("sticky estimate misses a frequent item")
        else None
      case other => Some(s"unexpected result $other")
    }

    /** One op: start the job, feed it from one thread, collect the report.
      * `rate` None feeds the next chunk once the previous batch completes;
      * Some(r) feeds r items per second on a fixed schedule. */
    private def stream(r: Runner, rate: Option[Double]): Any = {
      val mem = MemoryStream[Long](org.apache.spark.sql.Encoders.scalaLong, spark)
      val chunk = if (rate.isDefined) pacedChunk else drainChunk
      val chunks = (n + chunk - 1) / chunk
      def part(k: Int): Seq[Long] =
        scala.collection.immutable.ArraySeq.unsafeWrapArray(items.slice(k * chunk, math.min(n, (k + 1) * chunk)))
      val late = new Array[Double](chunks)
      tap.begin()
      val t0 = System.currentTimeMillis()
      val t0ns = System.nanoTime()
      val feeder = new Thread(() => {
        var k = 0
        while (k < chunks) {
          rate match {
            case Some(perS) =>
              val due = t0ns + (k.toLong * chunk / perS * 1e9).toLong
              val wait = due - System.nanoTime()
              if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
              late(k) = math.max(0L, System.nanoTime() - due) / 1e6
            case None =>
              if (k > 0 && !tap.awaitOffset(k - 1, 60000))
                throw new IllegalStateException(s"batch for chunk ${k - 1} never completed")
          }
          mem.addData(part(k))
          k += 1
        }
      })
      feeder.setDaemon(true)
      feeder.start()
      val rep = FrequentItemsJob.run(spark, mem.toDF().select(col("value").as("item")),
        n, Phi, Eps, Delta)
      feeder.join()
      r.extra = Map("t0_ms" -> t0, "chunk" -> chunk, "rate" -> rate.getOrElse(0.0),
        "items" -> rep.n, "batches" -> tap.end(), "feeder_late_ms" -> (if (rate.isDefined) late.toSeq else Nil))
      rep
    }

    private def batches(r: Runner, phase: String): Int =
      r.records.filter(_("phase") == phase).map(_("batches").asInstanceOf[Seq[_]].size).sum

    private def drain(r: Runner) = Op("drain", () => stream(r, None), identity, check)
    private def paced(r: Runner, rate: Double) = Op("paced", () => stream(r, Some(rate)), identity, check)

    def firstPass(r: Runner): Seq[Op] = Seq(drain(r))

    /** The timed phase drains: its batches are the closed-loop round trips
      * the end-to-end latency reads, 100 of them at least. The paced open
      * loop runs in traced runs only (its lag tail spread beyond any usable
      * bound on a shared host); the warm-up then paces at twice the rate,
      * as the JIT only needs the paced path exercised. */
    def timed(r: Runner, seconds: Double, trace: Boolean): Unit =
      if (!trace) {
        r.warmup(Seq(drain(r)), 1)
        r.loop(Seq(drain(r)), seconds, "drain", batches(r, "drain") >= MinSamples)
      } else {
        r.warmup(Seq(drain(r), paced(r, 2 * pacedRate)), 1)
        r.alternate(Seq(drain(r)), seconds / 2)
        r.traced(true)
        r.loop(Seq(paced(r, pacedRate)), seconds / 2, "traced_paced", batches(r, "traced_paced") >= MinSamples)
        r.traced(false)
      }
  }

  // ---------------------------------------------------------------- main

  def workload(name: String, seed: Long): Workload = name match {
    case "hw12_points" => new Hw12(seed, n = 100000L)
    case "hw3_stream" => new Hw3(seed, n = 1000000, drainChunk = 100000, pacedChunk = 2000, pacedRate = 65000.0)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, out) = args
    val seed = seedS.toLong; val seconds = secondsS.toDouble; val trace = traceS == "1"
    val w = workload(name, seed)
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupOps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    var runner: Runner = null
    for (i <- 1 to Setups) {
      if (spark != null) { w.close(spark); spark.stop() }
      val t0 = System.nanoTime()
      spark = Sessions.local("perfbench", Cores)
      spark.sparkContext.setLogLevel("ERROR")
      w.prepare(spark)
      runner = new Runner(spark, spark.sparkContext.getPersistentRDDs.keySet.toSet)
      w.firstPass(runner).foreach(op => runner.run(op, s"setup$i"))
      setupS += (System.nanoTime() - t0) / 1e9
      setupOps ++= runner.records
      runner.records.clear()
    }
    val liveAfterSetup = liveHeapMb()
    w.timed(runner, seconds, trace)
    val liveAfterTimed = liveHeapMb()
    w.close(spark)
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> Cores, "input_size" -> w.inputSize, "input_rdds" -> runner.baselineRdds,
      "setup_s" -> setupS.toSeq,
      "ops" -> (setupOps ++ runner.records).toSeq, "phases" -> runner.phases.toSeq,
      "live_heap_mb" -> liveAfterSetup, "live_heap_after_timed_mb" -> liveAfterTimed,
      "peak_rss_mb" -> peakRssMb(),
      "trace_events" -> runner.recorder.map(_.dump).orNull)
    spark.stop()
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(f, record)
    // the session is stopped; do not wait on lingering non-daemon threads
    System.exit(0)
  }
}
