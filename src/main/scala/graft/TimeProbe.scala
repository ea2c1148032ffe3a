package graft

/** Dev tool: steady-state timing of named gate queries (5 noop-sink runs
  * each) — the per-query twin of PlanDump for chasing local regressions.
  * Usage: runMain graft.TimeProbe q66_pipeline_summary [...]
  * The data dir comes from SPARK_GRAFT_SF_DIR and the session from
  * `Sessions.local` (SPARK_GRAFT_CPUS cores, default the host's) — the
  * configuration Bench measures, so a probe steady and a bench median time
  * the same engine. Probes committed before this session was shared ran on
  * Java serialization without the graft extensions. The first line is
  * `PROBE_CONFIG sf=<dir> cpus=<n>`, so Bench grades a run only against a
  * probe of its own data dir and core count.
  *
  * CONTAMINATION GUARD (round 17 — PROBE_r16 committed steadies for
  * q34/q35/q57/q58 that an I/O-noise window had inflated 6-27×, and
  * Bench.loadProbeSteady grades the NEXT round against the newest probe,
  * so a poisoned probe blinds the regression detector for a whole round):
  * every vector is checked against two signatures before it may print as
  * a `PROBE` line —
  *  - within-vector dispersion: warm runs (run 1 excluded, it re-JITs)
  *    swinging more than 4× inside one vector is the noise-window
  *    signature (PROBE_r16's q34: 3.12 24.77 36.25 15.09 4.24);
  *  - steady above 1.5× the best steady any committed PROBE_r*.txt ever
  *    recorded for the query (and above the 0.5 s floor compare_probe
  *    uses) — the uniformly-inflated-window signature the dispersion
  *    check is blind to (PROBE_r16's q35 warm spread was only 3.0×).
  * A flagged query re-measures up to 2 extra minutes-apart vectors. A
  * REAL regression reproduces — if the re-measured mins agree within
  * 1.25× the slow steady prints with a `REGRESSION?` stderr note (the
  * probe must record honest slowdowns). A contaminated window does not —
  * the query prints as `PROBE-SUSPECT` (which parseProbeSteady and
  * compare_probe deliberately do not match) and the probe exits 3 so a
  * scripted regeneration knows to re-run in a quieter window. */
object TimeProbe {
  /** ENVIRONMENT EPOCH (round 18): first non-comment integer line of
    * PROBE_EPOCH in `dir` (0 when absent/unparseable). Probes from rounds
    * BEFORE the epoch are retired from the best-known-steady bar. The r17
    * judge's same-window code A/B proved the box can no longer produce the
    * r15-era steadies for many-tiny-job loops (r15 code itself ran
    * q94_pagerank at 2.15 s vs its committed 1.07 s while single-job
    * controls matched exactly), so grading against the all-time MIN
    * permanently flagged ~20-30 healthy queries per bench run — the
    * requeue/isolation cascade that blew two driver windows. Bumping the
    * epoch is an evidence-backed act: PROBE_EPOCH documents the A/B. */
  private[graft] def probeEpoch(dir: java.io.File = new java.io.File(".")): Int = try {
    val f = new java.io.File(dir, "PROBE_EPOCH")
    if (!f.isFile) 0 else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim)
        .find(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap(_.toIntOption).getOrElse(0)
      finally src.close()
    }
  } catch { case e if scala.util.control.NonFatal(e) => 0 }

  /** Best-known steady per query: the MIN across every committed
    * PROBE_r*.txt at or after the environment epoch whose `PROBE_CONFIG`
    * header names this data dir and core count ([[Bench.probeSteadyOf]])
    * — the strictest "this box, in its CURRENT regime and configuration,
    * has run it this fast" bar. */
  private[graft] def bestKnownSteady(sfDir: String, cpus: Int,
                                     dir: java.io.File = new java.io.File(".")): Map[String, Double] = try {
    val epoch = probeEpoch(dir)
    val files = Option(dir.listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter { f =>
        f.getName.matches("PROBE_r\\d+\\.txt") &&
          f.getName.replaceAll("\\D", "").toInt >= epoch
      }
    files.flatMap(Bench.probeSteadyOf(_, sfDir, cpus).toSeq.flatten)
      .groupMapReduce(_._1)(_._2)(math.min)
  } catch { case e if scala.util.control.NonFatal(e) =>
    System.err.println(s"[probe] reference steadies not loaded (guard on dispersion only): $e")
    Map.empty
  }

  private[graft] def dispersed(v: Seq[Double]): Boolean = {
    val w = v.drop(1) // run 1 re-JITs; its inflation is expected
    w.size > 1 && w.min > 0 && w.max / w.min > 4.0
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.isEmpty || !new java.io.File(dir).isDirectory) {
      System.err.println(
        s"usage: SPARK_GRAFT_SF_DIR=<parquet dir> runMain graft.TimeProbe <query name>... | all\n" +
        s"  (data dir '$dir' ${if (new java.io.File(dir).isDirectory) "exists" else "MISSING"}; " +
        s"queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
      if (args.isEmpty) return
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local("timeprobe")
    spark.sparkContext.setLogLevel("WARN")
    println(Bench.probeConfigLine(dir, graft.core.Sessions.cpus))
    // `all` expands to the full sorted gate inventory — the sweep that
    // tools/compare_probe.py cross-checks a bench artifact against
    val names: Seq[String] =
      if (args.sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    val ref = bestKnownSteady(dir, graft.core.Sessions.cpus)
    var suspects = 0
    def vector(name: String): Seq[Double] = {
      val ts = (1 to 5).map(_ => Bench.timeNoop(SparkEntry.queries(name)(spark, dir)))
      graft.core.InternalCaches.release(spark)
      ts
    }
    for (name <- names) {
      def overRef(v: Seq[Double]): Boolean = ref.get(name).exists(Bench.overBar(v.min, _))
      var vecs = List(vector(name))
      while (vecs.size < 3 && (dispersed(vecs.minBy(_.min)) || overRef(vecs.minBy(_.min)))) {
        System.err.println(f"[probe] $name flagged (dispersed=${dispersed(vecs.head)} " +
          f"overRef=${overRef(vecs.minBy(_.min))} best=${vecs.map(_.min).min}%.2f " +
          f"ref=${ref.getOrElse(name, -1.0)}%.2f) — re-measuring")
        // Re-measure vectors must genuinely be MINUTES apart (round 18,
        // advisor): back-to-back vectors all sit inside one multi-minute
        // noise window, reproduce within the 1.25x mins band, and print a
        // contaminated steady as REGRESSION? — the exact PROBE_r16 failure
        // the guard was built to withhold. 75 s between vectors.
        Thread.sleep(75000L)
        vecs = vector(name) :: vecs
      }
      val best = vecs.minBy(_.min)
      val line = f"$name ${best.map(t => f"$t%.2f").mkString(" ")}"
      if (dispersed(best)) {
        suspects += 1
        println(s"PROBE-SUSPECT $line")
        System.err.println(s"[probe] $name SUSPECT: warm runs still swing > 4x " +
          "after re-measures — noise window, steady withheld")
      } else if (overRef(best)) {
        val mins = vecs.map(_.min)
        if (mins.max / mins.min <= 1.25) {
          println(s"PROBE $line")
          System.err.println(f"[probe] $name REGRESSION? steady ${best.min}%.2f " +
            f"reproduces across ${vecs.size}%d vectors vs best-known " +
            f"${ref.getOrElse(name, -1.0)}%.2f — recording it as real")
        } else {
          suspects += 1
          println(s"PROBE-SUSPECT $line")
          System.err.println(f"[probe] $name SUSPECT: steady over 1.5x best-known " +
            f"and unstable across re-measures (mins ${mins.map(m => f"$m%.2f").mkString(" ")})")
        }
      } else println(s"PROBE $line")
    }
    spark.stop()
    if (suspects > 0) {
      System.err.println(s"[probe] $suspects suspect queries — regenerate in a quieter window")
      sys.exit(3)
    }
  }
}
