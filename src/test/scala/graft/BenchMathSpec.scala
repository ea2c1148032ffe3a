package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's reporting arithmetic — the statistics the round artifact is
  * built from. These paths only execute under failure/noise conditions in
  * a real bench run, so they are pinned here instead. */
class BenchMathSpec extends AnyFunSuite {

  test("median: odd, even, single") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Bench.median(Seq(7.0)) == 7.0)
  }

  test("medianValid ignores -1 failure markers but keeps the failure flag") {
    // a late-round transient failure must not poison two good runs
    assert(Bench.medianValid(Seq(1.1, 1.2, -1.0)) == 1.15)
    assert(Bench.medianValid(Seq(0.5, -1.0, 0.7)) == 0.6)
    // no valid runs -> the driver-visible -1 flag
    assert(Bench.medianValid(Seq(-1.0)) == -1.0)
    assert(Bench.medianValid(Nil) == -1.0)
  }

  test("highVarianceLine fires only on >4x valid-run dispersion") {
    assert(Bench.highVarianceLine("q", Seq(0.4, 0.42, 0.45)).isEmpty)
    assert(Bench.highVarianceLine("q", Seq(0.4, 0.42, 10.9)).exists(
      l => l.contains("HIGH VARIANCE q") && l.contains("TimeProbe")))
    // exactly the r7 phantom shape: a noise window owning two of three runs
    assert(Bench.highVarianceLine("q30", Seq(1.16, 10.92, 16.10)).isDefined)
    // failure markers are excluded from the ratio, not treated as ~0 floors
    assert(Bench.highVarianceLine("q", Seq(-1.0, 0.5, 0.6)).isEmpty)
    // single valid run: no dispersion to judge
    assert(Bench.highVarianceLine("q", Seq(-1.0, 0.5)).isEmpty)
  }

  test("parseProbeSteady: steady state is the min run, sbt prefixes tolerated") {
    val lines = Iterator(
      "PROBE q34_ngram_jaccard 1.10 0.52 0.50 0.51 0.55",
      "[info] PROBE q01_agg 0.20 0.10 0.12 0.11 0.10", // sbt-prefixed
      "PROBE q66_pipeline_summary 0.80",                // single run
      "PROBE broken_line_no_numbers",                   // ignored
      "some unrelated log chatter",                     // ignored
      "PROBE q03_topk 0.30 0.25 trailing-garbage")      // ignored (not all-numeric tail)
    val m = Bench.parseProbeSteady(lines)
    assert(m == Map(
      "q34_ngram_jaccard" -> 0.50,
      "q01_agg" -> 0.10,
      "q66_pipeline_summary" -> 0.80))
  }

  test("loadProbeSteady: grades only against a probe of the run's data dir and core count") {
    assume(sys.env.get("SPARK_GRAFT_PROBE_FILE").isEmpty, "a probe file override is set")
    val dir = java.nio.file.Files.createTempDirectory("probe_config").toFile
    def write(body: String): Unit = java.nio.file.Files.write(
      new java.io.File(dir, "PROBE_r21.txt").toPath, body.getBytes("UTF-8"))
    val probes = "PROBE q01_agg 0.20 0.10 0.12\nPROBE q03_topk 0.30 0.25\n"
    write(s"[info] ${Bench.probeConfigLine("/data/sf0.1", 4)}\n$probes")
    assert(Bench.loadProbeSteady("/data/sf0.1", 4, dir) == Map("q01_agg" -> 0.10, "q03_topk" -> 0.25))
    assert(Bench.loadProbeSteady("/data/sf0.01", 4, dir).isEmpty)
    assert(Bench.loadProbeSteady("/data/sf0.1", 14, dir).isEmpty)
    write(probes) // no header: the sweep's configuration is unknown
    assert(Bench.loadProbeSteady("/data/sf0.1", 4, dir).isEmpty)
  }

  test("compactContractLine: 91-query inventory fits the driver window, sections intact") {
    // the round-9 shape that overflowed: 91 realistic query names plus all
    // nine reference sections
    val queries = (1 to 91).map(i => f"q${i}%02d_some_operator_name" -> (i % 7) * 0.37).toVector
    val sections = Seq(
      "reference" -> Vector("exact_uber100k" -> "0.76", "approx_uber100k" -> "0.34", "mrfft_uber" -> "0.33"),
      "reference_1m" -> Vector("mrfft_k200_1m" -> "0.50", "approx_1m" -> "0.50"),
      "reference_10m" -> Vector("mrfft_k110_10m" -> "1.48"),
      "reference_text" -> Vector("minhash_lsh_300k" -> "2.53"),
      "reference_text_skew" -> Vector("lsh_skew_300k" -> "2.60"),
      "reference_vec_1m" -> Vector("kmeans_assign_1m" -> "0.23"))
    val (line, qShed, sShed) = Bench.compactContractLine(40.0, "/root/testdata/sf0.1", queries, sections)
    assert(line.length <= Bench.ContractBudget, s"line still ${line.length} chars")
    // the graded reference sections must all survive — queries shed instead
    assert(sShed.isEmpty, s"sections shed: $sShed")
    assert(qShed > 0 && line.contains(s""""queries_shed":$qShed"""))
    // the EXPENSIVE queries stay; the shed ones are the cheapest
    val kept = """"(q\d+_some_operator_name)":""".r.findAllMatchIn(line).map(_.group(1)).toSet
    val keptMedians = queries.filter(q => kept(q._1)).map(_._2)
    val shedMedians = queries.filterNot(q => kept(q._1)).map(_._2)
    assert(kept.size == 91 - qShed)
    assert(shedMedians.nonEmpty && keptMedians.min >= shedMedians.max,
      "shed a more expensive query than one kept")
    // a small inventory sheds nothing and carries no marker
    val (small, 0, Nil) = Bench.compactContractLine(5.0, "sf", queries.take(10), sections)
    assert(!small.contains("queries_shed") && small.length <= Bench.ContractBudget)
  }

  test("compactContractLine: budget_exhausted marker survives shedding and stays parseable") {
    val queries = (1 to 91).map(i => f"q${i}%02d_some_operator_name" -> (i % 7) * 0.37).toVector
    val (line, _, _) = Bench.compactContractLine(40.0, "sf", queries, Seq.empty,
      budgetExhausted = true)
    assert(line.contains(""""budget_exhausted":true"""), line)
    assert(line.length <= Bench.ContractBudget)
    // the marker is valid JSON in place (the driver json-parses the line)
    assert(line.startsWith("{") && line.endsWith("}"))
    val (clean, _, _) = Bench.compactContractLine(40.0, "sf", queries.take(5), Seq.empty)
    assert(!clean.contains("budget_exhausted"))
  }

  test("compactContractLine: sigterm marker (the emergency-hook line) stays parseable") {
    val queries = (1 to 91).map(i => f"q${i}%02d_some_operator_name" -> (i % 7) * 0.37).toVector
    val (line, _, _) = Bench.compactContractLine(40.0, "sf", queries, Seq.empty,
      budgetExhausted = true, sigterm = true)
    assert(line.contains(""""sigterm":true""") &&
      line.contains(""""budget_exhausted":true"""), line)
    assert(line.length <= Bench.ContractBudget)
    assert(line.startsWith("{") && line.endsWith("}"))
    val (normal, _, _) = Bench.compactContractLine(40.0, "sf", queries.take(5), Seq.empty)
    assert(!normal.contains("sigterm"))
  }

  test("probe epoch retires pre-epoch steadies from the best-known bar") {
    val dir = java.nio.file.Files.createTempDirectory("probe_epoch").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    val header = Bench.probeConfigLine("/data/sf0.1", 4)
    // r15: the unreachable-era steady the r17 judge's code A/B retired;
    // r17: the current regime's bar
    write("PROBE_r15.txt", s"$header\nPROBE q94_pagerank 1.20 1.07 1.10\nPROBE q01_agg 0.10 0.08\n")
    write("PROBE_r17.txt", s"$header\nPROBE q94_pagerank 2.30 2.15 2.20\nPROBE q01_agg 0.10 0.09\n")
    // another configuration's sweep and a headerless one never lower the bar
    write("PROBE_r18.txt", s"${Bench.probeConfigLine("/data/sf0.01", 4)}\n" +
      "PROBE q94_pagerank 0.30 0.20 0.25\nPROBE q01_agg 0.02 0.01\n")
    write("PROBE_r19.txt", "PROBE q94_pagerank 0.40 0.30 0.35\nPROBE q01_agg 0.03 0.02\n")
    // no epoch file -> all probes count (the historical MIN)
    assert(TimeProbe.probeEpoch(dir) == 0)
    assert(TimeProbe.bestKnownSteady("/data/sf0.1", 4, dir)("q94_pagerank") == 1.07)
    // epoch 17 (comment lines tolerated) -> r15 is retired, r17's min rules
    write("PROBE_EPOCH", "# environment epoch\n17\n# evidence: judge A/B\n")
    assert(TimeProbe.probeEpoch(dir) == 17)
    val bar = TimeProbe.bestKnownSteady("/data/sf0.1", 4, dir)
    assert(bar("q94_pagerank") == 2.15)
    assert(bar("q01_agg") == 0.09)
    // a malformed epoch file degrades to 0, never throws
    write("PROBE_EPOCH", "not-a-number\n")
    assert(TimeProbe.probeEpoch(dir) == 0)
  }

  test("contendedRep: foreign CPU, iowait, or D-state pile-up each trip the gate") {
    def rep(f: Double = 0.0, w: Double = 0.0, b: Long = 0L) =
      Bench.RepMeter(1.0, f, w, b)
    assert(!Bench.contendedRep(rep()))
    assert(Bench.contendedRep(rep(f = 10.0)), "foreign CPU breach must count")
    assert(Bench.contendedRep(rep(w = 10.0)),
      "iowait breach at zero foreign CPU must count (the D-state I/O mode)")
    assert(Bench.contendedRep(rep(b = 40L)), "D-state pile-up must count")
    // unreadable meters (-1) never count as contention
    assert(!Bench.contendedRep(Bench.RepMeter(1.0, -1.0, -1.0, -1L)))
  }

  test("probe guard: dispersion ignores the JIT run, catches the noise-window signature") {
    // PROBE_r16's contaminated q34 vector — warm swing 24.77/4.24 > 4x
    assert(TimeProbe.dispersed(Seq(3.12, 24.77, 36.25, 15.09, 4.24)))
    // a big FIRST run alone is expected JIT, not contamination
    assert(!TimeProbe.dispersed(Seq(13.43, 2.86, 1.89, 1.82, 2.22)))
    // PROBE_r16's q35 (uniform inflation, warm swing only 3.0x) does NOT
    // trip dispersion — that is what the best-known-steady cross-check is
    // for (exercised in TimeProbe.main against committed probe files)
    assert(!TimeProbe.dispersed(Seq(38.64, 20.09, 6.77, 12.33, 10.75)))
    assert(!TimeProbe.dispersed(Seq(1.0)))
  }

  test("resume manifest: save/load round-trip, key mismatch starts fresh, garbage tolerated") {
    val dir = java.nio.file.Files.createTempDirectory("bench_manifest").toFile
    val path = new java.io.File(dir, "BENCH_MANIFEST.txt").getPath
    val entries = Seq(
      "q01_agg" -> Bench.ManifestEntry(Vector(0.11, 0.10, 0.12), 0.11, "interleaved", clean = true),
      "q34_ngram_jaccard" -> Bench.ManifestEntry(Vector(0.52), 0.52, "isolated", clean = false),
      "q99_vocab" -> Bench.ManifestEntry(Vector.empty, -1.0, "interleaved", clean = false))
    Bench.saveManifest(path, "abc123", entries)
    // same key: full round-trip (empty run vectors included)
    assert(Bench.loadManifest(path, "abc123") == entries.toMap)
    // different key (code or config changed): every entry is invalidated
    assert(Bench.loadManifest(path, "def456").isEmpty)
    // nokey (unreadable tree) disables both reuse and writes
    assert(Bench.loadManifest(path, "nokey").isEmpty)
    Bench.saveManifest(new java.io.File(dir, "nk.txt").getPath, "nokey", entries)
    assert(!new java.io.File(dir, "nk.txt").exists())
    // absent file and corrupt lines degrade to empty/partial, never throw
    assert(Bench.loadManifest(new java.io.File(dir, "missing.txt").getPath, "abc123").isEmpty)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "KEY abc123\nQ ok 1.500 interleaved true 1.4,1.5,1.6\ngarbage line\nQ bad notanumber x y z\n"
        .getBytes("UTF-8"))
    val m = Bench.loadManifest(path, "abc123")
    assert(m.keySet == Set("ok") && m("ok").published == 1.5 && m("ok").clean)
  }

  test("resume manifest key: deterministic over the tree, sensitive to config and code") {
    val tree = java.nio.file.Files.createTempDirectory("bench_key")
    java.nio.file.Files.write(tree.resolve("A.scala"), "object A".getBytes("UTF-8"))
    val k1 = Bench.sourceKey("sf0.1|32|3", tree)
    assert(k1 == Bench.sourceKey("sf0.1|32|3", tree), "same tree+config must agree")
    assert(k1 != Bench.sourceKey("sf0.01|32|3", tree), "config must be part of the key")
    java.nio.file.Files.write(tree.resolve("A.scala"), "object A2".getBytes("UTF-8"))
    assert(k1 != Bench.sourceKey("sf0.1|32|3", tree), "a source edit must invalidate")
    // no scala files / missing dir -> nokey (reuse disabled, no crash)
    assert(Bench.sourceKey("x", java.nio.file.Paths.get("/nonexistent_dir_xyz")) == "nokey")
  }

  test("compactContractLine: excluded/resumed counts publish beside the total") {
    val queries = (1 to 20).map(i => f"q$i%02d_op" -> (if (i <= 3) -1.0 else 0.3)).toVector
    val (line, _, _) = Bench.compactContractLine(5.1, "sf", queries, Seq.empty,
      nExcluded = 3, nResumed = 12)
    assert(line.contains(""""queries_excluded":3"""), line)
    assert(line.contains(""""queries_resumed":12"""), line)
    assert(line.startsWith("{") && line.endsWith("}"))
    // zero counts carry no marker
    val (clean, _, _) = Bench.compactContractLine(5.1, "sf", queries, Seq.empty)
    assert(!clean.contains("queries_excluded") && !clean.contains("queries_resumed"))
  }

  test("host meters read this box: busy/iowait jiffies and procs_blocked are live") {
    // on Linux all three read nonnegative; elsewhere they degrade to -1
    // without throwing (the meters must never take the bench down)
    val busy = Bench.hostBusyJiffies(); val io = Bench.hostIowaitJiffies()
    val blk = Bench.procsBlocked()
    if (new java.io.File("/proc/stat").isFile) {
      assert(busy > 0); assert(io >= 0); assert(blk >= 0)
    } else { assert(busy == -1L && io == -1L && blk == -1L) }
    assert(Bench.userHz > 0)
    val m = Bench.timeWithForeign { Thread.sleep(50) }
    assert(m.sec >= 0.05)
    // a sleeping measurement burns ~no foreign cores on a quiet box; the
    // meter must at minimum come back finite and >= -1
    assert(m.foreign >= -1.0 && m.iowaitCores >= -1.0)
  }

  test("overBar: over 0.5 s and over 1.5x the steady state") {
    assert(Bench.overBar(0.76, 0.5))
    assert(!Bench.overBar(0.74, 0.5))
    assert(!Bench.overBar(0.49, 0.01), "sub-0.5 s medians never trip the bar")
    assert(Bench.overBar(0.6, 0.0), "a zero steady is floored at 0.01, not divided by")
  }

  test("requeueAnchor: dispersion requeues only over the probe bar") {
    def reps(secs: Double*) = secs.map(Bench.RepMeter(_, 0.0, 0.0, 0L))
    assert(!Bench.requeueAnchor(reps(0.13, 0.208)), "a 1.6x spread under 0.5 s is jitter")
    assert(Bench.requeueAnchor(reps(1.0, 1.6)), "a 1.6x spread over 0.5 s requeues")
    assert(!Bench.requeueAnchor(reps(1.0, 1.4)))
    assert(!Bench.requeueAnchor(reps(1.0)), "one rep has no dispersion")
    // every rep contended requeues whatever the spread
    assert(Bench.requeueAnchor(Seq(Bench.RepMeter(0.1, 10.0, 0.0, 0L),
      Bench.RepMeter(0.1, 10.0, 0.0, 0L))))
  }

  test("printEmergencyLine: relabels an unsignalled stash, prints at most once") {
    val saved = (Bench.contractPrinted, Bench.sigtermSeen, Bench.emergencyLine.get)
    val out = System.out
    val buf = new java.io.ByteArrayOutputStream
    def printed(): String = { System.out.flush(); val s = buf.toString("UTF-8"); buf.reset(); s }
    try {
      System.setOut(new java.io.PrintStream(buf, true, "UTF-8"))
      Bench.contractPrinted = false
      Bench.sigtermSeen = false
      Bench.emergencyLine.set("""{"metric":"total","sigterm":true}""")
      Bench.printEmergencyLine()
      // no signal was seen: the line must not claim one
      assert(printed().trim == """{"metric":"total","emergency":true}""")
      Bench.printEmergencyLine()
      assert(printed().isEmpty, "a second call must print nothing")
      // once main() printed its own contract line, the stash stays unprinted
      Bench.contractPrinted = true
      Bench.emergencyLine.set("""{"metric":"total","sigterm":true,"late":1}""")
      Bench.printEmergencyLine()
      assert(printed().isEmpty)
    } finally {
      System.setOut(out)
      Bench.contractPrinted = saved._1
      Bench.sigtermSeen = saved._2
      Bench.emergencyLine.set(saved._3)
    }
  }

  test("section: a golden mismatch propagates, any other failure drops the section") {
    val compact = scala.collection.mutable.LinkedHashMap(
      "reference_1m" -> Vector("mrfft_k200_1m" -> "0.50"),
      "reference_10m" -> Vector("mrfft_k110_10m" -> "1.48"))
    assert(Bench.section(compact, "reference_1m")(""","reference_1m":{}""") == ""","reference_1m":{}""")
    intercept[Bench.GoldenMismatch] {
      Bench.section(compact, "reference_1m") { Bench.golden(ok = false, "want 100"); "unreached" }
    }
    assert(compact.contains("reference_1m"), "a mismatch is not a dropped section")
    assert(Bench.section(compact, "reference_1m")(throw new IllegalStateException("infra")) == "")
    assert(compact.keySet == Set("reference_10m"))
  }
}
