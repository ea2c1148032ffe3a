package graft

import graft.ops.Text

class TextSpec extends SparkSpec {

  test("simHash60: deterministic, 60-bit, and locality-sensitive") {
    val a = Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog")
    val b = a.updated(3, "cat")                       // small edit
    val c = Seq("entirely", "different", "words", "here", "now", "ok", "fine", "yes", "done")
    val ha = Text.simHash60(a)
    assert(ha == Text.simHash60(a))
    assert((ha >>> 60) == 0L)                         // bands split 4×15 exactly
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(ham(ha, Text.simHash60(b)) < ham(ha, Text.simHash60(c)))
  }

  test("rollingFingerprint: deterministic, shift-sensitive, window min stable") {
    val (f1, w1) = Text.rollingFingerprint("hello world hello world")
    val (f2, w2) = Text.rollingFingerprint("hello world hello world")
    assert(f1 == f2 && w1 == w2)
    val (f3, _) = Text.rollingFingerprint("hello world hello worlx")
    assert(f1 != f3)
    // same 8-gram content somewhere → winnow min can match even when full differs
    val (_, wa) = Text.rollingFingerprint("abcdefgh")
    val (_, wb) = Text.rollingFingerprint("XXabcdefghYY")
    assert(wb <= wa)  // the min over a superset of windows can only be <=
  }

  test("code-point folding: non-BMP characters hash like the DuckDB oracle") {
    // "a😀b" is 4 UTF-16 units but 3 code points (97, 128512, 98); the
    // oracle folds DuckDB ascii() over a per-character split = code
    // points. Pinned value cross-checked against DuckDB directly:
    //   list_reduce(... (acc,x) -> (acc*257+x) % (2^61-1)) = 39434435
    val (full, win) = Text.rollingFingerprint("a😀b")
    assert(full == 39434435L)
    assert(win == 39434435L) // < 8 code points → winnow falls back to full
    // simHash60 folds the same unit: one code point (128512), not two
    // surrogate units — a single-token signature is just the spread
    // token hash's low 60 bits, computable independently
    val one = Text.simHash60(Seq("😀"))
    val spread = Text.mulMod(128512L, 2004640138488879447L) // SimHashMix
    assert(one == (spread & ((1L << 60) - 1)))
  }

  test("minhash LSH pairs equal all-pairs jaccard pairs at sf0.001 (J >= 0.5)") {
    val lsh = Text.qMinHashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Text.qNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty)  // the corpus has planted near-dups
  }

  test("minhash LSH at 100k docs: finds exactly the 1000 planted near-dup pairs") {
    import spark.implicits._
    // deterministic 100k-doc corpus, 40 tokens each from a 5000-token
    // vocabulary (hash-drawn — random docs share essentially no shingles),
    // plus 1000 planted near-dups: doc 100000+i copies doc i with ONE
    // token swapped (shingle Jaccard ≈ 0.85, caught by 16×2 banding with
    // probability 1 − ~1e-9). The LSH pair output at J >= 0.5 must be
    // EXACTLY the planted set — full recall, and the re-verify stage
    // guarantees no false positives. 200× the gate corpus: the scale
    // check for the dedup path, with ground truth by construction.
    import org.apache.spark.sql.functions.col
    val nBase = 100000L
    val docs = graft.sources.SyntheticDocs.planted(spark, nBase, nPlant = 1000L)
    val docsP = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planted = (0L until 1000L).map(i => (i, nBase + i)).toSet
      val pairs = graft.ops.Text.minHashLshPairs(docsP)
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == planted,
        s"missing=${(planted -- pairs).take(5)} extra=${(pairs -- planted).take(5)} " +
        s"(|pairs|=${pairs.size})")
      // the EXACT twin (prefix-filtered all-pairs) must find the identical
      // set — proves the prefix-filter candidate scheme at 200× gate scale
      val exact = graft.ops.Text.ngramJaccardPairs(docsP)
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact == planted,
        s"exact: missing=${(planted -- exact).take(5)} extra=${(exact -- planted).take(5)}")
    } finally docsP.unpersist()
  }

  test("dedup components: exact-edge twin agrees with the LSH default on this corpus") {
    val lsh = Text.qDedupComponents(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Text.qDedupComponentsExact(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(lsh.nonEmpty)
  }

  test("distributedRunningSum equals the one-reducer window form (any bucket width)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(11)
    // sparse, non-contiguous ids across 3 keys, plus NULL-key rows — the
    // window form groups NULL keys together, so the prefix sum must too
    // (its offset join is null-safe equality, not ===)
    val rows = (0 until 3000).map { i =>
      (s"l${rng.nextInt(3)}", i.toLong * 7 + rng.nextInt(3), rng.nextInt(100).toLong)
    }.distinctBy(r => (r._1, r._2)) ++
      Seq((null, 5L, 9L), (null, 9000L, 11L), (null, 50000L, 13L)) ++
      // negative order keys: floor-toward−∞ bucketing must stay monotone
      Seq(("l0", -12345L, 3L), ("l1", -1L, 4L), ("l2", -7000000L, 5L))
    val df = spark.createDataset(rows).toDF("lang", "doc_id", "v")
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("running", sum(col("v")).over(w))
      .select("lang", "doc_id", "running")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    for (width <- Seq(1L, 64L, 1000000L)) {
      val got = Text.distributedRunningSum(df, "lang", Seq("doc_id"), "v", "running", width)
        .select("lang", "doc_id", "running")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"bucketWidth=$width diverged")
    }
  }

  test("wordcount total equals token-count sum") {
    import org.apache.spark.sql.functions._
    val wc = Text.qWordCount(spark, sfDir).agg(sum("cnt")).collect().head.getLong(0)
    val toks = Text.qTokenStats(spark, sfDir).agg(sum("sum_tok")).collect().head.getLong(0)
    assert(wc == toks)
  }

  test("exact dedup groups cover all documents") {
    import org.apache.spark.sql.functions._
    val groups = Text.qExactDedup(spark, sfDir)
      .select(sum(col("n_copies") * col("n_groups"))).collect().head.getLong(0)
    val docs = graft.core.Tables.documents(spark, sfDir).count()
    assert(groups == docs)
  }

  test("mulMod: Mersenne-fold reduction equals BigInteger over random 61-bit operands") {
    val M = (1L << 61) - 1
    val rng = new scala.util.Random(77)
    val bigM = java.math.BigInteger.valueOf(M)
    for (_ <- 1 to 20000) {
      val a = math.abs(rng.nextLong()) % M
      val b = math.abs(rng.nextLong()) % M
      val expected = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(b)).mod(bigM).longValue()
      assert(Text.mulMod(a, b) == expected, s"mulMod($a, $b)")
    }
    // boundary operands
    for (a <- Seq(0L, 1L, M - 1, M / 2, 257L); b <- Seq(0L, 1L, M - 1, 65535L)) {
      val expected = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(b)).mod(bigM).longValue()
      assert(Text.mulMod(a, b) == expected, s"mulMod($a, $b)")
    }
  }

  test("simHash60: discriminative after the multiplicative spread") {
    // the raw Karp-Rabin token hash leaves high bits zero for short words
    // (5% of ALL sf0.001 doc pairs landed within hamming 3); the mixed
    // hash must keep unrelated docs far apart and exact dupes at 0
    val a = Seq("the", "quick", "brown", "fox", "jumps", "over", "a", "dog")
    val b = Seq("some", "other", "text", "with", "no", "overlap", "at", "all")
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(ham(Text.simHash60(a), Text.simHash60(b)) > 10)
    assert(ham(Text.simHash60(a), Text.simHash60(a)) == 0)
  }

  test("decontaminate: flags exactly the training docs sharing a 13-gram with eval") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evalText = (1 to 20).map(i => s"tok$i").mkString(" ")
    val contaminated = "lead in words " + (3 to 15).map(i => s"tok$i").mkString(" ") + " trailing"
    val cleanDoc = (100 to 120).map(i => s"word$i").mkString(" ")
    val shortDoc = "too short for any thirteen gram"
    val docs = Seq(
      (1L, "en", evalText),      // eval split
      (2L, "en", contaminated),  // shares tok3..tok15 (a 13-gram) with eval
      (3L, "en", cleanDoc),
      (4L, "fr", shortDoc)
    ).toDF("doc_id", "lang", "text")
    val out = Text.decontaminate(docs, col("doc_id") === 1L, n = 13)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("en") == ((2L, 1L)))   // docs 2+3 train, only 2 contaminated
    assert(out("fr") == ((1L, 0L)))
  }

  test("q72 shards: positions are a permutation per shard and run-stable") {
    val a = Text.qShards(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val b = Text.qShards(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(a.sorted.sameElements(b.sorted))                  // deterministic
    val byShard = a.groupBy(_._2)
    byShard.foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1 to rows.length), s"shard $shard")
    }
    assert(a.map(_._1).distinct.length == a.length)          // each doc once
  }

  test("shardManifest: widths 16/256/4096 are consistent refinements of one order") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val Seq(m1, m2, m3) = Seq(1, 2, 3).map(len =>
      Text.shardManifest(docs, len).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap)
    assert(m1.keySet == m2.keySet && m2.keySet == m3.keySet)
    // shard ids refine: every wider shard extends the narrower one
    m3.keys.foreach { id =>
      assert(m3(id)._1.startsWith(m2(id)._1) && m2(id)._1.startsWith(m1(id)._1))
    }
    // widening refines but never reorders: within a narrow shard, sorting
    // by the wide (shard, pos) reproduces the narrow pos order exactly
    def orderConsistent(narrow: Map[Long, (String, Int)],
                        wide: Map[Long, (String, Int)]): Unit =
      narrow.groupBy(_._2._1).values.foreach { grp =>
        val byNarrow = grp.toSeq.sortBy(_._2._2).map(_._1)
        val byWide = grp.keys.toSeq.sortBy(wide)
        assert(byNarrow == byWide)
      }
    orderConsistent(m1, m2)
    orderConsistent(m2, m3)
  }

  test("writeShards materializes the manifest as a shard-partitioned layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val docs = graft.core.Tables.documents(spark, sfDir)
    Text.writeShards(docs, dir, shardHexLen = 1)
    // keep the recovered partition column a string ("07"-style values
    // must not round-trip through int inference)
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try {
      val shardDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
      assert(shardDirs.nonEmpty && shardDirs.forall(_.startsWith("shard=")))
      val stored = spark.read.parquet(dir)
        .select("doc_id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val manifest = Text.shardManifest(docs, 1).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(stored == manifest)
    } finally
      spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
  }

  test("decontaminate: corpus-proportional eval split stays correct (shuffle-semi fallback)") {
    import org.apache.spark.sql.functions.{col, md5}
    // the ~6% md5 split grows with the corpus — the shape the operator's
    // broadcast claim does NOT cover; the semi-join must still be exact
    val docs = graft.core.Tables.documents(spark, sfDir)
    val out = Text.decontaminate(docs, md5(col("text")) < "10", n = 13)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // independent driver-side reference with STRING shingles
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = docs.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length < 13) Set.empty
      else t.sliding(13).map(_.mkString(" ")).toSet
    }
    val isEval = rows.map { case (id, _, text) => id -> (md5hex(text) < "10") }.toMap
    val evalSh = rows.filter(r => isEval(r._1)).flatMap(r => shingles(r._3)).toSet
    val expected = rows.filter(r => !isEval(r._1)).groupBy(_._2).map { case (lang, grp) =>
      lang -> ((grp.length.toLong,
                grp.count(r => shingles(r._3).exists(evalSh)).toLong))
    }
    assert(out == expected)
    // plan shape: still a left-semi join (shuffle or broadcast — AQE's
    // call), never a rewrite that loses the semantics
    val plan = Text.decontaminate(docs, md5(col("text")) < "10", n = 13)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"))
  }

  test("starComponents: long-path and random graphs match union-find (diameter-independent)") {
    import spark.implicits._
    // a 61-node path (diameter 60): min-label propagation needs 60 rounds,
    // star contraction converges in O(log² n); plus random dense clusters
    val path = (0L until 60L).map(i => (i, i + 1))
    val rng = new scala.util.Random(5)
    val clusters = (0 until 5).flatMap { c =>
      val base = 1000L + c * 100
      (0 until 25).map(_ => (base + rng.nextInt(30), base + rng.nextInt(30)))
    }.filter { case (a, b) => a != b }
    val edges = spark.createDataset(path ++ clusters).toDF("d1", "d2")
    val distributed = Text.dedupComponents(edges, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = Text.dedupComponents(edges, driverEdgeLimit = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == driver)
    assert((0L to 60L).forall(n => distributed(n) == 0L))
  }

  test("decontaminateBloom: identical output to the exact operator (both split shapes)") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      // fixed benchmark-sized split (the q71 gate shape)
      assert(rows(Text.decontaminateBloom(docs, col("doc_id") < 32, n = 13)) ==
             rows(Text.decontaminate(docs, col("doc_id") < 32, n = 13)))
      // corpus-proportional split; tight fpp AND a sloppy one — the
      // semi-join must erase the false-positive rate from the OUTPUT
      val pred = md5(col("text")) < "10"
      val exact = rows(Text.decontaminate(docs, pred, n = 13))
      assert(rows(Text.decontaminateBloom(docs, pred, n = 13)) == exact)
      assert(rows(Text.decontaminateBloom(docs, pred, n = 13, fpp = 0.5)) == exact)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("repetitionStats: hand-computed bigram and mode counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b a b a"),        // bigrams: ab,ba,ab,ba → 4 total, 2 distinct; mode a=3
      (2L, "en", "x y z"),            // 2 bigrams, 2 distinct; mode 1
      (3L, "fr", "solo")              // < 2 tokens → excluded
    ).toDF("doc_id", "lang", "text")
    val out = Text.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == ((4L, 2L, 5L, 3L)))  // n_bigrams, n_distinct, n_tok, max_tok_cnt
    assert(out(2L) == ((2L, 2L, 3L, 1L)))
    assert(!out.contains(3L))
  }

  test("sourceMixWeights composes with stratifiedHashSample to rebalance tokens") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val weights = Text.sourceMixWeights(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    // the smallest source keeps everything; every rate is a valid probability
    assert(weights.values.max == 1.0)
    assert(weights.values.forall(r => r > 0.0 && r <= 1.0))
    // composition: feed the computed rates into the deterministic sampler —
    // realized per-source token counts should cluster near the equalized
    // target (md5 uniformity; loose bound at test SF)
    val sampled = Text.stratifiedHashSample(docs, "source", weights, col("text"))
    val toks = Text.sourceMixWeights(sampled).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val target = Text.sourceMixWeights(docs).collect().map(r => r.getLong(2)).min
    assert(toks.values.forall(t => t <= target * 2 && t >= target / 4),
      s"rebalanced token counts far from target $target: $toks")
  }

  test("redactPii: emails and phone variants scrubbed, everything else untouched") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail a.b-c%d+e@sub.example.co.uk then +1 555-123-4567 done"),
      (2L, "two mails x@y.org and z@w.io plus (555) 123-4567 and 555-123-4567"),
      (3L, "no pii here, just words 123 and 4567-89"),
      (4L, "version 1.2.3 at host.example.com is not an email")
    ).toDF("doc_id", "text")
    val out = Text.redactPii(rows).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail [EMAIL] then [PHONE] done")
    assert(out(2L) == "two mails [EMAIL] and [EMAIL] plus [PHONE] and [PHONE]")
    assert(out(3L) == "no pii here, just words 123 and 4567-89")
    assert(out(4L) == "version 1.2.3 at host.example.com is not an email")
  }

  test("stratifiedHashSample: rate endpoints, determinism, approximate rates") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
    // rate 1.0 keeps the whole stratum; an unlisted stratum is dropped
    val ends = Text.stratifiedHashSample(docs, "lang",
      Map("en" -> 1.0, "fr" -> 0.0), col("text"))
    val byLang = ends.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nEn = docs.filter(col("lang") === "en").count()
    assert(byLang.get("en").contains(nEn))
    assert(!byLang.contains("fr") && !byLang.contains("zh"))
    // the kept set is a pure function of content: partitioning-independent
    val keep = Text.stratifiedHashSample(docs, "lang", Text.StratRates, col("text"))
    val ids1 = keep.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Text.stratifiedHashSample(docs.repartition(13), "lang",
      Text.StratRates, col("text")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // md5 uniformity: realized rates land near the target (loose bound —
    // the strata are small at test SF)
    val total = docs.filter(col("lang") === "en").count().toDouble
    val kept = keep.filter(col("lang") === "en").count().toDouble
    assert(math.abs(kept / total - 0.5) < 0.15)
  }

  test("lineDedup: hand-built corpus — hot line dropped everywhere, order kept") {
    import spark.implicits._
    try {
      val docs = Seq(
        (0L, "a b a b c d"), // lines: "a b","a b","c d"
        (1L, "a b x y"),     // lines: "a b","x y"
        (2L, "a b a b")      // all lines hot -> survives with empty text
      ).toDF("doc_id", "text")
      val out = Text.lineDedup(docs, lineTokens = 2, topK = 1)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      // "a b" occurs 5x and is the unique top-1 boilerplate line
      assert(out(0L) == ((3L, 1L, "c d")))
      assert(out(1L) == ((2L, 1L, "x y")))
      assert(out(2L) == ((2L, 0L, ""))) // fully-boilerplate doc keeps its row
      // reassembly preserves original line order, not alphabetical
      val ord = Text.lineDedup(Seq((9L, "z z m m a a")).toDF("doc_id", "text"),
        lineTokens = 2, topK = 0).collect().head.getString(3)
      assert(ord == "z z m m a a")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("canonicalPick: exactly one canonical per component, the longest member") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "comp")
    val docs = Seq((1L, "a b c"), (2L, "a b c d e"), (3L, "a b"),
      (7L, "x y"), (8L, "x")).toDF("doc_id", "text")
    val out = Text.canonicalPick(docs, comps).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 5) // every clustered doc keeps its row
    val canonical = out.filter(_._4).map(r => r._1 -> r._2).toMap
    assert(canonical == Map(1L -> 2L, 7L -> 7L)) // longest member wins
    assert(out.count(_._4) == 2) // exactly one per component
  }

  test("sourceQuota: two-level rank equals the naive single-window quota") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val naive = docs.withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(md5(col("text")), col("doc_id"))))
      .filter(col("rk") <= 7).select("source", "rk", "doc_id")
      .collect().map(_.toSeq).toSet
    for (buckets <- Seq(1, 4, 16)) {
      val got = Text.sourceQuota(docs, perSource = 7, buckets = buckets)
        .collect().map(_.toSeq).toSet
      assert(got == naive, s"two-level quota diverged at buckets=$buckets")
    }
    assert(naive.nonEmpty)
  }

  test("hot-shingle skew: recall exact, band buckets bounded, AllPairs agrees") {
    // 10% of 20k docs share one boilerplate shingle (SyntheticDocs
    // hotEvery=10). The dedup answers must not move — the hot pairs sit at
    // J ~ 1/75 — and the CANDIDATE layer must stay linear: a hot shingle
    // only owns a band key when it is the minimum of both of the band's
    // hashes, so the hot bucket is f·N/s̄² (a constant multiple of the
    // mean), not f·N.
    try {
      val docs = graft.sources.SyntheticDocs.planted(spark,
        nBase = 20000L, nPlant = 300L, hotEvery = 10)
      val lsh = Text.minHashLshPairs(docs)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until 300L).map(i => (i, 20000L + i)).toSet
      assert(lsh == want, s"skewed-corpus LSH recall broke: ${lsh.size} pairs")
      // the exact AllPairs twin (prefix filtering pushes the hot shingle
      // out of every prefix — highest document frequency sorts LAST)
      val exact = Text.ngramJaccardPairs(docs)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact == want, s"skewed-corpus AllPairs diverged: ${exact.size} pairs")
      // band-bucket boundedness — the actual 100 TB claim
      val (maxB, meanB, candPairs, nDocs) = Text.lshBucketStats(docs)
      assert(maxB <= 64 * meanB,
        s"hot shingle owns a band bucket: max=$maxB mean=$meanB")
      assert(candPairs <= nDocs,
        s"candidate layer went superlinear: $candPairs pairs for $nDocs docs")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("dup n-gram spans: shared spans counted, unique and short docs dropped") {
    import spark.implicits._
    try {
      // A and B share one verbatim 8-token span inside otherwise-unique
      // text (the partial-copy case doc-level Jaccard misses); C is
      // unique; D is too short to own any span
      val span = (1 to 8).map(i => s"s$i").mkString(" ")
      val docs = Seq(
        (0L, s"a1 a2 a3 $span a4 a5"),
        (1L, s"$span b1 b2 b3 b4 b5 b6"),
        (2L, (1 to 20).map(i => s"c$i").mkString(" ")),
        (3L, "d1 d2 d3")
      ).toDF("doc_id", "text")
      val got = graft.ops.Text.dupNgramSpans(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // doc 0: 13 tokens -> 6 spans, ONE duplicated (the planted span,
      // present verbatim in doc 1); doc 1: 14 tokens -> 7 spans, one dup
      assert(got == Set((0L, 6L, 1L), (1L, 7L, 1L)), s"got $got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("unigram logprob: matches a first-principles hand computation") {
    import spark.implicits._
    try {
      // corpus: a×3, b×2, total 5; the operator's exact arithmetic is
      // round6(mean(round9(ln(cnt/total)))) — replicated here digit for
      // digit (BigDecimal HALF_UP like Spark's round)
      def r(x: Double, d: Int) =
        BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
      val lpA = r(math.log(3.0 / 5), 9); val lpB = r(math.log(2.0 / 5), 9)
      val docs = Seq((0L, "a a a b"), (1L, "b")).toDF("doc_id", "text")
      val got = graft.ops.Text.unigramLogProb(docs)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      // exact-decimal sum FIRST (as the aggregate does), then one double
      // division — not (lpA*3 + lpB)/4 in floating point
      val doc0 = r((BigDecimal(lpA) * 3 + BigDecimal(lpB)).toDouble / 4, 6)
      val want = Set((0L, 4L, doc0), (1L, 1L, r(lpB, 6)))
      assert(got == want, s"got $got want $want")
      // low-probability tokens must score lower: a doc of rare tokens
      // ranks below a doc of common ones
      val docs2 = Seq((0L, "x x x x x x x x"), (1L, "z")).toDF("doc_id", "text")
      val scores = graft.ops.Text.unigramLogProb(docs2)
        .collect().map(x => (x.getLong(0), x.getDouble(2))).toMap
      assert(scores(0L) > scores(1L), s"common-token doc should outscore rare: $scores")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("inverted index: positions ascending, tf exact, hot token spread as rows") {
    import spark.implicits._
    val docs = Seq((0L, "x y x"), (1L, "y")).toDF("doc_id", "text")
    val got = graft.ops.Text.invertedIndex(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == Set(("x", 0L, 2L, "0,2"), ("y", 0L, 1L, "1"), ("y", 1L, 1L, "0")), s"got $got")
  }

  test("weighted sample: matches a driver A-ES computation, partitioning-invariant, top-k planned") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val df = Text.weightedHashSample(docs, k = 16)
    // top-k must plan as TakeOrderedAndProject (bounded heaps), never a
    // global sort
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"weighted sample lost its bounded top-k:\n$p")
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(3)))
    // driver twin: same md5-prefix uniform, same rounded ln(u)/w priority
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = docs.select("doc_id", "text", "n_chars").collect().map { r =>
      val hex = md.digest(r.getString(1).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4503599627370496.0
      val key = java.math.BigDecimal.valueOf(math.log(u) / r.getLong(2).toDouble)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
      (r.getLong(0), key)
    }.sortBy { case (id, key) => (-key, id) }.take(16)
    assert(got.toSeq == want.toSeq, s"got ${got.toSeq}\nwant ${want.toSeq}")
    // pure function of content: physical layout cannot move the sample
    val reparted = Text.weightedHashSample(docs.repartition(7), k = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(reparted.toSeq == got.toSeq)
  }

  test("vocab: dense deterministic ids over (freq desc, token), cap via bounded top-k") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val df = Text.buildVocab(docs, cap = 50)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"vocab cap lost its bounded top-k:\n$p")
    val got = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // driver twin from raw counts
    val want = docs.select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }.toSeq
      .sortBy { case (t, f) => (-f, t) }.take(50)
      .zipWithIndex.map { case ((t, f), i) => (i + 1L, t, f) }
    assert(got.toSeq == want, s"vocab diverged\ngot  ${got.take(5).toSeq}\nwant ${want.take(5)}")
    // ids are dense 1..n
    assert(got.map(_._1).toSeq == (1L to got.length).toSeq)
  }

  test("bigram model: conditional probabilities sum to 1 per w1, counts match a driver twin") {
    import spark.implicits._
    val docs = Seq((0L, "a b a b c"), (1L, "b a"), (2L, "x")).toDF("doc_id", "text")
    val got = Text.bigramModel(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // bigrams: (a,b)x2 (b,a)x2 (b,c)x1 — the single-token doc contributes none
    assert(got == Map(
      ("a", "b") -> ((2L, 2L)), ("b", "a") -> ((2L, 3L)), ("b", "c") -> ((1L, 3L))), s"got $got")
    // real corpus: per-w1 probability mass is exactly 1 (n12 partitions n1)
    val rows = Text.bigramModel(graft.core.Tables.documents(spark, sfDir))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    for ((w1, parts) <- rows.groupBy(_._1)) {
      assert(parts.map(_._2).sum == parts.head._3, s"mass of '$w1' does not partition n1")
      assert(parts.map(_._3).distinct.length == 1)
    }
  }

  test("phrase scores: hand-computed word2phrase values, delta floor enforced") {
    import spark.implicits._
    val docs = Seq((0L, "a b a b"), (1L, "b a")).toDF("doc_id", "text")
    // unigrams a:3 b:3, N=6; bigrams (a,b):2 (b,a):2
    // score = (c12 - 1) * 6 / (3 * 3) = 0.666667 for both
    val got = Text.phraseScores(docs, delta = 1L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 3L, 3L, 0.666667)),
      ("b", "a") -> ((2L, 3L, 3L, 0.666667))), s"got $got")
    // the delta floor drops every pair when delta >= max c12
    assert(Text.phraseScores(docs, delta = 2L).count() == 0)
    // real corpus: every surviving pair cleared the default floor
    val real = Text.phraseScores(graft.core.Tables.documents(spark, sfDir))
      .collect().map(r => (r.getLong(2), r.getDouble(5)))
    assert(real.nonEmpty)
    assert(real.forall(_._1 > 5L), "a pair below the delta floor survived")
  }

  test("length buckets: hand-planted docs land in the right buckets with exact waste") {
    import spark.implicits._
    val docs = Seq(
      (0L, Seq.fill(3)("w").mkString(" ")),   // 3 tok  -> bucket 0
      (1L, Seq.fill(5)("w").mkString(" ")),   // 5 tok  -> bucket 0
      (2L, Seq.fill(32)("w").mkString(" ")),  // 32 tok -> bucket 0 (boundary)
      (3L, Seq.fill(33)("w").mkString(" "))   // 33 tok -> bucket 1
    ).toDF("doc_id", "text")
    val got = Text.lengthBuckets(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // bucket 0: 3 docs, 40 tokens, max 32, waste 3*32-40 = 56
    assert(got == Map(0L -> ((3L, 40L, 32L, 56L)), 1L -> ((1L, 33L, 33L, 0L))), s"got $got")
  }

  test("bpe pairs: hand-planted corpus yields exact pair counts in rank order") {
    import spark.implicits._
    val docs = Seq((0L, "ab ab abc x")).toDF("doc_id", "text") // 'x' too short
    val got = Text.bpePairCounts(docs, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // words ab, ab, abc -> pairs ab, ab, ab, bc
    assert(got.toSeq == Seq(("ab", 3L), ("bc", 1L)), s"got ${got.toSeq}")
  }

  test("token budget: water-filling bisects planted skewed sources exactly") {
    import spark.implicits._
    // sources with 2 / 4 / 10 / 20 tokens, budget 17:
    // sorted [2,4,10,20]; g(1)=2+3*2=8<=17, g(2)=6+2*4=14<=17,
    // g(3)=16+1*10=26>17 -> kstar=2, pk=6, cap=(17-6) div 2 = 5
    // -> s1 keeps 2, s2 keeps 4, s3 and s4 capped at 5; total 16 (rem 1)
    def doc(n: Int, src: String, id: Long) =
      (id, Seq.fill(n)("w").mkString(" "), src)
    val docs = Seq(doc(2, "s1", 0), doc(4, "s2", 1), doc(10, "s3", 2),
      doc(20, "s4", 3)).toDF("doc_id", "text", "source")
    val got = Text.tokenBudget(docs, budget = 17L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(got == Map(
      "s1" -> ((2L, false, 2L)), "s2" -> ((4L, false, 4L)),
      "s3" -> ((10L, true, 5L)), "s4" -> ((20L, true, 5L))), s"got $got")
    // degenerate ends: budget covers everything -> nothing capped;
    // budget 0 -> every source capped at 0
    val all = Text.tokenBudget(docs, budget = 100L).collect()
    assert(all.forall(r => !r.getBoolean(2) && r.getLong(3) == r.getLong(1)))
    val none = Text.tokenBudget(docs, budget = 0L).collect()
    assert(none.forall(r => r.getBoolean(2) && r.getLong(3) == 0L))
    // invariant on the real corpus: allocation never exceeds the budget
    // and equals min(total, budget) when uniform caps divide evenly
    val real = Text.qTokenBudget(spark, sfDir).collect()
    val alloc = real.map(_.getLong(3)).sum
    assert(alloc <= 15000L, s"allocated $alloc over budget")
  }

  test("source overlap: hand-computed Jaccard on planted shingle sets") {
    import spark.implicits._
    // srcA shingles: {a b c, b c d}; srcB: {b c d, c d e}; srcC: {x y z}
    val docs = Seq(
      (0L, "a b c d", "srcA"), (1L, "b c d e", "srcB"), (2L, "x y z", "srcC")
    ).toDF("doc_id", "text", "source")
    val got = Text.sourceOverlap(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // only pairs with a non-empty intersection appear; |A|=|B|=2, inter=1
    assert(got == Map(("srcA", "srcB") -> ((2L, 2L, 1L, 1.0 / 3.0))), s"got $got")
  }

  test("source overlap: identical sources score 1, disjoint are absent") {
    import spark.implicits._
    val docs = Seq(
      (0L, "p q r s t", "s1"), (1L, "p q r s t", "s2"), (2L, "m n o p q", "s3")
    ).toDF("doc_id", "text", "source")
    val got = Text.sourceOverlap(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    assert(got(("s1", "s2")) == 1.0)
    // s3 shares no 3-gram with s1/s2 ("o p q" vs "p q r" etc. differ)
    assert(!got.contains(("s1", "s3")) && !got.contains(("s2", "s3")), s"got $got")
  }

  test("shingle novelty: duplicates score 0, unique docs score 1") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d"), (1L, "a b c d"), // exact pair: df=2 everywhere
      (2L, "u v w x y")                 // all shingles unique to doc 2
    ).toDF("doc_id", "text")
    val got = Text.shingleNovelty(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0L) == ((2L, 0L, 0.0)))
    assert(got(1L) == ((2L, 0L, 0.0)))
    assert(got(2L) == ((3L, 3L, 1.0)))
  }

  test("shingle novelty: corpus totals are consistent with document frequencies") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val rows = Text.shingleNovelty(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, u, nov) =>
      assert(u <= n, s"doc $id: unique $u > total $n")
      assert(math.abs(nov - u.toDouble / n) == 0.0, s"doc $id ratio")
    }
    // every doc with >= 3 tokens appears exactly once
    val expected = docs.filter(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " ")) >= 3).count()
    assert(rows.length.toLong == expected)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bm25: matches a driver-side recomputation of the Okapi formula") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val terms = Seq("vector", "join", "scan")
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val nDocs = corpus.length.toLong
    val sumDl = corpus.map(_._2.length.toLong).sum
    val dfMap = terms.map(t => t -> corpus.count(_._2.contains(t)).toLong).toMap
    val expected = corpus.flatMap { case (id, toks) =>
      val dl = toks.length.toLong
      val scores = terms.flatMap { t =>
        val tf = toks.count(_ == t).toLong
        if (tf == 0) None
        else {
          val idf = math.log(1.0 + (nDocs - dfMap(t) + 0.5) / (dfMap(t) + 0.5))
          Some(round9(idf * ((tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.toDouble * nDocs / sumDl))))))
        }
      }
      if (scores.isEmpty) None
      else Some((id, scores.length.toLong,
        // mirror Spark's cast(double AS DECIMAL(28,12)) before the sum
        round6(scores.map(s => BigDecimal(s)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)))
    }.sortBy { case (id, _, s) => (-s, id) }.take(10).toSeq
    val got = Text.bm25(docs, terms).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("temperatureMix: sqrt-scaled masses, exact integer allocation within budget") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val budget = 1000000L
    val rows = Text.temperatureMix(docs, budget).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val sTotal = rows.map(_._3).sum
    rows.foreach { case (src, nTok, s, w, alloc) =>
      assert(s == math.sqrt(nTok.toDouble * 1000000.0).floor.toLong, s"$src mass")
      assert(w == round9(s.toDouble / sTotal), s"$src weight")
      assert(alloc == budget * s / sTotal, s"$src alloc")
    }
    // allocation never exceeds the budget; weights sum to 1 up to rounding
    assert(rows.map(_._5).sum <= budget)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-6)
    // temperature flattens: the largest source's weight share is strictly
    // below its proportional token share (and smallest's strictly above)
    val totTok = rows.map(_._2).sum
    val big = rows.maxBy(_._2); val small = rows.minBy(_._2)
    assert(big._4 < big._2.toDouble / totTok)
    assert(small._4 > small._2.toDouble / totTok)
  }

  test("pmiCooc: planted corpus — window pairs, canonical order, hand-computed PMI") {
    import spark.implicits._
    val docs = Seq("a b c d", "b a").toDF("text")
    val got = Text.pmiCooc(docs, window = 3, minCount = 1L).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // doc1 (window 3 over 4 tokens): ab ac ad bc bd cd; doc2: ab (canonical)
    val expectedCounts = Map(
      ("a", "b") -> 2L, ("a", "c") -> 1L, ("a", "d") -> 1L,
      ("b", "c") -> 1L, ("b", "d") -> 1L, ("c", "d") -> 1L)
    assert(got.view.mapValues(_._1).toMap == expectedCounts)
    // unigrams: a=2 b=2 c=1 d=1, nTok=6, nPairs=7
    val nTok = 6L; val nPairs = 7L
    def pmi(c12: Long, c1: Long, c2: Long): Double =
      round9(math.log(((c12.toDouble * nTok) * nTok) / ((c1.toDouble * c2) * nPairs)))
    assert(got(("a", "b"))._2 == pmi(2, 2, 2))
    assert(got(("c", "d"))._2 == pmi(1, 1, 1))
  }

  test("bm25FromIndex: the served path equals the direct corpus scorer") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val terms = Seq("vector", "join", "scan")
    val direct = Text.bm25(docs, terms).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val served = Text.bm25FromIndex(
      Text.invertedIndex(docs), Text.docLengths(docs), terms).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served == direct)
  }

  private def refBpe(corpus: Seq[String], nMerges: Int): Seq[(Long, String, String, String, Long)] = {
    var words: Map[String, (List[String], Long)] = corpus
      .flatMap(_.split(" ", -1)).groupBy(identity)
      .map { case (w, occ) => w -> (w.toList.map(_.toString), occ.length.toLong) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (it <- 1 to nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, (syms, f)) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((it.toLong, a, b, a + b, c))
        words = words.map { case (w, (syms, f)) =>
          val merged = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              merged += (a + b); i += 2
            } else { merged += syms(i); i += 1 }
          }
          w -> (merged.toList, f)
        }
      }
    }
    out.toSeq
  }

  test("bpeTrain: matches an independent driver implementation on the corpus") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val expected = refBpe(docs.select("text").collect().map(_.getString(0)).toSeq, 8)
    val got = Text.bpeTrain(docs, nMerges = 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
    assert(got == expected)
  }

  test("bpeTrain: greedy leftmost-nonoverlap merge semantics on a planted corpus") {
    import spark.implicits._
    // "aaaa" x3: pairs (a,a) count 9 -> merge1 aa; then [aa, aa] pairs
    // (aa,aa) count 3 vs (b,c) count 3 from "bc" x3 -> tie broken
    // lexically: "aa" < "b"
    val docs = Seq.fill(3)("aaaa bc").toDF("text")
    val got = Text.bpeTrain(docs, nMerges = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, "a", "a", "aa", 9L),
      (2L, "aa", "aa", "aaaa", 3L)))
  }

  test("bpeSegmentCounts: planted corpus segments as trained; symbol mass conserves") {
    import spark.implicits._
    val docs = Seq.fill(3)("aaaa bc").toDF("text")
    // after 2 merges: "aaaa" -> [aaaa], "bc" -> [b, c]; ties by symbol
    val got = Text.bpeSegmentCounts(docs, nMerges = 2, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("aaaa", 3L), ("b", 3L), ("c", 3L)))
    // real corpus: segmentation is a partition of every word's characters,
    // so Σ cnt·len(sym) must equal the corpus's total token characters
    val corpus = graft.core.Tables.documents(spark, sfDir)
    val syms = Text.bpeSegmentCounts(corpus, nMerges = 8, topK = 100000).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val charMass = syms.map { case (s, c) => s.length.toLong * c }.sum
    val expected = corpus.select("text").collect()
      .map(_.getString(0).split(" ", -1).map(_.length.toLong).sum).sum
    assert(charMass == expected)
  }

  test("bigramScore: held-out add-1 scoring matches a driver recomputation") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val train = corpus.filter(_._1 % 2 == 0).map(_._2)
    val eval = corpus.filter(_._1 % 2 == 1)
    val n12 = scala.collection.mutable.Map.empty[(String, String), Long]
    for (t <- train if t.length >= 2; i <- 1 until t.length)
      n12((t(i - 1), t(i))) = n12.getOrElse((t(i - 1), t(i)), 0L) + 1L
    val n1 = n12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = train.flatten.distinct.length.toLong
    val expected = eval.filter(_._2.length >= 2).map { case (id, t) =>
      val lps = (1 until t.length).map { i =>
        val c12 = n12.getOrElse((t(i - 1), t(i)), 0L)
        val c1 = n1.getOrElse(t(i - 1), 0L)
        round9(math.log((c12 + 1.0) / (c1 + v).toDouble))
      }
      id -> ((lps.length.toLong, round6(lps.map(x => BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / lps.length)))
    }.toMap
    val got = Text.qBigramScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expected)
  }

  test("trigramScore: stupid-backoff matches a driver recomputation") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val train = corpus.filter(_._1 % 2 == 0).map(_._2)
    val eval = corpus.filter(_._1 % 2 == 1)
    val n123 = scala.collection.mutable.Map.empty[(String, String, String), Long]
    for (t <- train if t.length >= 3; i <- 2 until t.length)
      n123((t(i - 2), t(i - 1), t(i))) =
        n123.getOrElse((t(i - 2), t(i - 1), t(i)), 0L) + 1L
    val n2 = scala.collection.mutable.Map.empty[(String, String), Long]
    for (t <- train if t.length >= 2; i <- 1 until t.length)
      n2((t(i - 1), t(i))) = n2.getOrElse((t(i - 1), t(i)), 0L) + 1L
    val n1 = train.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nn = train.flatten.length.toLong
    val v = train.flatten.distinct.length.toLong
    val expected = eval.filter(_._2.length >= 3).map { case (id, t) =>
      val lps = (2 until t.length).map { i =>
        val tri = n123.getOrElse((t(i - 2), t(i - 1), t(i)), 0L)
        val p =
          if (tri > 0L) tri.toDouble / n2((t(i - 2), t(i - 1)))
          else {
            val bg = n2.getOrElse((t(i - 1), t(i)), 0L)
            if (bg > 0L) (0.4 * bg) / n1(t(i - 1))
            else ((0.4 * 0.4) * (n1.getOrElse(t(i), 0L) + 1.0)) / (nn + v).toDouble
          }
        round9(math.log(p))
      }
      id -> ((lps.length.toLong, round6(lps.map(x => BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / lps.length)))
    }.toMap
    val got = Text.qTrigramScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expected)
  }

  test("trigramScore: the three backoff tiers order as seen > bigram-backoff > floor") {
    import spark.implicits._
    val train = Seq((0L, "a b c a b c a b c")).toDF("doc_id", "text")
    val eval = Seq((1L, "a b c"), (3L, "x b c"), (5L, "x y z"))
      .toDF("doc_id", "text")
    val got = Text.trigramScore(train, eval).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    // hand-computed: n123(a,b,c)=3, n2(a,b)=3 -> S=1, ln=0;
    // (x,b,c) unseen, n2(b,c)=3, n1(b)=3 -> S=0.4;
    // (x,y,z) and (y,z) unseen, z unseen in train? z IS unseen: n1(z)=0,
    // N=9, V=3 -> S = 0.16 * 1 / 12
    assert(got(1L) == 0.0)
    assert(got(3L) == round6(round9(math.log((0.4 * 3L) / 3L.toDouble))))
    assert(got(5L) == round6(round9(math.log(((0.4 * 0.4) * 1.0) / 12.0))))
    assert(got(1L) > got(3L) && got(3L) > got(5L),
      "backoff tiers must score strictly lower")
  }

  test("bpeTrain: the per-merge localCheckpoint cut changes no values past the oracle depth") {
    // the gate oracle pins 8 merges; this drives the checkpoint-per-merge
    // loop to 12 on the real corpus against the independent driver
    // implementation, so the lineage cut is value-checked beyond the
    // oracle's unroll depth
    val docs = graft.core.Tables.documents(spark, sfDir)
    val expected = refBpe(docs.select("text").collect().map(_.getString(0)).toSeq, 12)
    val got = Text.bpeTrain(docs, nMerges = 12).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
    assert(got == expected)
  }

  test("gopherRules: each rule independently fails its planted violator") {
    import spark.implicits._
    val pass = (("word " * 49) + "the of").trim            // 51 words, 2 stops
    val docs = Seq(
      (0L, pass),                                          // keep = 1
      (1L, "the of tiny"),                                 // R1: 3 words < minWords
      (2L, (("xy " * 49) + "the of").trim),                // R2: mean wlen < 3
      (3L, (("word# " * 49) + "the of").trim),             // R3: 49 '#' / 51 words > 0.1
      (4L, (("1234 " * 49) + "the of").trim),              // R4: 49/51 non-alpha words
      (5L, ("word " * 51).trim))                           // R5: 0 stopwords
      .toDF("doc_id", "text")
    val got = Text.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    assert(got == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L),
      s"rule battery misfired: $got")
    // the "..." symbol counter is non-overlapping replace-and-diff
    val dots = Seq((9L, (("w... " * 49) + "the of").trim)).toDF("doc_id", "text")
    val r = Text.gopherRules(dots).collect().head
    assert(r.getLong(1) == 51L && r.getDouble(3) == round6(49.0 / 51.0)
      && r.getLong(6) == 0L, s"ellipsis count wrong: $r")
  }

  test("rrfFusion: fusion equals a driver recomputation from the two rank lists") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    // candidate lists run at depth 4*k = 40 (the round-13 candidateDepth
    // contract); only the fused output cuts to 10
    val lex = Text.bm25(docs, Seq("vector", "join", "scan"), k = 40).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val sem = graft.ops.Embeddings
      .bruteForceKnn(emb, org.apache.spark.sql.functions.col("vec_id") === 0L, 40)
      .collect().map(r => (r.getLong(2), r.getInt(1).toLong)).toMap
    val expected = (lex.keySet ++ sem.keySet).toSeq.map { d =>
      val rrf = lex.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sem.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (d, lex.getOrElse(d, 0L), sem.getOrElse(d, 0L), round9(rrf))
    }.sortBy { case (d, _, _, rrf) => (-rrf, d) }.take(10)
    val got = Text.qRrfFusion(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // the fusion is rank-only: both single-list docs (one rank 0) and
    // both-list docs must appear for the property to have teeth
    assert(got.exists(r => r._2 == 0L || r._3 == 0L),
      "corpus produced fully-overlapping lists — pick different terms/query")
  }

  test("rrfFusion: a doc ranked in both lists outranks the same-rank single-list docs") {
    import spark.implicits._
    // hand corpus: doc 1 is the best BM25 hit AND the nearest embedding
    // neighbor; docs 2/3 are single-list. rrf(1) = 1/61 + 1/61 beats any
    // single-list 1/(60+r).
    val docs = Seq((1L, "alpha alpha alpha"), (2L, "alpha beta"), (3L, "gamma delta"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // the query vector
      (1L, Array(0.9f, 0.1f)),   // nearest
      (3L, Array(0.0f, 1.0f)))   // distant
      .toDF("vec_id", "embedding")
    val got = Text.rrfFusion(docs, emb, Seq("alpha"), queryVecId = 0L, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.head._1 == 1L && got.head._2 == 1L && got.head._3 == 1L,
      s"doc 1 must win both lists and the fusion: $got")
    assert(got.head._4 == round9(1.0 / 61 + 1.0 / 61))
    // doc 2: lexical-only (rank 2); doc 3: semantic-only (rank 2)
    assert(got.toSet.contains((2L, 2L, 0L, round9(1.0 / 62))))
    assert(got.toSet.contains((3L, 0L, 2L, round9(1.0 / 62))))
  }

  test("rrfFusionRanks: the served index + IVF composition reproduces the direct fusion") {
    // SURVEY §2.10's "the serve-path twins slot in unchanged" as an
    // assertion: rank lists from the PREBUILT-index BM25 and the IVF ANN
    // (nprobe = nlist probes every cell, so the served ranking is exact,
    // making the equality exact rather than recall-bounded) fused through
    // the rank-list overload must equal the direct-operator q125 fusion.
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables.documents(spark, sfDir)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val terms = Seq("vector", "join", "scan")
    try {
      val postings = Text.invertedIndex(docs)
      val dl = Text.docLengths(docs)
      val lexW = Window.orderBy(col("bm25").desc, col("doc_id").asc)
      val lex = Text.bm25FromIndex(postings, dl, terms, k = 40)
        .withColumn("rank", row_number().over(lexW).cast("long"))
        .select(col("doc_id"), col("rank"))
      val sem = graft.ops.Ann
        .ivfKnn(emb, col("vec_id") === 0L, k = 40, nlist = 16, nprobe = 16)
        .select(col("nid").as("doc_id"), col("rk").cast("long").as("rank"))
      val got = Text.rrfFusionRanks(lex, sem, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val want = Text.rrfFusion(docs, emb, terms).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == want, s"served-path fusion diverged:\n got=$got\nwant=$want")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("rrfFusionRanks: Dirichlet QL slots in as the lexical ranker unchanged") {
    // the round-13 LM retrieval twin through the same fusion plumbing: a
    // (doc_id, rank) list from dirichletQL fused against the semantic
    // side must equal a driver recompute of the RRF formula over the two
    // lists — rank lists are rank lists, whichever scorer produced them.
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables.documents(spark, sfDir)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    try {
      val qlW = Window.orderBy(col("ql").desc, col("doc_id").asc)
      val lex = Text.dirichletQL(docs, Seq("vector", "join", "scan"), k = 40)
        .withColumn("rank", row_number().over(qlW).cast("long"))
        .select(col("doc_id"), col("rank"))
      val sem = graft.ops.Embeddings.bruteForceKnn(emb, col("vec_id") === 0L, 40)
        .select(col("nid").as("doc_id"), col("rk").cast("long").as("rank"))
      val got = Text.rrfFusionRanks(lex, sem, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(3))).toSeq
      val lexM = lex.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val semM = sem.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = (lexM.keySet ++ semM.keySet).toSeq
        .map { d => (d, r9(
          lexM.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          semM.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0))) }
        .sortBy { case (d, s) => (-s, d) }.take(10)
      assert(got == want, s"QL fusion diverged:\n got=$got\nwant=$want")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("gopherRules: non-ASCII alphabetic words count as alphabetic (R4 is Unicode)") {
    import spark.implicits._
    // every content word is é/ä/ö-only: Unicode \p{L} scores alpha_ratio
    // 1.0; the pre-round-13 ASCII [a-zA-Z] class scored 0.0 and dropped
    // exactly the multilingual text q123 brings in scope
    val text = (("héllö " * 49) + "the of").trim
    val r = Text.gopherRules(Seq((0L, text)).toDF("doc_id", "text")).collect().head
    assert(r.getDouble(4) == 1.0, s"unicode words not counted alphabetic: $r")
    assert(r.getLong(6) == 1L, s"unicode doc wrongly dropped: $r")
  }

  test("lineRules: each line rule independently fails its planted violator") {
    import spark.implicits._
    val allBullets = (1 to 10).map(i => s"- item $i").mkString("\n")
    val bulletsAtBoundary = "intro" + (1 to 9).map(i => s"\n- item $i").mkString
    val bulletVariants = "  • indented\n* star\nplain\n- dash" // 3/4 bullets
    val manyDots = "one...\ntwo…  \nthree...\nfour\nfive\nsix\nseven\neight\nnine\nten" // 3/10 at boundary — keep
    val tooManyDots = "one...\ntwo…\nthree...\nfour...\nfive\nsix\nseven\neight\nnine\nten" // 4/10 > 0.3
    val docs = Seq(
      (0L, "plain text\nno bullets here"),
      (1L, allBullets),          // 10/10 > 0.9 -> drop
      (2L, bulletsAtBoundary),   // 9/10 = 0.9, NOT > 0.9 -> keep
      (3L, bulletVariants),      // 0.75 -> keep; counts all three markers
      (4L, manyDots),            // 3/10 = 0.3, NOT > 0.3 -> keep
      (5L, tooManyDots))         // 4/10 -> drop
      .toDF("doc_id", "text")
    val got = Text.lineRules(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(6)))
      .toMap
    assert(got(0L) == ((2L, 0L, 0L, 1L)), s"plain doc misread: ${got(0L)}")
    assert(got(1L) == ((10L, 10L, 0L, 0L)), s"all-bullet doc kept: ${got(1L)}")
    assert(got(2L) == ((10L, 9L, 0L, 1L)), s"0.9 boundary must keep: ${got(2L)}")
    assert(got(3L) == ((4L, 3L, 0L, 1L)), s"bullet variants miscounted: ${got(3L)}")
    assert(got(4L) == ((10L, 0L, 3L, 1L)), s"0.3 boundary must keep: ${got(4L)}")
    assert(got(5L) == ((10L, 0L, 4L, 0L)), s"ellipsis violator kept: ${got(5L)}")
  }

  test("fivegramScore: every backoff tier scores its hand-built witness exactly") {
    import spark.implicits._
    // train corpus "a b c d e": each n-gram table holds exactly the
    // grams of that sentence, so one eval doc per tier isolates a branch
    val train = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "a b c d e"),  // tier 1: n5/n4(a,b,c,d) = 1/1
      (2L, "x b c d e"),  // tier 2: α · n4(b,c,d,e)/n3(b,c,d)
      (3L, "x y c d e"),  // tier 3: α² · n3(c,d,e)/n2(c,d)
      (4L, "x y z d e"),  // tier 4: α³ · n2(d,e)/n1(d)
      (5L, "x y z w e"),  // floor, seen w5: α⁴ · (n1(e)+1)/(N+V)
      (6L, "x y z w v"))  // floor, unseen w5: α⁴ · 1/(N+V)
      .toDF("doc_id", "text")
    val a2 = 0.4 * 0.4; val a3 = a2 * 0.4; val a4 = a3 * 0.4
    val expected = Map(
      1L -> round6(round9(math.log(1.0 / 1L))),
      2L -> round6(round9(math.log(0.4 * 1L / 1L))),
      3L -> round6(round9(math.log(a2 * 1L / 1L))),
      4L -> round6(round9(math.log(a3 * 1L / 1L))),
      5L -> round6(round9(math.log(a4 * 2.0 / 10.0))),
      6L -> round6(round9(math.log(a4 * 1.0 / 10.0))))
    val got = Text.fivegramScore(train, eval).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == expected, s"backoff tiers misfired:\n got=$got\nwant=$expected")
    try () finally graft.core.InternalCaches.release(spark)
  }

  test("bpeApplyMerges: frozen-table inference — OOV splits to characters, seen words segment") {
    import spark.implicits._
    val train = Seq("ab ab").toDF("text")
    val merges = Text.bpeTrain(train, nMerges = 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("a", "b")))
    val eval = Seq("ab abc xd").toDF("text")
    val got = Text.bpeApplyMerges(eval, merges, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // ab -> [ab]; abc -> [ab, c] (prefix merges, c is OOV-adjacent);
    // xd -> [x, d] (fully unseen: character split survives)
    assert(got == Seq(("ab", 2L), ("c", 1L), ("d", 1L), ("x", 1L)))
  }

  test("bpeApplyMerges: replaying the trained table on the train corpus equals self-apply") {
    // sequential rank-order replay is exact (a merge's constituent
    // symbols always form strictly earlier, so no merge site can appear
    // after its rank passes) — on the training corpus itself the frozen
    // replay must reproduce bpeSegmentCounts; chunkEvery=2 also drives
    // the chunked-checkpoint chain across 4 cuts
    val docs = graft.core.Tables.documents(spark, sfDir)
    val merges = Text.bpeTrain(docs, nMerges = 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val selfApply = Text.bpeSegmentCounts(docs, nMerges = 8, topK = 50).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val frozen = Text.bpeApplyMerges(docs, merges, topK = 50).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val frozenChunked = Text.bpeApplyMerges(docs, merges, topK = 50, chunkEvery = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(frozen == selfApply)
    assert(frozenChunked == selfApply)
  }

  test("bpeTrain: multi-byte and backslash symbols merge exactly (code-point contract)") {
    import spark.implicits._
    // hand-computed over code points with BINARY string ordering (UTF-8
    // bytes): merge1 ties at count 2 between (h,é),(l,l),(l,o),(é,l) —
    // 'h' (0x68) < 'l' < 'é' (0xC3A9) so (h,é) wins; the chain then walks
    // hé -> hél -> héll -> héllo; merge5 falls to naïve's count-1 pairs
    // where (a,ï) sorts first
    val uni = Seq("héllo héllo naïve").toDF("text")
    val got = Text.bpeTrain(uni, nMerges = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(got == Seq(
      (1L, "h", "é", "hé"), (2L, "hé", "l", "hél"), (3L, "hél", "l", "héll"),
      (4L, "héll", "o", "héllo"), (5L, "a", "ï", "aï")))
    // backslash is a plain symbol, not an escape: the lit()-borne pattern
    // must merge it (the interpolated-SQL path corrupted this case)
    val bs = Seq("a\\b a\\b").toDF("text")
    val bsGot = Text.bpeTrain(bs, nMerges = 1).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(bsGot == Seq(("\\", "b", "\\b", 2L)))
    // the driver-side argmax breaks a planted tie in UTF-8 byte order:
    // 'ｱ' (U+FF71, EF BD B1) sorts before '😀' (U+1F600, F0 9F 98 80),
    // while java's UTF-16 compareTo puts the emoji's surrogate (D83D)
    // first. Both pairs count 2 over symbols counting 2, so the tie holds
    // for the count and the likelihood score alike.
    val tie = Seq("😀y ｱx 😀y ｱx").toDF("text")
    val want = Seq((1L, "ｱ", "x", "ｱx", 2L), (2L, "😀", "y", "😀y", 2L))
    for (train <- Seq(Text.bpeTrain _, Text.wordpieceTrain _)) {
      val tieGot = train(tie, 2).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
      assert(tieGot == want, s"tie broken in UTF-16 order: $tieGot")
    }
  }

  test("lp9Of: the driver-side lp9 is bit-identical to the engine's lp9 expression") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(4871)
    def draw(): (Long, Long) = {
      val tm = 1L + (rng.nextLong() & ((1L << (1 + rng.nextInt(40))) - 1))
      (1L + java.lang.Math.floorMod(rng.nextLong(), tm), tm)
    }
    val seeded = Seq.fill(2000)(draw())
    // small masses, including mass == tm (lp9 = 0)
    val small = (for (tm <- 1L to 12L; m <- 1L to tm) yield (m, tm)) ++
      Seq((1L, 1L << 40), (1L, Long.MaxValue), (2L, 3L << 50))
    // the pairs whose ln lands nearest a HALF_UP boundary of round(x, 9)
    def halfDist(p: (Long, Long)): BigDecimal = {
      val d = BigDecimal(StrictMath.log(p._1.toDouble / p._2.toDouble)).abs * BigDecimal(1e9)
      ((d - d.setScale(0, BigDecimal.RoundingMode.FLOOR)) - BigDecimal(0.5)).abs
    }
    val nearHalf = Seq.fill(200000)(draw()).sortBy(halfDist).take(50)
    // java.lang.Math.log differs from StrictMath.log by an ulp on these
    // (HotSpot's intrinsic), enough to flip the rounded lp9
    val ulpFlips = Seq((5141L, 14505L), (10439L, 18043L), (3163L, 20539L),
      (1549L, 21652L), (973L, 21676L), (1124L, 21691L))
    val pairs = (seeded ++ small ++ nearHalf ++ ulpFlips).distinct
    // a local frame evaluates the expression interpreted (folded into the
    // local relation), an RDD-backed one through generated code
    val local = pairs.toDF("mass", "tm")
    val rdd = spark.sparkContext.parallelize(pairs, 4).toDF("mass", "tm")
    for (df <- Seq(local, rdd)) {
      val got = df.select(col("mass"), col("tm"), Text.lp9Expr("mass", "tm")).collect()
      val bad = got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter { case (m, tm, lp9) => lp9 != Text.lp9Of(m, tm) }
      assert(got.length == pairs.length)
      assert(bad.length == 0, s"pairs differ, e.g. ${bad.take(5).toSeq}")
    }
  }

  test("temperatureMix: an all-zero-token corpus weights and allocates zero") {
    import spark.implicits._
    // pre-tokenized frame with empty token arrays — the only route to
    // s_total = 0 (withTokens passes a `t` column through untouched)
    val docs = Seq((0L, Seq.empty[String], "s0"), (1L, Seq.empty[String], "s1"))
      .toDF("doc_id", "t", "source")
    val rows = Text.temperatureMix(docs, budget = 100L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getLong(4))).toSeq.sorted
    assert(rows == Seq(("s0", 0L, 0.0, 0L), ("s1", 0L, 0.0, 0L)),
      s"degenerate corpus must yield zero weights/allocations, got $rows")
  }

  test("bm25: terms absent from the corpus contribute nothing; all-absent query is empty") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val withGhost = Text.bm25(docs, Seq("vector", "join", "scan", "zzz_unseen")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val without = Text.bm25(docs, Seq("vector", "join", "scan")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(withGhost == without, "an unseen term changed the ranking")
    assert(Text.bm25(docs, Seq("zzz_unseen")).count() == 0L)
    // single-doc-term sanity: idf is positive, so scores are positive
    assert(without.forall(_._3 > 0.0))
  }

  test("temperatureMix: degenerate budgets and single-source corpora") {
    import spark.implicits._
    val one = Seq((0L, "a b c", "only")).toDF("doc_id", "text", "source")
    val rows = Text.temperatureMix(one, budget = 100L).collect()
    assert(rows.length == 1)
    assert(rows(0).getDouble(3) == 1.0, "single source must carry weight 1.0")
    assert(rows(0).getLong(4) == 100L, "single source takes the whole budget")
    val zero = Text.temperatureMix(one, budget = 0L).collect()
    assert(zero(0).getLong(4) == 0L, "zero budget allocates zero")
    intercept[IllegalArgumentException](Text.temperatureMix(one, budget = -1L))
  }

  test("pmiCooc at window=1 counts exactly the adjacent unordered bigrams") {
    import spark.implicits._
    val docs = Seq("a b a b c", "c a").toDF("text")
    val got = Text.pmiCooc(docs, window = 1, minCount = 1L).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // adjacent pairs: doc1 ab, ab(b->a canonical), ab, bc; doc2 ac
    assert(got(("a", "b")) == 3L)
    assert(got(("b", "c")) == 1L)
    assert(got(("a", "c")) == 1L)
    assert(got.size == 3)
  }

  test("bpeTrain: pair exhaustion stops early with the merges found so far") {
    import spark.implicits._
    // single-character words only -> no adjacent pairs at all
    val bare = Seq("a b c", "a b").toDF("text")
    assert(Text.bpeTrain(bare, nMerges = 5).count() == 0L)
    // one mergeable word: "ab" merges once, then its single symbol
    // leaves no pairs -> exactly 1 merge from a 5-merge request
    val one = Seq("ab c d").toDF("text")
    val merges = Text.bpeTrain(one, nMerges = 5).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4))).toSeq
    assert(merges == Seq((1L, "ab", 1L)))
  }

  test("bpeTrain: a deep merge chain (24 iterations) stays correct on cached lineage") {
    import spark.implicits._
    // one long repetitive word: "ab" * 16. Merge 1 is (a,b)->ab; each
    // later merge doubles the run length: (ab,ab)->abab, ... — the
    // chain exhausts once the whole word is one symbol (log2(16)+1 = 5
    // merges), exercising the per-iteration persist/unpersist path well
    // past the gate's 8-iteration depth budget when run on a corpus
    // that sustains it
    val word = "ab" * 16
    val deep = Seq.fill(4)(word).toDF("text")
    val merges = Text.bpeTrain(deep, nMerges = 24).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4))).toSeq
    assert(merges.map(_._2) == Seq("ab", "abab", "abababab",
      "ab" * 8, word))
    // counts are the pair frequency BEFORE each merge: 16 (a,b) pairs
    // per word, then k-symbol runs carry k-1 adjacent pairs (x4 docs)
    assert(merges.map(_._3) == Seq(64L, 60L, 28L, 12L, 4L))
    // a corpus that sustains 24 merges: distinct two-char words chain
    // pair frequencies; just assert the full request is served and every
    // merge is structurally valid
    val wide = Seq.tabulate(200)(i => ("w" + i) + " " + ("x" + (i % 50))).toDF("text")
    val wideMerges = Text.bpeTrain(wide, nMerges = 24).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(wideMerges.length == 24)
    assert(wideMerges.forall { case (l, r2, m, c) => m == l + r2 && c > 0L })
  }

  test("containmentPairs: catches the embedded-quote pair Jaccard misses; df cap is live") {
    import spark.implicits._
    // doc 0 is 12 tokens; doc 1 embeds it verbatim inside 60 tokens of
    // filler -> containment(0 -> 1) = 1.0 while Jaccard ~ 12/70 << 0.5
    val quote = (1 to 12).map("q" + _).mkString(" ")
    val filler = (1 to 30).map("f" + _).mkString(" ")
    val filler2 = (31 to 60).map("f" + _).mkString(" ")
    val docs = Seq(
      (0L, quote),
      (1L, s"$filler $quote $filler2"),
      (2L, (1 to 40).map("z" + _).mkString(" "))).toDF("doc_id", "text")
    val got = Text.containmentPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.contains((0L, 1L)), "embedded quote not detected")
    val (ca, cb) = got((0L, 1L))
    assert(ca == 1.0, "containment of the quote in its host must be 1.0")
    assert(cb < 0.5, "host containment must stay below the symmetric bar")
    assert(!got.keySet.exists(p => p._1 == 2L || p._2 == 2L))
    // Jaccard at 0.5 misses the same pair
    val jac = Text.ngramJaccardPairs(docs).collect()
    assert(!jac.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
    // df cap: 80 byte-identical boilerplate docs would form 80*79/2
    // quadratic pairs uncapped; with the cap every shared shingle blows
    // df <= 8 and the pair set is empty — the cap is what keeps a viral
    // header from going quadratic in the corpus
    val many = (0L until 80L).map(i => (i, "h1 h2 h3 h4 h5 h6 h7 h8"))
      .toDF("doc_id", "text")
    assert(Text.containmentPairs(many, maxDf = 100L).count() == 80L * 79L / 2L)
    assert(Text.containmentPairs(many, maxDf = 8L).count() == 0L,
      "capped boilerplate shingles still generated pairs")
  }

  test("pmiCooc: partitioning-independent and minCount floor is live") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val a = Text.pmiCooc(docs).collect().map(_.toString).sorted.toSeq
    val b = Text.pmiCooc(docs.repartition(7)).collect().map(_.toString).sorted.toSeq
    assert(a == b)
    val counts = Text.pmiCooc(docs, minCount = 5L).collect().map(_.getLong(2))
    assert(counts.nonEmpty && counts.forall(_ >= 5L))
  }

  test("c4Rules: each rule independently fails (or reports) its planted violator") {
    import spark.implicits._
    val docs = Seq(
      (0L, "One good line.\nSecond line.\nThird line."),    // 3 sentences -> keep
      (1L, "Too short.\nOnly two."),                        // C2: 2 sentences
      (2L, "Nice text. lorem ipsum filler. more. stuff."),  // C3
      (3L, "code { here. one. two. three."),                // C4
      (4L, "casino night. fun. more. yes."),                // C6
      (5L, "var x\njavascript here.\ngood. two. three."),   // C5: stat only
      (6L, "Quoted line ends well.\"\nShout!\nAsk? ok. more."))
      .toDF("doc_id", "text")
    val got = Text.c4Rules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getLong(9) == 1L, s"clean doc dropped: ${got(0L)}")
    assert(got(1L).getLong(9) == 0L && got(1L).getLong(4) == 2L,
      s"2-sentence doc kept: ${got(1L)}")
    assert(got(2L).getLong(6) == 1L && got(2L).getLong(9) == 0L,
      s"lorem ipsum missed: ${got(2L)}")
    assert(got(3L).getLong(7) == 1L && got(3L).getLong(9) == 0L,
      s"curly brace missed: ${got(3L)}")
    assert(got(4L).getLong(8) == 1L && got(4L).getLong(9) == 0L,
      s"bad word missed: ${got(4L)}")
    // the javascript rule reports the LINE count but does not drop the doc
    assert(got(5L).getLong(5) == 1L && got(5L).getLong(9) == 1L,
      s"javascript is a line edit, not a doc drop: ${got(5L)}")
    // C1 counts all four terminal marks; doc 6 has 3 lines ending '"',
    // '!' and '.' respectively — all terminal
    assert(got(6L).getLong(1) == 3L && got(6L).getLong(2) == 3L
      && got(6L).getDouble(3) == 1.0, s"terminal marks miscounted: ${got(6L)}")
  }

  test("dsirWeights: weights match an independent driver recomputation") {
    import spark.implicits._
    val buckets = 10000
    def bucket(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31L + c.toInt) % buckets)
    def feats(text: String): Seq[Long] = {
      val t = text.split(" ").toSeq
      t.map(bucket) ++ t.sliding(2).filter(_.size == 2)
        .map(p => bucket(p.mkString(" "))).toSeq
    }
    val target = Seq((0L, "a a b")); val raw = Seq((0L, "a a b"), (1L, "b c c"))
    val eval = Seq((10L, "a b c"), (11L, "c c"), (12L, "a a"))
    val ct = target.flatMap(d => feats(d._2)).groupBy(identity).map { case (k, v) => k -> v.size }
    val cr = raw.flatMap(d => feats(d._2)).groupBy(identity).map { case (k, v) => k -> v.size }
    val (nt, nr) = (ct.values.sum, cr.values.sum)
    val expected = eval.map { case (id, text) =>
      val lps = feats(text).map { b =>
        round9(math.log((ct.getOrElse(b, 0) + 1.0) / (nt + buckets)) -
          math.log((cr.getOrElse(b, 0) + 1.0) / (nr + buckets)))
      }
      id -> ((lps.size.toLong, round6(lps.map(x => BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)))
    }.toMap
    val got = Text.dsirWeights(target.toDF("doc_id", "text"),
      raw.toDF("doc_id", "text"), eval.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expected, s"got=$got expected=$expected")
    // directional: target-vocab eval doc scores above raw-only-vocab doc
    assert(got(12L)._2 > got(11L)._2,
      s"target-like doc must outscore raw-only doc: $got")
  }

  test("contaminationSpans: islands, span counts and max run on a hand corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f g h"),                    // the eval doc
      (10L, "x x a b c d e x x a b c x"),         // runs [3,4,5] and [10]
      (11L, "p q r s t u v"),                     // no overlap -> absent
      (12L, "a b c d e f g h"))                   // full copy: one max run
      .toDF("doc_id", "text")
    val got = Text.contaminationSpans(docs, org.apache.spark.sql.functions.col("doc_id") < 10L, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 10: matched 3-gram positions 3,4,5 (a b c / b c d / c d e) and
    // 10 (a b c) -> 4 matches, 2 spans, longest run 3 -> 3+2 = 5 tokens
    assert(got(10L) == ((4L, 2L, 5L)), s"doc 10 spans wrong: $got")
    // doc 12 matches every position: 6 shingles, one span, 8 tokens
    assert(got(12L) == ((6L, 1L, 8L)), s"doc 12 spans wrong: $got")
    assert(!got.contains(11L), "non-overlapping doc must not be reported")
    assert(!got.contains(0L), "eval docs must not be reported")
  }

  test("duplicatedSpans: diagonal islands find the exact aligned runs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      // shares the 7-token run "a b c d e f g" (5 aligned shingles on one
      // diagonal) plus a lone "a b c" re-occurrence on a second diagonal
      (2L, "z z a b c d e f g z z z a b c z"),
      (3L, "a b c q r s"))                       // 3-token overlap only — filtered
      .toDF("doc_id", "text")
    val got = Text.duplicatedSpans(docs, n = 3, maxDf = 64L, minSpanTokens = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set((1L, 2L)),
      s"only the long-span pair must survive minSpanTokens: ${got.keySet}")
    // 5-shingle run (span 7 tokens) + the lone diagonal = 6 matches, 2 spans
    assert(got((1L, 2L)) == ((6L, 2L, 7L)), s"span accounting wrong: $got")
    // dropping the threshold surfaces the 3-token pairs too
    val all = Text.duplicatedSpans(docs, n = 3, maxDf = 64L, minSpanTokens = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"unfiltered pairs wrong: $all")
  }

  test("wordpieceSegment: greedy longest match, char fallback, UNK for long words") {
    import spark.implicits._
    // total 5 tokens, thrDiv=2 -> thr=2: "abcd" (freq 2) and "ab" (freq 3,
    // two inside abcd + the standalone word) pass; "x" (freq 1) only
    // exists as a single char; the 17-char word takes the UNK rule
    val docs = Seq((0L, "abcd abcd ab x zzzzzzzzzzzzzzzzz")).toDF("doc_id", "text")
    val got = Text.wordpieceSegment(docs, maxPieceLen = 4, maxWordLen = 16,
      thrDiv = 2L, topK = 50).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("abcd" -> ((1L, 2L)), "ab" -> ((1L, 1L)),
      "x" -> ((1L, 1L)), "[UNK]" -> ((1L, 1L))), s"segmentation wrong: $got")
  }

  test("wordpieceSegment: maximal munch picks the longest piece at every step") {
    import spark.implicits._
    // thr = 1/1000 = 0: every substring passes, so the greedy walk on
    // "abcdef" must take "abcd" (longest) then fall to "ef" — a
    // shortest-first or non-greedy walk would emit different pieces
    val docs = Seq((0L, "abcdef")).toDF("doc_id", "text")
    val got = Text.wordpieceSegment(docs, maxPieceLen = 4, maxWordLen = 16,
      thrDiv = 1000L, topK = 50).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("abcd", 1L, 1L), ("ef", 1L, 1L)),
      s"maximal munch violated: $got")
  }

  test("perplexityBuckets: buckets partition the scored corpus in score order") {
    val got = Text.qPerplexityBuckets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    try {
      val byBucket = got.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"),
        s"expected all three buckets on the gate corpus: ${byBucket.keySet}")
      assert(byBucket("head").min >= byBucket("middle").max,
        "head scores must dominate middle")
      assert(byBucket("middle").min >= byBucket("tail").max,
        "middle scores must dominate tail")
      // composition: the scores are exactly trigramScore's on the same split
      val scores = Text.qTrigramScore(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got.forall { case (id, lp, _) => scores(id) == lp },
        "bucketed scores diverge from the q122 LM")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("tokenizerFertility: frozen merges segment OOV words partially, per-source rollup exact") {
    import spark.implicits._
    // train "xyz xyz": merge1 (x,y)->xy, merge2 (xy,z)->xyz. Eval source A
    // segments fully (fertility 1.0); source B is OOV — "qq" -> [q, q] and
    // "qxy" -> [q, xy] (the frozen x+y merge still fires inside an unseen
    // word) — fertility 2.0, chars_per_piece 5/4, split_rate 1.0
    val train = Seq((0L, "xyz xyz")).toDF("doc_id", "text")
    val eval = Seq((1L, "xyz z xy", "A"), (3L, "qq qxy", "B"))
      .toDF("doc_id", "text", "source")
    try {
      val got = Text.tokenizerFertility(train, eval, nMerges = 2).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
      assert(got("A") == ((3L, 3L, 1.0, 2.0, 0.0)), s"source A wrong: ${got("A")}")
      assert(got("B") == ((2L, 2L, 2.0, 1.25, 1.0)), s"source B wrong: ${got("B")}")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("sourceKlDivergence: absent-mass fold equals the naive full-vocab sum") {
    import spark.implicits._
    // vocab {a,b,c}, V=3, T=4: q = (3/7, 2/7, 2/7). Source A "a a b"
    // (c absent), source B "c" (a, b absent) — the fold must reproduce
    // the naive Σ over the FULL vocab including each source's absent words
    val docs = Seq((0L, "a a b", "A"), (1L, "c", "B")).toDF("doc_id", "text", "source")
    def naiveKl(present: Map[String, Long], q: Map[String, Double], v: Int): Double = {
      val ts = present.values.sum
      q.keys.map { w =>
        val p = (present.getOrElse(w, 0L) + 1).toDouble / (ts + v)
        p * math.log(p / q(w))
      }.sum
    }
    val q = Map("a" -> 3.0 / 7, "b" -> 2.0 / 7, "c" -> 2.0 / 7)
    try {
      val got = Text.sourceKlDivergence(docs).collect()
        .map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
      val expA = naiveKl(Map("a" -> 2L, "b" -> 1L), q, 3)
      val expB = naiveKl(Map("c" -> 1L), q, 3)
      assert(math.abs(got("A")._3 - expA) < 1e-5, s"A: ${got("A")._3} vs $expA")
      assert(math.abs(got("B")._3 - expB) < 1e-5, s"B: ${got("B")._3} vs $expB")
      assert(got.values.forall(v => v._3 >= 0.0), s"KL must be non-negative: $got")
      assert(got.values.forall(v => math.abs(v._1 + v._2 - v._3) < 2e-6),
        s"kl must equal present + absent: $got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("sourceKlDivergence: a source matching the corpus distribution scores ~0") {
    import spark.implicits._
    // both sources have IDENTICAL text → each equals the mixture; with
    // add-1 smoothing over the shared vocab KL is exactly the rounding
    // floor (t_s differs from T so smoothed masses differ slightly)
    val docs = Seq((0L, "a b c a", "A"), (1L, "a b c a", "B"))
      .toDF("doc_id", "text", "source")
    try {
      val got = Text.sourceKlDivergence(docs).collect().map(_.getDouble(5))
      assert(got.forall(k => k >= 0.0 && k < 0.02), s"near-zero KL expected: ${got.toSeq}")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("gopherRepetition: union coverage never double-counts overlapping dup n-grams") {
    import spark.implicits._
    // tokens a b c a b c a b c x: dup 5-grams "a b c a b" (pos 1,4) and
    // "b c a b c" (pos 2,5) cover positions 1..9 as a UNION — 9 of 10
    // chars, NOT the 20 a per-occurrence sum would claim; top bigram ties
    // "a b" vs "b c" at count 3 → lexicographically smallest wins
    val docs = Seq((0L, "a b c a b c a b c x")).toDF("doc_id", "text")
    try {
      val r = Text.gopherRepetition(docs).collect().head
      val m = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getLong(m("tot_chars")) == 10L, s"tot_chars: $r")
      assert(r.getDouble(m("dup5_frac")) == 0.9, s"dup5 union wrong: $r")
      assert(r.getDouble(m("top2_frac")) == 0.6, s"top2 tie-break wrong: $r")
      assert(r.getLong(m("keep")) == 0L, s"repetitive doc must be dropped: $r")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("gopherRepetition: duplicate lines count occurrences beyond the first") {
    import spark.implicits._
    // lines [x, y, x, zz]: one extra occurrence of "x" → dup_line_frac
    // 1/4, dup_line_char_frac 1/5; no dup 5-grams (only 4 tokens)
    val docs = Seq((0L, "x\ny\nx\nzz")).toDF("doc_id", "text")
    try {
      val r = Text.gopherRepetition(docs).collect().head
      val m = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getLong(m("n_lines")) == 4L && r.getLong(m("n_dup_lines")) == 1L,
        s"line counts: $r")
      assert(r.getDouble(m("dup_line_frac")) == 0.25 &&
        r.getDouble(m("dup_line_char_frac")) == 0.2, s"line fracs: $r")
      assert(r.getDouble(m("dup5_frac")) == 0.0, s"short doc has no 5-grams: $r")
      // top bigram "x y" (count 1, smallest of the tie) = 2/5 > 0.2 → drop
      assert(r.getDouble(m("top2_frac")) == 0.4 && r.getLong(m("keep")) == 0L,
        s"top2/keep: $r")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("editVerifiedPairs + unigramViterbi hold on the planted anchor corpus") {
    // the small twin of the BIG-tier anchors: every planted copy is a
    // one-token edit, so edit verification at the default bar must confirm
    // EXACTLY the planted LSH pairs; the Viterbi report's pieces must
    // rejoin their words and be a pure function of the corpus
    val docs = graft.sources.SyntheticDocs.planted(spark, nBase = 20000L, nPlant = 50L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planted = (0L until 50L).map(i => (i, 20000L + i)).toSet
      val pairs = Text.editVerifiedPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == planted,
        s"missing=${(planted -- pairs).take(5)} extra=${(pairs -- planted).take(5)}")
      val rep = Text.unigramViterbi(docs).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getString(3)))
      assert(rep.length == 100, s"${rep.length}")
      rep.foreach { case (w, np, seq) =>
        assert(np >= 1L && (seq == "[UNK]" || seq.replace(" ", "") == w),
          s"pieces don't rejoin: $w -> $seq")
      }
      val again = Text.unigramViterbi(docs).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getString(3)))
      assert(rep.toSeq == again.toSeq, "viterbi report not deterministic")
    } finally { docs.unpersist(); graft.core.InternalCaches.release(spark) }
  }

  test("phraseSearch: served counts equal the positional ground truth, incl. repeats") {
    import spark.implicits._
    // "x y" appears 3× (twice in doc1, once in doc2) — the top phrase;
    // doc3 has x and y both present but never adjacent → must not count
    val docs = Seq(
      (1L, "x y q x y"),
      (2L, "x y z w"),
      (3L, "x q y")).toDF("doc_id", "text")
    try {
      val got = Text.phraseSearch(docs, topP = 1).collect()
      assert(got.length == 1, s"${got.toSeq}")
      val r = got.head
      assert(r.getString(0) == "x y" && r.getLong(1) == 2L && r.getLong(2) == 3L, s"$r")
      // topP=2 picks the tie band lexicographically after "x y" (cnt 3):
      // among cnt-1 bigrams the smallest is "q x"
      val two = Text.phraseSearch(docs, topP = 2).collect().map(_.getString(0)).toSet
      assert(two == Set("x y", "q x"), s"$two")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("luhnCards: textbook checksum vectors; exactly one of ten closing digits passes") {
    import spark.implicits._
    // 4532015112830366 is Luhn-valid (doubled-digit sum 27 + plain 23 = 50);
    // flipping the check digit or a plain 1234567890123456 (sum 64) fails
    val docs = Seq(
      (1L, "pay 4532015112830366 now", "A"),
      (2L, "ref 4532015112830367 here", "A"),
      (3L, "id 1234567890123456 x", "B")).toDF("doc_id", "text", "source")
    try {
      val got = Text.luhnCards(docs).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got("A") == ((1L, 2L, 1L)), s"$got")
      assert(got("B") == ((0L, 1L, 0L)), s"$got")
      // the q144 battery: ten closing digits per base → exactly one valid
      val base = org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("4"),
        org.apache.spark.sql.functions.lpad(
          (org.apache.spark.sql.functions.col("doc_id") % 100000000000000L)
            .cast(org.apache.spark.sql.types.StringType), 14, "0"))
      val planted = Seq((7L, "alpha", "S"), (8L, "beta", "S"))
        .toDF("doc_id", "text", "source")
        .withColumn("text", (0 to 9).foldLeft(
          org.apache.spark.sql.functions.col("text")) { (acc, d) =>
          org.apache.spark.sql.functions.concat(acc,
            org.apache.spark.sql.functions.lit(" "), base,
            org.apache.spark.sql.functions.lit(d.toString))
        })
      val b = Text.luhnCards(planted).collect().head
      assert(b.getLong(2) == 20L && b.getLong(3) == 2L && b.getLong(1) == 2L, s"$b")
      assert(b.getDouble(4) == 0.1, s"$b")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("editVerifiedPairs: one-char edits survive a strict bar; reordered halves don't") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = a.replace("fox", "fax")                 // 1 substitution, J ≈ .57
    val c = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = "eta theta iota kappa lambda mu alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    try {
      // bar lowered to .2: both pairs surface — the half-swap passes the
      // shingle-Jaccard layer (J = 8/12) but the DP grades it 1−47/66
      val loose = Text.editVerifiedPairs(docs, minSim = 0.2).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(3), r.getDouble(4)))).toMap
      assert(loose.contains((1L, 2L)) && loose.contains((3L, 4L)), s"$loose")
      assert(loose((1L, 2L))._1 == 1L && loose((1L, 2L))._2 > 0.95, s"$loose")
      assert(loose((3L, 4L)) == ((47L, 0.287879)), s"half-swap: $loose")
      // default bar (.4): only the literal edit survives — the DP catches
      // the reordered-but-shingle-similar false confirm Jaccard passes
      val strict = Text.editVerifiedPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(strict == Set((1L, 2L)), s"$strict")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("doremiWeights: hand-computed excess losses and exponentiated-gradient update") {
    import spark.implicits._
    // train "a b a b a b a b": cw a=4 b=4, T=8 V=2; n12 ab=4 ba=3 → n1 a=4 b=3.
    // eval X "a b a b": mean_uni = ln .5; mean_bi = (2·ln(5/6)+ln(4/5))/3
    //   → excess ≈ 0.497218
    // eval Y "c c c c": mean_uni = ln .1; mean_bi = ln .5 → excess = ln 5
    //   → boost_Y = 5 exactly; w0 = .5 each → weights ≈ .247454 / .752546
    val train = Seq((0L, "a b a b a b a b")).toDF("doc_id", "text")
    val eval = Seq((1L, "a b a b", "X"), (3L, "c c c c", "Y"))
      .toDF("doc_id", "text", "source")
    try {
      val got = Text.doremiWeights(train, eval).collect()
        .map(r => r.getString(0) -> r).toMap
      val x = got("X"); val y = got("Y")
      val mx = x.schema.fieldNames.zipWithIndex.toMap
      assert(x.getLong(mx("n_tokens")) == 4L && y.getLong(mx("n_tokens")) == 4L)
      assert(math.abs(x.getDouble(mx("excess")) - 0.497218) < 1e-5, s"$x")
      assert(math.abs(y.getDouble(mx("excess")) - math.log(5.0)) < 1e-5, s"$y")
      assert(math.abs(x.getDouble(mx("weight")) - 0.247454) < 1e-4, s"$x")
      assert(math.abs(y.getDouble(mx("weight")) - 0.752546) < 1e-4, s"$y")
      assert(math.abs(x.getDouble(mx("weight")) + y.getDouble(mx("weight")) - 1.0) < 2e-6)
      assert(x.getDouble(mx("weight0")) == 0.5 && y.getDouble(mx("weight0")) == 0.5)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("doremiWeights: a source with no eval bigrams gets zero excess, not a crash") {
    import spark.implicits._
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val eval = Seq((1L, "a", "S"), (3L, "a b", "R")).toDF("doc_id", "text", "source")
    try {
      val got = Text.doremiWeights(train, eval).collect()
        .map(r => r.getString(0) -> r).toMap
      val s = got("S")
      val m = s.schema.fieldNames.zipWithIndex.toMap
      // single-token source: mean_bi falls back to mean_uni → excess 0,
      // boost 1 → weight == w0/norm with norm > w0 (R is boosted)
      assert(s.getDouble(m("excess")) == 0.0, s"$s")
      assert(got.values.map(_.getDouble(m("weight"))).sum > 0.999)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("unigramViterbi: global DP beats greedy; exact-tie breaks to the longer final piece") {
    import spark.implicits._
    // corpus "abc" alone, maxPieceLen=2, thrDiv=1 (thr=1, everything kept):
    // vocab {a,b,c,ab,bc} each mass 1, identical lp9. Paths for "abc":
    // [ab,c] and [a,bc] tie exactly (2·lp, np=2) → l DESC picks the longer
    // FINAL piece: "a bc". Greedy (WordPiece) would commit to "ab" first.
    val docs = Seq((0L, "abc")).toDF("doc_id", "text")
    try {
      val r = Text.unigramViterbi(docs, maxPieceLen = 2, thrDiv = 1L).collect()
      val row = r.find(_.getString(0) == "abc").get
      assert(row.getLong(2) == 2L && row.getString(3) == "a bc", s"$row")
      // corpus "abab": vocab masses a=2 b=2 ab=2 ba=1, T=7 → [ab ab]
      // (2·ln(2/7) beats any path through ba or 4 chars)
      val r2 = Text.unigramViterbi(Seq((0L, "abab")).toDF("doc_id", "text"),
        maxPieceLen = 2, thrDiv = 1L).collect()
      val row2 = r2.find(_.getString(0) == "abab").get
      assert(row2.getLong(2) == 2L && row2.getString(3) == "ab ab", s"$row2")
      val lp9 = math.round(BigDecimal(math.log(2.0 / 7.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e9)
      assert(row2.getLong(4) == 2L * lp9, s"scaled score: $row2 vs ${2L * lp9}")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("unigramTrain: EM demotes a piece that raw frequency overranks; alphabet survives at +1") {
    import spark.implicits._
    // Corpus: "abab"×10, "ab"×1, "cd"×6. Raw substring mass ranks
    // ab (2·10+1 = 21) ABOVE abab (10) and cd (6) — but every "abab"
    // occurrence Viterbi-segments as the single piece [abab] (ln(10/121)
    // ≈ −2.49 beats [ab ab] ≈ −3.50), so ab's raw mass was really
    // explained by the longer piece. After one EM round the expected
    // counts are abab:10, cd:6, ab:1 — cd OVERTAKES ab — and ba/aba/bab
    // (raw mass 10 each) prune to zero. Iterations 2..3 are a fixed
    // point, so the trained table is stable.
    val docs = Seq((0L, (("abab " * 10) + "ab " + ("cd " * 6)).trim))
      .toDF("doc_id", "text")
    try {
      val got = Text.unigramTrain(docs, maxPieceLen = 4, maxWordLen = 16,
        thrDiv = 30L, nIters = 3, vocabV = 40).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val mass = got.view.mapValues(_._2).toMap
      assert(mass("abab") == 10L && mass("cd") == 6L && mass("ab") == 1L, s"$got")
      assert(mass("cd") > mass("ab"),
        "EM must rank cd above ab after reassigning ab's mass to abab")
      assert(!got.contains("ba") && !got.contains("aba") && !got.contains("bab"),
        s"zero-expected-count pieces must prune: $got")
      // the alphabet never dies: +1 smoothing keeps unused single chars
      assert(Seq("a", "b", "c", "d").forall(c => mass(c) == 1L), s"$got")
      assert(got.size == 7, s"$got")
      // lp9 pins to the scaled round-9 ln of mass/21
      val lp9 = (m: Long) => math.round(BigDecimal(math.log(m / 21.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e9)
      assert(got("abab") == ((4L, 10L, lp9(10))), s"$got")
      assert(got("cd") == ((2L, 6L, lp9(6))), s"$got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("unigramApply: inference under the TRAINED model, not the seed; OOV chars emit [UNK]") {
    import spark.implicits._
    // Train = the q185 spec corpus (trained model: abab:10 cd:6 ab:1,
    // singles 1 each; aba/ba/bab PRUNED). Eval probes the difference:
    //  - "aba" segments [aba] under the SEED model (mass 10) but the
    //    trained model pruned it → [ab a] — proof the frozen TRAINED
    //    model drives inference
    //  - "xy" has characters outside the training alphabet → no path →
    //    [UNK] (the deployed-tokenizer OOV case)
    //  - an 17-char word → [UNK] via the same anti join
    val train = Seq((0L, (("abab " * 10) + "ab " + ("cd " * 6)).trim))
      .toDF("doc_id", "text")
    val long = "a" * 17
    val eval = Seq((1L, s"abab cd ab aba xy $long")).toDF("doc_id", "text")
    try {
      val got = Text.unigramApply(train, eval, maxPieceLen = 4,
        maxWordLen = 16, thrDiv = 30L, nIters = 3, vocabV = 40, topK = 100)
        .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)))).toMap
      assert(got("abab") == ((1L, "abab")), s"$got")
      assert(got("cd") == ((1L, "cd")) && got("ab") == ((1L, "ab")), s"$got")
      assert(got("aba") == ((2L, "ab a")),
        s"trained model must override the seed segmentation: $got")
      assert(got("xy") == ((1L, "[UNK]")), s"$got")
      assert(got(long) == ((1L, "[UNK]")), s"$got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("unigramViterbi: whole-word piece wins when frequent; overlong words emit [UNK]") {
    import spark.implicits._
    // "abc abc ab c": piece abc (mass 2) scores ln(2/16) ≈ −2.08 as ONE
    // piece vs [ab,c] 2·ln(3/16) ≈ −3.35 → whole word wins for "abc";
    // "ab" → [ab], "c" → [c]. A 17-char word exceeds maxWordLen=16 → [UNK]
    val long = "x" * 17
    val docs = Seq((0L, s"abc abc ab c $long")).toDF("doc_id", "text")
    try {
      val got = Text.unigramViterbi(docs, maxPieceLen = 4, thrDiv = 5L)
        .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)))).toMap
      assert(got("abc") == ((1L, "abc")), s"$got")
      assert(got("ab") == ((1L, "ab")) && got("c") == ((1L, "c")), s"$got")
      assert(got(long) == ((1L, "[UNK]")), s"$got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("zipfSlope: an exact-Zipf source fits slope -1 with R² 1") {
    import spark.implicits._
    // freqs 6/1, 6/2, 6/3 → ln(freq) = ln 6 − ln(rank) exactly: slope −1,
    // intercept ln 6, R² 1 (up to the 1e-9 ln rounding, killed by round 6)
    val docs = Seq((0L, "a a a a a a b b b c c", "A")).toDF("doc_id", "text", "source")
    try {
      val r = Text.zipfSlope(docs).collect().head
      val m = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getLong(m("n_ranks")) == 3L && r.getLong(m("top_freq")) == 6L, s"$r")
      assert(r.getDouble(m("slope")) == -1.0, s"slope: $r")
      assert(r.getDouble(m("r2")) == 1.0, s"r2: $r")
      assert(math.abs(r.getDouble(m("intercept")) - math.log(6.0)) < 1e-5, s"$r")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("zipfSlope: topR caps the fitted ranks; ties break lexicographically") {
    import spark.implicits._
    // freqs a=3, b=3, c=1 — ties (a,b) rank lexicographically; topR=2
    // fits only ranks 1..2 where both y's equal ln 3 → slope exactly 0
    val docs = Seq((0L, "a b a b a b c", "A")).toDF("doc_id", "text", "source")
    try {
      val r = Text.zipfSlope(docs, topR = 2).collect().head
      val m = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getLong(m("n_ranks")) == 2L && r.getLong(m("top_freq")) == 3L, s"$r")
      assert(r.getDouble(m("slope")) == 0.0, s"flat fit expected: $r")
      // single-rank degenerate fit is NULL, not a div-by-zero artifact
      val one = Text.zipfSlope(Seq((1L, "only", "B")).toDF("doc_id", "text", "source"))
        .collect().head
      assert(one.getLong(1) == 1L && one.isNullAt(3) && one.isNullAt(4) && one.isNullAt(5),
        s"degenerate: $one")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("oovRate and negSamplingTable: closed forms and the ^0.75 flattening property") {
    import spark.implicits._
    try {
      // vocab (cap 2) from train = {a, b}; eval has 4 tokens, 1 OOV
      val train = Seq((0L, "a a b c", "T")).toDF("doc_id", "text", "source")
      val eval = Seq((1L, "a b b z", "E")).toDF("doc_id", "text", "source")
      val r = Text.oovRate(train, eval, cap = 2).collect().head
      assert((r.getString(0), r.getLong(1), r.getLong(2)) == (("E", 4L, 1L)), s"$r")
      assert(r.getDouble(3) == 0.25, s"$r")

      // neg sampling: freq 16 → mass floor(16^0.75 * 1e6) = 8000000;
      // freq 1 → 1000000. The ^0.75 flattening: mass ratio 8 < freq ratio 16
      val corpus = Seq((0L, (Seq.fill(16)("x") ++ Seq("y")).mkString(" "), "A"))
        .toDF("doc_id", "text", "source")
      val t = Text.negSamplingTable(corpus, topK = 10).collect()
        .map(x => x.getString(0) -> x).toMap
      val m = t("x").schema.fieldNames.zipWithIndex.toMap
      assert(t("x").getLong(m("freq")) == 16L &&
        t("x").getLong(m("s_scaled")) == 8000000L, s"${t("x")}")
      assert(t("y").getLong(m("s_scaled")) == 1000000L, s"${t("y")}")
      assert(t("x").getDouble(m("prob")) ==
        BigDecimal(8000000.0 / 9000000.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("goodTuring: count-of-counts, adjusted counts, and the Chen-Goodman discount hit closed forms") {
    import spark.implicits._
    // freqs: x=1, y=1, z=2 → N1=2, N2=1; r*(1) = 2·N2/N1 = 1.0,
    // r*(2) = 3·N3/N2 = 0; d̂ = N1/(N1+2N2) = 0.5
    val docs = Seq((1L, "x y z z", "A")).toDF("doc_id", "text", "source")
    try {
      val rows = Text.goodTuring(docs).collect().map(r => r.getLong(1) -> r).toMap
      assert(rows.keySet == Set(1L, 2L), s"${rows.values.toSeq}")
      val m = rows(1L).schema.fieldNames.zipWithIndex.toMap
      assert(rows(1L).getLong(m("n_r")) == 2L &&
        rows(1L).getLong(m("n_r_plus1")) == 1L &&
        rows(1L).getDouble(m("r_star")) == 1.0, s"${rows(1L)}")
      assert(rows(2L).getLong(m("n_r")) == 1L &&
        rows(2L).getDouble(m("r_star")) == 0.0, s"${rows(2L)}")
      assert(rows(1L).getDouble(m("kn_discount")) == 0.5, s"${rows(1L)}")
      // maxR caps the classes: a frequency-12 word contributes nothing
      val heavy = Seq((1L, Seq.fill(12)("w").mkString(" ") + " u", "B"))
        .toDF("doc_id", "text", "source")
      val h = Text.goodTuring(heavy).collect()
      assert(h.map(_.getLong(1)).toSet == Set(1L), s"${h.toSeq}")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("rm3Bm25: expansion recalls a document the original query cannot see") {
    import spark.implicits._
    // doc 1 is the only 'vector' match → sole feedback doc; its relevance
    // model is dominated by 'apple', so RM3 expands to 'apple' and doc 2
    // (which never mentions 'vector') becomes retrievable — the recall
    // payoff pseudo-relevance feedback exists for
    val docs = Seq(
      (1L, "vector apple apple apple"),
      (2L, "apple apple apple apple"),
      (3L, "banana banana banana banana"))
      .toDF("doc_id", "text")
    try {
      val plain = Text.bm25(docs, Seq("vector"), k = 5).collect().map(_.getLong(0)).toSet
      assert(plain == Set(1L), s"plain BM25 baseline moved: $plain")
      val rm3 = Text.rm3Bm25(docs, Seq("vector"), k = 5, fbDocs = 2, fbTerms = 1)
        .collect()
      val ids = rm3.map(_.getLong(0)).toSet
      assert(ids.contains(2L), s"expansion failed to recall doc 2: ${rm3.toSeq}")
      assert(!ids.contains(3L), s"unrelated doc leaked in: ${rm3.toSeq}")
      // determinism across physical layouts (feedback selection, term
      // selection, and the weighted rerun are all pinned)
      val a = Text.rm3Bm25(docs, Seq("vector"), k = 5, fbDocs = 2, fbTerms = 1)
        .collect().map(_.toSeq).toSeq
      val b = Text.rm3Bm25(docs.repartition(7), Seq("vector"), k = 5,
        fbDocs = 2, fbTerms = 1).collect().map(_.toSeq).toSeq
      assert(a == b, "rm3 is partitioning-dependent")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("wittenBellScore: data-driven lambda, add-one floor, closed forms") {
    import spark.implicits._
    // train: bigrams (a,b)x3 (a,c)x1 → c1(a)=4, N1+(a)=2, λ(a)=4/6;
    // unigrams a:4 b:3 c:1 → N=8, V=3; Pu(b)=4/11, Pu(c)=2/11, Pu(z)=1/11
    val train = (Seq.fill(3)("a b") ++ Seq("a c"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val eval = Seq((100L, "a b"), (101L, "a z"), (102L, "z b"))
      .toDF("doc_id", "text")
    try {
      val got = Text.wittenBellScore(train, eval).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // seen bigram: λ·ML + (1−λ)·Pu, in the exact pinned op order
      val p100 = (4.0 / 6.0) * (3.0 / 4.0) + (2.0 / 6.0) * ((3 + 1.0) / 11.0)
      assert(got(100L) == r6(r9(math.log(p100))), s"${got(100L)} vs $p100")
      // seen history, unseen continuation: only the backoff mass survives
      val p101 = (4.0 / 6.0) * (0.0 / 4.0) + (2.0 / 6.0) * ((0 + 1.0) / 11.0)
      assert(got(101L) == r6(r9(math.log(p101))), s"${got(101L)} vs $p101")
      // unseen history → pure add-one unigram
      assert(got(102L) == r6(r9(math.log((3 + 1.0) / 11.0))), s"${got(102L)}")
      assert(got(100L) > got(102L) && got(102L) > got(101L),
        "seen bigram > unigram floor > backed-off novel continuation")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("ndcgEval: perfect ranking hits nDCG=AP=1, dl-induced misranking hits its closed form") {
    import spark.implicits._
    def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def decSum(vs: Double*): Double = vs.map(v => BigDecimal(r9(v))).sum.toDouble
    val ln = math.log _
    // scenario 1: equal dl → BM25 ranks by tf → system == ideal
    val perfect = Seq(
      (1L, "q q q x x x"), (2L, "q q x x x x"), (3L, "q x x x x x"),
      (4L, "x x x x x x"))
      .toDF("doc_id", "text")
    try {
      val row = Text.ndcgEval(perfect, Seq("q"), k = 10).collect().head
      val m = row.schema.fieldNames.zipWithIndex.toMap
      val ideal = decSum(7.0 / ln(2.0), 3.0 / ln(3.0), 1.0 / ln(4.0))
      assert(row.getLong(m("n_rel")) == 2L)
      assert(row.getDouble(m("dcg")) == r6(ideal), s"$row")
      assert(row.getDouble(m("ndcg")) == 1.0 && row.getDouble(m("ap")) == 1.0, s"$row")
      graft.core.InternalCaches.release(spark)
      // scenario 2: a short tf=1 doc outranks a long tf=2 doc
      // (d1 1.507 > d3 1.486 > d2 0.987 by the BM25 length term)
      val skewed = Seq(
        (1L, "q q q aa aa aa"),
        (2L, "q q aa aa aa aa aa aa aa aa aa aa"),
        (3L, "q"), (4L, "aa"))
        .toDF("doc_id", "text")
      val row2 = Text.ndcgEval(skewed, Seq("q"), k = 10).collect().head
      val dcg = decSum(7.0 / ln(2.0), 1.0 / ln(3.0), 3.0 / ln(4.0))
      val idcg = decSum(7.0 / ln(2.0), 3.0 / ln(3.0), 1.0 / ln(4.0))
      assert(row2.getDouble(m("dcg")) == r6(dcg), s"$row2")
      assert(row2.getDouble(m("idcg")) == r6(idcg), s"$row2")
      assert(row2.getDouble(m("ndcg")) == r6(dcg / idcg), s"$row2")
      // relevant (tf>=2) docs land at ranks 1 and 3 → AP = (1 + 2/3)/2
      assert(row2.getDouble(m("ap")) == r6(decSum(1.0, 2.0 / 3.0) / 2.0), s"$row2")
      assert(row2.getDouble(m("ndcg")) < 1.0)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("kneserNeyScore: continuation counts beat raw frequency (the Francisco property), closed forms") {
    import spark.implicits._
    // train: 'francisco' is FREQUENT (5x) but follows only 'san';
    // 'cat' is rarer (3x) but follows 3 distinct contexts.
    // T = 4 bigram types, V = 6 vocab → Pc(francisco) = 2/10, Pc(cat) = 4/10
    val train = (Seq.fill(5)("san francisco") ++ Seq("the cat", "a cat", "my cat"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val eval = Seq((100L, "zzz francisco"), (101L, "zzz cat"), (102L, "san francisco"))
      .toDF("doc_id", "text")
    try {
      val got = Text.kneserNeyScore(train, eval).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // unseen context → pure continuation probability
      assert(got(100L) == r6(r9(math.log((1 + 1.0) / 10.0))), s"${got(100L)}")
      assert(got(101L) == r6(r9(math.log((3 + 1.0) / 10.0))), s"${got(101L)}")
      assert(got(101L) > got(100L),
        "KN must rank the multi-context word above the single-context frequent one")
      // seen bigram: discounted ML + interpolated continuation
      val pSeen = (5.0 - 0.75) / 5.0 + 0.75 * 1.0 / 5.0 * ((1 + 1.0) / 10.0)
      assert(got(102L) == r6(r9(math.log(pSeen))), s"${got(102L)} vs $pSeen")
      assert(got(102L) > got(100L), "a seen bigram must outscore its unseen-context twin")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("charEntropy: degenerate and uniform distributions hit their closed forms") {
    import spark.implicits._
    val docs = Seq((1L, "aaaaaaaa"), (2L, "abababab"), (3L, "abcd"), (4L, ""))
      .toDF("doc_id", "text")
    try {
      val got = Text.charEntropy(docs).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(1L) == ((8L, 1L, 0.0)), s"${got(1L)}")        // single char → H = 0
      // uniform over 2 chars → ln 2; over 4 chars → ln 4 (modulo pinning)
      assert(got(2L)._3 == r6(-2 * r9(0.5 * math.log(0.5))), s"${got(2L)}")
      assert(got(3L)._3 == r6(-4 * r9(0.25 * math.log(0.25))), s"${got(3L)}")
      assert(math.abs(got(3L)._3 - math.log(4.0)) < 1e-5)
      // empty doc: the guarded HOF chain never touches the descending
      // sequence(1, 0) — exact (0, 0, +0.0), matching the oracle's CASE
      assert(got(4L) == ((0L, 0L, 0.0)), s"${got(4L)}")
      assert(java.lang.Double.doubleToRawLongBits(got(4L)._3) == 0L,
        "empty-doc entropy must be +0.0, not -0.0")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("bleuDerivedPairs: an empty token array yields an EMPTY candidate, not [null]") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", Seq.empty[String]),
      (2L, "s", Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9",
        "t10", "t11", "t12"))).toDF("doc_id", "source", "t")
    try {
      val got = Text.bleuDerivedPairs(docs).collect()
        .map(r => r.getLong(1) -> r.getSeq[String](3)).toMap
      assert(got(1L).isEmpty, s"empty r must derive empty c, got ${got(1L)}")
      // non-empty path unchanged: i=7 dropped, i=11 masked to UNK
      assert(got(2L) == Seq("t1", "t2", "t3", "t4", "t5", "t6", "t8", "t9",
        "t10", "UNK", "t12"), s"${got(2L)}")
      assert(!got(2L).contains(null), "no null leakage from element_at")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("paragraphDupStats: distinct-doc df, within-doc repeats excluded, char fractions exact") {
    import spark.implicits._
    // doc 1 and 2 share paragraph "dup text here"; doc 3 repeats its own
    // paragraph twice (df = 1 distinct doc → NOT inter-doc duplicated)
    val docs = Seq(
      (1L, Seq("dup text here", "only in one")),
      (2L, Seq("dup text here", "unique two")),
      (3L, Seq("self rep", "self rep")))
      .toDF("doc_id", "paras")
    try {
      val rows = Text.paragraphDupStats(docs).collect()
        .map(r => r.getLong(0) -> r).toMap
      val m = rows(1L).schema.fieldNames.zipWithIndex.toMap
      // doc 1: dup para 13 chars of 24 total → fraction 13/24, keep 0 (> .5)
      assert(rows(1L).getLong(m("n_dup_paras")) == 1L &&
        rows(1L).getLong(m("dup_chars")) == 13L &&
        rows(1L).getLong(m("total_chars")) == 24L, s"${rows(1L)}")
      assert(rows(1L).getDouble(m("dup_char_fraction")) ==
        BigDecimal(13.0 / 24).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(rows(1L).getLong(m("keep")) == 0L, s"${rows(1L)}")
      // doc 3: self-repeat only → zero inter-doc duplication, keep 1
      assert(rows(3L).getLong(m("n_dup_paras")) == 0L &&
        rows(3L).getLong(m("dup_chars")) == 0L &&
        rows(3L).getLong(m("keep")) == 1L, s"${rows(3L)}")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("minhashErrorReport: identical docs estimate 1 exactly; errors stay in the k=16 envelope") {
    import spark.implicits._
    // identical docs: every min-hash agrees → est 1.0, err 0
    val twins = Seq((1L, "a b c d e f g h", "A"), (2L, "a b c d e f g h", "A"))
      .toDF("doc_id", "text", "source")
    try {
      val t = Text.minhashErrorReport(twins).collect()
      assert(t.length == 1, s"${t.toSeq}")
      val m = t.head.schema.fieldNames.zipWithIndex.toMap
      assert(t.head.getDouble(m("jaccard")) == 1.0 &&
        t.head.getLong(m("n_agree")) == 16L &&
        t.head.getDouble(m("est_jaccard")) == 1.0 &&
        t.head.getDouble(m("abs_err")) == 0.0, s"${t.head}")

      // a J = 0.5 planted pair: exact side pinned, estimator side
      // internally consistent (est = n_agree/16, err = |est − J|)
      val half = Seq((1L, "a b c d e", "A"), (2L, "a b c d f", "A"))
        .toDF("doc_id", "text", "source")
      val h = Text.minhashErrorReport(half).collect()
      assert(h.length == 1 && h.head.getDouble(m("jaccard")) == 0.5, s"${h.toSeq}")
      val (na, est, err) = (h.head.getLong(m("n_agree")),
        h.head.getDouble(m("est_jaccard")), h.head.getDouble(m("abs_err")))
      assert(est == na / 16.0 && math.abs(err - math.abs(est - 0.5)) < 1e-6, s"${h.head}")

      // on the real corpus the estimator must be unbiased-ish: every
      // estimate in [0,1], mean |err| well inside the √(J(1−J)/16) ≤ .125
      // envelope (3× slack for the small pair count)
      val rows = Text.minhashErrorReport(graft.core.Tables.documents(spark, sfDir))
        .collect()
      assert(rows.nonEmpty, "no candidate pairs on the gate corpus")
      rows.foreach { r =>
        val (nag, e) = (r.getLong(m("n_agree")), r.getDouble(m("est_jaccard")))
        assert(nag >= 0L && nag <= 16L && e >= 0.0 && e <= 1.0, s"$r")
      }
      val meanErr = rows.map(_.getDouble(m("abs_err"))).sum / rows.length
      assert(meanErr < 0.25, s"mean estimator error $meanErr out of envelope")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("heapsLaw: doc-order positions, saturating source flattens to beta 0, partition-invariant") {
    import spark.implicits._
    // source A: first 10 tokens distinct, then 90 repeats of 'a' →
    // every checkpoint ck ≥ 10 sees the full vocabulary: V constant 10,
    // beta exactly 0, intercept ln 10
    val sat = Seq((0L,
      ((0 until 10).map("w" + _) ++ Seq.fill(90)("w0")).mkString(" "), "A"))
      .toDF("doc_id", "text", "source")
    try {
      val r = Text.heapsLaw(sat).collect().head
      val m = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getLong(m("n_tokens")) == 100L && r.getLong(m("vocab")) == 10L, s"$r")
      assert(r.getDouble(m("beta")) == 0.0, s"flat curve expected: $r")
      assert(math.abs(r.getDouble(m("intercept")) - math.log(10.0)) < 1e-5, s"$r")

      // doc boundaries: global positions follow doc_id order — doc 1 is
      // [x y], doc 2 [x z]; checkpoints of N=4 are ck = 1,1,1,1,2,2,2,3,3,4
      // → V = 1,1,1,1,2,2,2,2,2,3. A driver least-squares over those
      // exact points must agree with the engine's fit digit for digit.
      val two = Seq((1L, "x y", "B"), (2L, "x z", "B"))
        .toDF("doc_id", "text", "source")
      val rb = Text.heapsLaw(two).collect().head
      val mb = rb.schema.fieldNames.zipWithIndex.toMap
      assert(rb.getLong(mb("n_tokens")) == 4L && rb.getLong(mb("vocab")) == 3L, s"$rb")
      def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val cks = (1 to 10).map(k => math.max(1L, (k * 4L) / 10))
      val vs = cks.map(ck => Seq(1L -> "x", 2L -> "y", 3L -> "x", 4L -> "z")
        .filter(_._1 <= ck).map(_._2).distinct.size)
      val xs = cks.map(c => r9(math.log(c.toDouble)))
      val ys = vs.map(v => r9(math.log(v.toDouble)))
      val n = 10.0
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (x, y) => r9(x * y) }.sum
      val sxx = xs.map(x => r9(x * x)).sum
      val num = n * sxy - sx * sy
      val denx = n * sxx - sx * sx
      val beta = BigDecimal(num / denx).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rb.getDouble(mb("beta")) == beta,
        s"engine beta ${rb.getDouble(mb("beta"))} vs driver $beta")

      // partitioning invariance on the real corpus: the two-level prefix
      // sum must produce the same positions (hence the same fit) at any
      // physical layout
      val corpus = graft.core.Tables.documents(spark, sfDir)
      val base = Text.heapsLaw(corpus).collect().map(_.toSeq).sortBy(_.head.toString)
      val rep = Text.heapsLaw(corpus.repartition(7)).collect()
        .map(_.toSeq).sortBy(_.head.toString)
      assert(base.sameElements(rep), "heapsLaw is partitioning-dependent")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("corpusBleu: hand-computed clipped counts, BP, and BLEU on a 14-token doc") {
    import spark.implicits._
    // derivation drops positions 7 and 14, UNKs position 11:
    // cand = [w1..w6, w8, w9, w10, UNK, w12, w13] (12 tokens vs ref 14)
    val docs = Seq((0L, (1 to 14).map("w" + _).mkString(" "), "A"))
      .toDF("doc_id", "text", "source")
    try {
      val r = Text.corpusBleu(Text.bleuDerivedPairs(docs)).collect().head
      val m = r.schema.fieldNames.zipWithIndex.toMap
      assert((r.getLong(m("c_len")), r.getLong(m("r_len"))) == ((12L, 14L)), s"$r")
      assert((r.getLong(m("m1")), r.getLong(m("t1"))) == ((11L, 12L)), s"uni: $r")
      assert((r.getLong(m("m2")), r.getLong(m("t2"))) == ((8L, 11L)), s"bi: $r")
      assert((r.getLong(m("m3")), r.getLong(m("t3"))) == ((5L, 10L)), s"tri: $r")
      assert((r.getLong(m("m4")), r.getLong(m("t4"))) == ((3L, 9L)), s"quad: $r")
      val bp = BigDecimal(math.exp(1.0 - 14.0 / 12.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(m("bp")) == bp, s"bp: ${r.getDouble(m("bp"))} vs $bp")
      def lp(a: Int, b: Int) = BigDecimal(math.log(a.toDouble / b))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val mean = (lp(11, 12) + lp(8, 11) + lp(5, 10) + lp(3, 9)) / 4.0
      val exp = BigDecimal(bp * BigDecimal(math.exp(mean))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(m("bleu")) == exp,
        s"bleu: ${r.getDouble(m("bleu"))} vs $exp")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("corpusBleu: identical pairs score 1.0; clipping zeroes an order → BLEU 0") {
    import spark.implicits._
    val same = Seq(("A", 0L, Seq("a", "b", "c", "d", "e")))
      .toDF("source", "doc_id", "r")
      .withColumn("c", org.apache.spark.sql.functions.col("r"))
    val clip = Seq(("B", 1L, Seq("a", "b", "c", "d"), Seq("a", "a", "a", "a", "a")))
      .toDF("source", "doc_id", "r", "c")
    try {
      val r1 = Text.corpusBleu(same).collect().head
      val m1 = r1.schema.fieldNames.zipWithIndex.toMap
      assert(r1.getDouble(m1("bleu")) == 1.0 && r1.getDouble(m1("bp")) == 1.0, s"$r1")
      val r2 = Text.corpusBleu(clip).collect().head
      val m2 = r2.schema.fieldNames.zipWithIndex.toMap
      // cand "a"×5 clips to ref's single "a" → m1 = 1 of 5; no cand
      // bigram matches → BLEU short-circuits to 0 (no −inf)
      assert((r2.getLong(m2("m1")), r2.getLong(m2("t1"))) == ((1L, 5L)), s"$r2")
      assert(r2.getLong(m2("m2")) == 0L && r2.getDouble(m2("bleu")) == 0.0, s"$r2")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("dirichletQL: planted corpus matches the driver twin; no-match docs never rank") {
    import spark.implicits._
    def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r12(v: Double) = BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq(
      (1L, "cat dog cat"),           // dl 3, tf(cat)=2, tf(dog)=1
      (2L, "cat mouse bird fish"),   // dl 4, tf(cat)=1
      (3L, "tree rock")              // no query term → must not appear
    ).toDF("doc_id", "text")
    try {
      val mu = 2000.0
      val tot = 9.0
      val mupc = Map("cat" -> r12(mu * 3 / tot), "dog" -> r12(mu * 1 / tot))
      val cq = (BigDecimal(r9(math.log(mupc("cat")))) +
        BigDecimal(r9(math.log(mupc("dog"))))).toDouble
      def score(tf: Map[String, Long], dl: Long): Double = {
        val ms = tf.map { case (w, c) =>
          BigDecimal(r9(math.log(1.0 + c.toDouble / mupc(w)))) }.sum.toDouble
        r6(ms + cq - 2.0 * r9(math.log(dl + mu)))
      }
      val want = Map(
        1L -> ((2L, score(Map("cat" -> 2L, "dog" -> 1L), 3L))),
        2L -> ((1L, score(Map("cat" -> 1L), 4L))))
      val got = Text.dirichletQL(docs, Seq("cat", "dog"), k = 10)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == want, s"got $got want $want")
      // more matched terms AND higher tf must outrank fewer/lower at equal-ish dl
      assert(want(1L)._2 > want(2L)._2, s"ql ordering inverted: $want")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("rougeL: hand-computed LCS cases, identity pair scores 1.0") {
    import spark.implicits._
    // g1: r="a b c d", c="a x c" → LCS {a,c} = 2; R=2/4, P=2/3,
    //     F = 2·(1/2)·(2/3)/(7/6) = 4/7
    // g2: r="a b a", c="a a" → LCS 2 (subsequence, not substring)
    // g3: identity → LCS = |r|, R = P = F = 1
    val pairs = Seq(
      ("g1", Seq("a", "b", "c", "d"), Seq("a", "x", "c")),
      ("g2", Seq("a", "b", "a"), Seq("a", "a")),
      ("g3", Seq("p", "q", "r"), Seq("p", "q", "r"))
    ).toDF("source", "r", "c")
    val got = Text.rougeL(pairs).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5), x.getDouble(6)))).toMap
    assert(got("g1") == ((2L, 4L, 3L, 0.5, 0.666667, 0.571429)), s"$got")
    assert(got("g2") == ((2L, 3L, 2L, 0.666667, 1.0, 0.8)), s"$got")
    assert(got("g3") == ((3L, 3L, 3L, 1.0, 1.0, 1.0)), s"$got")
    // empty candidate: LCS 0, precision guard → all zeros
    val empty = Seq(("e", Seq("a", "b"), Seq.empty[String])).toDF("source", "r", "c")
    val e = Text.rougeL(empty).collect().head
    assert((e.getLong(1), e.getDouble(4), e.getDouble(6)) == ((0L, 0.0, 0.0)), s"$e")
  }

  test("packingSweep: hand-computed bin counts and fill factors per grid size") {
    import spark.implicits._
    try {
      // three 10-token docs: start offsets 0, 10, 20. size 16 → bins
      // {0, 0, 1} = 2 bins, fill 30/32; size 64 → 1 bin, fill 30/64.
      val docs = Seq(
        (1L, "L", Seq.fill(10)("w").mkString(" ")),
        (2L, "L", Seq.fill(10)("w").mkString(" ")),
        (3L, "L", Seq.fill(10)("w").mkString(" "))
      ).toDF("doc_id", "lang", "text")
      val got = Text.packingSweep(docs, Seq(16, 64)).collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
      assert(got == Map(
        16L -> ((3L, 30L, 2L, 0.9375)),
        64L -> ((3L, 30L, 1L, 0.46875))), s"$got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("filterFunnel: one planted casualty per stage, monotone columns") {
    import spark.implicits._
    try {
      val sent = "the quick brown fox jumps over the lazy dog."
      val clean = Seq.fill(7)(sent).mkString(" ")          // passes everything
      val braced = clean + " {"                            // dies at C4
      val short = "short text."                            // dies at Gopher
      val elliptic = Seq.fill(3)(sent).mkString(" ") + "...\n" +
        Seq.fill(3)(sent).mkString(" ")                    // dies at line rules
      val docs = Seq(
        (1L, "S", clean), (2L, "S", clean),                // 2 = exact dup of 1
        (3L, "S", braced), (4L, "S", short), (5L, "S", elliptic))
        .toDF("doc_id", "source", "text")
      val r = Text.filterFunnel(docs).collect().head
      assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)) == (("S", 5L, 4L, 3L, 2L, 1L)), s"$r")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("temperatureSweep: grid endpoints bracket the mix, powers-of-sqrt are exact") {
    import spark.implicits._
    try {
      // sources with 4^k token counts make every composed-sqrt power an
      // exact integer: n = 16 → n^(1/4)·10³ = 2000, n^(1/2)·10³ = 4000,
      // n^(3/4)·10³ = 8000, n = 16; n = 256 → 4000, 16000, 64000, 256.
      val docs = Seq(
        (1L, "A", ("x " * 16).trim), (2L, "B", ("y " * 256).trim)
      ).toDF("doc_id", "source", "text")
      val got = Text.temperatureSweep(docs, budget = 1000L)
        .collect().map(r => (r.getDouble(0), r.getString(1)) ->
          ((r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
      assert(got((0.25, "A"))._1 == 2000L && got((0.25, "B"))._1 == 4000L, s"$got")
      assert(got((0.5, "A"))._1 == 4000L && got((0.5, "B"))._1 == 16000L, s"$got")
      assert(got((0.75, "A"))._1 == 8000L && got((0.75, "B"))._1 == 64000L, s"$got")
      assert(got((1.0, "A"))._1 == 16L && got((1.0, "B"))._1 == 256L, s"$got")
      // flattening monotonicity: the minority source's share grows as α falls
      val shareA = Seq(1.0, 0.75, 0.5, 0.25).map(a => got((a, "A"))._2)
      assert(shareA == shareA.sorted,
        s"minority share must rise as alpha falls: $shareA")
      // α=1 is exactly proportional: 1000·16/272 = 58, 1000·256/272 = 941
      assert(got((1.0, "A"))._3 == 58L && got((1.0, "B"))._3 == 941L, s"$got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("bloomFprReport: full parity with a driver twin on the corpus split") {
    try {
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def poly(s: String): Long =
        s.foldLeft(0L)((a, c) => (a * 31L + c.toInt) % (1L << 20))
      def bucket(i: Long, h: Long): Long =
        ((2 * i + 1) * h + (1000 * i + 7)) % 1048573L % 1024L
      val texts = graft.core.Tables.documents(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val members = texts.filter(_._1 % 2 == 0).map(t => md5hex(t._2)).distinct
      val bits = members.flatMap(s => (0L until 4L).map(i => bucket(i, poly(s)))).distinct.toSet
      val probes = texts.filter(_._1 % 2 == 1).map(t => md5hex(t._2)).distinct
        .filterNot(members.toSet)
      val fp = probes.count(s => (0L until 4L).forall(i => bits(bucket(i, poly(s)))))
      val r = Text.qBloomFpr(spark, sfDir).collect().head
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
        ((members.length.toLong, bits.size.toLong, probes.length.toLong, fp.toLong)),
        s"driver twin diverged: $r vs (${members.length}, ${bits.size}, ${probes.length}, $fp)")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("cmsErrorReport: width-1 collapses to N, wide sketches are exact, est >= exact always") {
    import spark.implicits._
    try {
      val docs = Seq((1L, "a a b c")).toDF("doc_id", "text")
      // width 1: every token shares the one cell per row → est = N = 4
      val w1 = Text.cmsErrorReport(docs, depth = 4, width = 1, topK = 10)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(w1 == Map("a" -> ((2L, 4L, 2L)), "b" -> ((1L, 4L, 3L)),
        "c" -> ((1L, 4L, 3L))), s"$w1")
      // width 256 over 3 types: no collisions → est = exact, overcount 0
      val w256 = Text.cmsErrorReport(docs, depth = 4, width = 256, topK = 10)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(w256.forall { case (c, est, over) => est == c && over == 0L },
        s"${w256.toSeq}")
      // CMS invariant on the real corpus at the gate width: est >= exact
      val gate = Text.qCmsError(spark, sfDir).collect()
      assert(gate.nonEmpty && gate.forall(r => r.getLong(2) >= r.getLong(1)),
        "CMS one-sided error violated")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("jelinekMercerScore: closed-form mixture and the unseen-history fallback") {
    import spark.implicits._
    def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    try {
      // train "a b a b": ML(b|a) = 2/2 = 1, add-1 unigram P(b) = 3/6.
      // eval "a b": p = 0.7·1 + 0.3·0.5 = 0.85.
      // eval "z q": unseen history z → pure unigram fallback (0+1)/6.
      val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
      val eval_ = Seq((1L, "a b"), (3L, "z q")).toDF("doc_id", "text")
      val got = Text.jelinekMercerScore(train, eval_)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == Map(
        1L -> ((1L, r6(r9(math.log(0.7 * 1.0 + 0.3 * 0.5))))),
        3L -> ((1L, r6(r9(math.log(1.0 / 6.0)))))), s"$got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("jelinekMercerScore: rejects weights outside (0, 1) or not summing to 1") {
    import spark.implicits._
    // with lambda = 1 the seen history "a" followed by the unseen "z"
    // gets p = 0; ln 0 is NULL, so the mean would drop that position from
    // its sum but not from its count
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val eval_ = Seq((1L, "a z")).toDF("doc_id", "text")
    for ((l, m) <- Seq((1.0, 0.0), (0.0, 1.0), (1.5, -0.5), (0.7, 0.2), (0.7, 0.3 + 2e-9)))
      intercept[IllegalArgumentException](Text.jelinekMercerScore(train, eval_, l, m))
    // a non-default pair summing to 1 still scores
    try assert(Text.jelinekMercerScore(train, eval_, 0.6, 0.4).count() == 1L)
    finally graft.core.InternalCaches.release(spark)
  }

  test("retrieval rankers: reject parameters that give silently wrong output") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog cat"), (2L, "cat mouse")).toDF("doc_id", "text")
    val terms = Seq("cat", "dog")
    try {
      // rm3: a weight pair that does not sum to 1, or a weight outside (0, 1)
      for ((a, m) <- Seq((0.7, 0.2), (1.0, 0.0), (0.0, 1.0), (1.2, -0.2)))
        intercept[IllegalArgumentException](Text.rm3Bm25(docs, terms, alpha = a, oneMinusAlpha = m))
      intercept[IllegalArgumentException](Text.rm3Bm25(docs, terms, alpha = 0.7))
      // dirichletQL: mu <= 0 makes ln(mu·P(w|C)) NULL
      for (mu <- Seq(-1.0, 0.0))
        intercept[IllegalArgumentException](Text.dirichletQL(docs, terms, mu = mu))
      // BM25: k1 >= 0 and 0 <= b <= 1, checked once in the kernel
      for ((k1, b) <- Seq((-0.1, 0.75), (1.2, -0.1), (1.2, 1.5))) {
        intercept[IllegalArgumentException](Text.bm25(docs, terms, k1 = k1, b = b))
        intercept[IllegalArgumentException](Text.ndcgEval(docs, terms, k1 = k1, b = b))
        intercept[IllegalArgumentException](Text.mrrEval(docs, terms, k1 = k1, b = b))
        intercept[IllegalArgumentException](Text.rm3Bm25(docs, terms, k1 = k1, b = b))
        intercept[IllegalArgumentException](Text.bm25FromIndex(
          Text.invertedIndex(docs), Text.docLengths(docs), terms, k1 = k1, b = b))
      }
      // the bounds themselves are valid
      assert(Text.bm25(docs, terms, k1 = 0.0, b = 1.0).count() == 2L)
      assert(Text.dirichletQL(docs, terms, mu = 0.5).count() == 2L)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("mrrEval: rank-1 relevant scores rr=1, no-relevant terms guard to 0") {
    import spark.implicits._
    try {
      // "cat": doc 1 (tf 2, dl 3) is relevant and outranks doc 2 (tf 1,
      // dl 4) on both tf and length → first_rel_rank 1, rr 1.0.
      // "dog": appears once → retrieved but never relevant → all zeros.
      val docs = Seq((1L, "cat cat dog"), (2L, "cat y z w"))
        .toDF("doc_id", "text")
      val got = Text.mrrEval(docs, Seq("cat", "dog"), k = 10)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got == Map("cat" -> ((1L, 1L, 1.0)), "dog" -> ((0L, 0L, 0.0))),
        s"$got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("featureHashReport: hand-computed buckets, signs and signed mass") {
    import spark.implicits._
    // h("a") = 97 → bucket 33, (97 div 64) % 2 = 1 → sign −1
    // h("ab") = 97·31 + 98 = 3105 → bucket 33, (3105 div 64) = 48 → sign +1
    // h("b") = 98 → bucket 34, sign −1
    // counts: a×2, ab×3, b×1 ⇒ bucket 33 = (2 types, 5 occ, −2+3 = 1),
    // bucket 34 = (1, 1, −1) — the signed collision cancellation is the
    // thing being tested.
    val docs = Seq((1L, "a ab a ab ab b")).toDF("doc_id", "text")
    val got = Text.featureHashReport(docs, buckets = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(33L -> ((2L, 5L, 1L)), 34L -> ((1L, 1L, -1L))), s"$got")
  }

  test("splitLeakage on the planted synthetic corpus: every plant is a near leak") {
    // the BIG split_leakage_1m anchor's ground truth at 1/100 scale: the
    // plants (one mid-doc token swap) are the eval split — all of them
    // leak at the 8-gram near tier (both flanks survive the swap), the
    // exact tier fires only on ~1-in-5000 swapped-token collisions
    try {
      val docs = graft.sources.SyntheticDocs.planted(spark, nBase = 10000L,
        nPlant = 100L)
      val got = Text.splitLeakage(
          docs.withColumnRenamed("lang", "source"),
          org.apache.spark.sql.functions.col("doc_id") >= 10000L, n = 8)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got.size == 4, s"$got")
      got.foreach { case (lang, (nEval, nExact, nNear)) =>
        assert(nEval == 25L && nNear == 25L && nExact <= 1L,
          s"$lang: ($nEval, $nExact, $nNear) want (25, <=1, 25)")
      }
    } finally graft.core.InternalCaches.release(spark)
  }

  test("lexicalDiversity: TTR, hapax fraction and Yule's K match hand counts") {
    import spark.implicits._
    // s1 token counts: a:2 b:2 c:1 → N=5, V=3, hapax=1, Σc²=9 ⇒
    // TTR 0.6, hapax 1/3, K = 10⁴·(9−5)/25 = 1600. s2 is all-hapax:
    // Σc²=N ⇒ K = 0 exactly — the repeat-free lower bound.
    val docs = Seq(
      (1L, "s1", "a a b"), (2L, "s1", "b c"),
      (3L, "s2", "x y z")).toDF("doc_id", "source", "text")
    val got = Text.lexicalDiversity(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got("s1") == (((5L, 3L, 1L, 0.6, 0.333333, 1600.0))), s"$got")
    assert(got("s2") == (((3L, 3L, 3L, 1.0, 1.0, 0.0))), s"$got")
  }

  test("token counts on an edge corpus equal a plain split(\" \", -1) count") {
    import spark.implicits._
    // "a  b" holds an empty token between its two spaces, "b " a trailing
    // one, and an empty text is one empty token; "😀" is one non-BMP token
    val rows = Seq(
      (1L, "s1", "a  b"), (2L, "s1", "b "), (3L, "s1", ""),
      (4L, "s2", "😀 x 😀"), (5L, "s2", "x"), (6L, "s3", ""))
    val docs = rows.toDF("doc_id", "source", "text")
    def counts(texts: Seq[String]): Map[String, Long] =
      texts.flatMap(_.split(" ", -1)).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val want = rows.groupBy(_._2).map { case (src, rs) =>
      val c = counts(rs.map(_._3)).values
      src -> ((c.sum, c.size.toLong, c.count(_ == 1L).toLong))
    }
    val got = Text.lexicalDiversity(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"lexicalDiversity: got $got, want $want")
    // cap ≥ vocab: every token, ordered (freq desc, token asc); these
    // tokens order the same by UTF-16 units and by UTF-8 bytes
    val vocab = Text.buildVocab(docs, cap = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val wantVocab = counts(rows.map(_._3)).toSeq.sortBy { case (t, f) => (-f, t) }
      .zipWithIndex.map { case ((t, f), i) => (i + 1L, t, f) }
    assert(vocab == wantVocab, s"buildVocab: got $vocab, want $wantVocab")
  }

  test("splitLeakage: verbatim, shared-shingle and clean eval docs are tiered exactly") {
    import spark.implicits._
    try {
      // train: docs 1, 2. eval (id ≥ 100): 100 is a verbatim copy of 1
      // (exact + near), 101 shares only the bigram "z w" (near only),
      // 102 is clean. n=2 so every doc clears the length filter.
      val docs = Seq(
        (1L, "A", "x y z w"), (2L, "A", "p q r s"),
        (100L, "A", "x y z w"), (101L, "A", "z w a b"),
        (102L, "A", "m n o u")).toDF("doc_id", "source", "text")
      val r = Text.splitLeakage(docs, org.apache.spark.sql.functions.col("doc_id") >= 100L, n = 2)
        .collect().head
      assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)) ==
        (("A", 3L, 1L, 2L, 0.333333, 0.666667)), s"$r")
      // sources with zero leaks coalesce to 0 counts, not NULL
      val clean = Seq((1L, "B", "h i j k"), (100L, "B", "d e f g"))
        .toDF("doc_id", "source", "text")
      val rc = Text.splitLeakage(clean, org.apache.spark.sql.functions.col("doc_id") >= 100L, n = 2)
        .collect().head
      assert((rc.getString(0), rc.getLong(1), rc.getLong(2), rc.getLong(3)) ==
        (("B", 1L, 0L, 0L)), s"$rc")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q187 wordpieceTrain: likelihood argmax diverges from BPE's count argmax (planted corpus)") {
    import spark.implicits._
    try {
      // plant: pair (a,x) is the most FREQUENT (cnt 80) but its symbols
      // are common (c(a)=90, c(x)=80 → score18 = 80e18/7200 ≈ 1.1e16);
      // pair (c,d) is rarer (cnt 9) but its symbols occur ONLY together
      // (c(c)=c(d)=9 → score18 = 9e18/81 ≈ 1.1e17) — the likelihood
      // trainer must pick (c,d) where raw count picks (a,x)
      val docs = Seq((1L, ("ax " * 80 + "ab " * 10 + "cd " * 9).trim))
        .toDF("doc_id", "text")
      val wp = graft.ops.Text.wordpieceTrain(docs, nMerges = 1).collect()
      assert(wp.length == 1 &&
        (wp(0).getString(1), wp(0).getString(2), wp(0).getString(3)) == (("c", "d", "cd")),
        s"wordpiece picked ${wp.toSeq} (want the likelihood merge c+d)")
      assert(wp(0).getLong(4) == 9L, s"cnt should be the pair count 9: ${wp.toSeq}")
      // score18 = floor(9e18 / 81) exactly
      assert(wp(0).getLong(5) == 9000000000000000000L / 81L, s"score18 off: ${wp.toSeq}")
      val bpe = graft.ops.Text.bpeTrain(docs, nMerges = 1).collect()
      assert((bpe(0).getString(1), bpe(0).getString(2)) == (("a", "x")),
        s"count trainer picked ${bpe.toSeq} (want a+x) — the plant is broken")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q188 wordpiece inference: frozen likelihood merges replay; OOV stays character-split") {
    import spark.implicits._
    try {
      val docs = Seq(
        (0L, ("ax " * 80 + "ab " * 10 + "cd " * 9).trim), // train half
        (1L, "cd cd zq")                                  // eval half
      ).toDF("doc_id", "text")
      val merges = graft.ops.Text
        .wordpieceTrain(docs.filter("doc_id % 2 = 0"), nMerges = 1)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      assert(merges == Seq(("c", "d")),
        s"trainer picked $merges (want the likelihood merge c+d)")
      val hist = graft.ops.Text
        .bpeApplyMerges(docs.filter("doc_id % 2 = 1"), merges)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // "cd" replays the frozen merge; "zq" is OOV and stays split
      assert(hist == Map("cd" -> 2L, "z" -> 1L, "q" -> 1L), s"got $hist")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q187 wordpieceTrain: merged symbols compound across iterations and the loop exhausts") {
    import spark.implicits._
    try {
      // one word "abc" x4: iter1 merges the max-score pair, iter2 merges
      // the survivor with the new compound symbol, iter3 finds no pair
      // left (every word fully merged) and stops early
      val docs = Seq((1L, "abc abc abc abc")).toDF("doc_id", "text")
      val wp = graft.ops.Text.wordpieceTrain(docs, nMerges = 5).collect()
      assert(wp.length == 2, s"want 2 merges then exhaustion, got ${wp.toSeq}")
      assert(wp(1).getString(3) == "abc",
        s"second merge should rebuild the whole word: ${wp.toSeq}")
      // every merge's pair count is the word frequency
      assert(wp.forall(_.getLong(4) == 4L), s"pair counts off: ${wp.toSeq}")
    } finally graft.core.InternalCaches.release(spark)
  }
}
