package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.functions.EngineMath
import graft.plans.TopK

/** Text-analysis and deduplication operators for a training-data pipeline,
  * over the `documents` table: token counting (whitespace + BPE-ish regex),
  * quality scoring, stopword/punctuation ratios, language-ID heuristic,
  * exact dedup (content hash), n-gram Jaccard near-dup, MinHash+LSH
  * near-dup, SimHash, and rolling-hash fingerprints.
  *
  * All set-oriented work is declarative (explode → equi-join → agg) so it
  * scales: the LSH path in particular replaces the O(n²) all-pairs Jaccard
  * with band-bucket equi-joins — at 100 TB the all-pairs formulation is
  * infeasible while banding stays linear in candidates.
  *
  * The near-dup family (q34, q35, q36, q121, q133, q142, q149; q58/q82
  * via q35) runs candidate-then-verify on one pair kernel: `sharedKeyPairs`,
  * `bothSides`, `jaccardVerified`, `cappedShingles` and `minHashBands`.
  *
  * Tokens come from one split rule, `withTokens` (also called by Pipeline
  * and StreamJoins), and every per-token occurrence count is one
  * `tokenCounts` call.
  */
object Text {

  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** The one tokenization rule: `t` = `text` split on single spaces, empty
    * tokens kept (`"a  b"` → `a`, `""`, `b`). Idempotent: a frame that
    * already carries a `t` column (e.g. the pipeline's cached tokenized
    * corpus, or a shingle stream) is passed through untouched, so composed
    * operators never re-tokenize work a caller has already done/cached.
    * Per-token counts over it go through [[tokenCounts]]. */
  private[graft] def withTokens(docs: DataFrame): DataFrame =
    if (docs.columns.contains("t")) docs
    else docs.withColumn("t", split(col("text"), " "))

  /** The one per-token count: (keys…, w, `name`), one row per distinct
    * (keys…, token w) of `docs`' tokens with its occurrence count. Grouping
    * is by the selected names, so a key may be an aliased expression. */
  private def tokenCounts(docs: DataFrame, keys: Column*)(name: String): DataFrame = {
    val ex = withTokens(docs).select(keys :+ explode(col("t")).as("w"): _*)
    ex.groupBy(ex.columns.map(col): _*).agg(count(lit(1)).as(name))
  }

  /** The held-out split of the train/eval gates: `op(train, eval)` over
    * `documents`, trained on the doc_id-even half and evaluated on the
    * odd half. */
  private def heldOut(s: SparkSession, dir: String)(
      op: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.documents(s, dir)
    op(docs.filter(expr("doc_id % 2 = 0")), docs.filter(expr("doc_id % 2 = 1")))
  }

  private def withShingles(docs: DataFrame): DataFrame =
    withTokens(docs)
      .filter(size(col("t")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(t) - 2), " +
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))"))

  /** Distinct hashed 3-gram shingles via the native one-pass expression
    * (graft.functions.ShingleHashes) — set-identical to the string form,
    * ~10× cheaper. Used by every count-based consumer (Jaccard, MinHash). */
  private[graft] def withHashedShingles(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    withTokens(docs)
      .filter(size(col("t")) >= 3)
      .withColumn("hs", expr("graft_shingles(t, 3)"))
  }

  // ------------------------------------------------- near-dup pair kernel

  /** The candidate self equi-join: the (d1, d2) pairs, d1 < d2, of `rows`
    * (doc_id, keys…) that agree on every key, one row per shared key tuple.
    * Each other column c of `rows` rides along as c1 and c2. */
  private def sharedKeyPairs(rows: DataFrame, keys: String*): DataFrame = {
    val carried = rows.columns.filterNot(c => c == "doc_id" || keys.contains(c))
    rows.as("a")
      .join(rows.as("b"), keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1") +: col("b.doc_id").as("d2") +:
        carried.flatMap(c => Seq(col(s"a.$c").as(s"${c}1"), col(s"b.$c").as(s"${c}2"))): _*)
  }

  /** `pairs` (d1, d2, …) with column `c` of `per` (doc_id, c) as c1 and c2. */
  private def bothSides(pairs: DataFrame, per: DataFrame, c: String): DataFrame =
    pairs
      .join(per.select(col("doc_id").as("d1"), col(c).as(s"${c}1")), "d1")
      .join(per.select(col("doc_id").as("d2"), col(c).as(s"${c}2")), "d2")

  /** The exact J ≥ 0.5 check of candidates `cands` (d1, d2) over the hashed
    * shingle sets `sets` (doc_id, hs): (d1, d2, jaccard). */
  private def jaccardVerified(cands: DataFrame, sets: DataFrame): DataFrame =
    bothSides(cands, sets, "hs")
      .withColumn("jaccard",
        size(array_intersect(col("hs1"), col("hs2"))).cast(DoubleType) /
        size(array_union(col("hs1"), col("hs2"))))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("jaccard"))

  /** The rows of `sh` (doc_id, h, …) whose shingle h has df ≤ maxDf,
    * repartitioned by h and persisted. The cap bounds a boilerplate
    * shingle's pair work by maxDf², so every h key is skew-safe. The
    * repartition comes before the persist so that the pair self-join reads
    * both sides co-partitioned by h: one build-time exchange replaces two
    * join-side ones, since AQE hides a cached plan's own partitioning
    * (q133 steady 1.48 → 0.98 s at sf0.1 on 8 cores). At 32 cores AQE
    * broadcasts the pair join instead and the exchange costs (q133 1.26 →
    * 2.77 s); a size gate for it belongs here. */
  private def cappedShingles(sh: DataFrame, maxDf: Long): DataFrame = {
    val keep = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("h"))
    graft.core.InternalCaches.persist(
      sh.join(keep, Seq("h"), "leftsemi").repartition(col("h")))
  }

  /** The MinHash banding rule of the batch and streaming LSH paths:
    * `sig(i)`, i < 32, is the minimum of xxhash64(i, h) over a document's
    * hashed shingles; band b of 16 is keyed xxhash64(b, sig(2b), sig(2b+1)). */
  private[graft] def minHashBands(sig: Int => Column): Column =
    array((0 until MinHashSeeds / 2).map(b => xxhash64(lit(b), sig(2 * b), sig(2 * b + 1))): _*)

  private val MinHashSeeds = 32

  // ------------------------------------------------------------ token stats

  /** Whitespace + BPE-ish regex token counts, per language. */
  def qTokenStats(s: SparkSession, dir: String): DataFrame =
    withTokens(Tables.documents(s, dir))
      .select(col("lang"), size(col("t")).as("n_tok"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_bpe"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).cast(LongType).as("sum_tok"),
           sum(col("n_bpe")).cast(LongType).as("sum_bpe"),
           sum(col("n_chars")).cast(LongType).as("sum_chars"))

  /** Per-document quality features: token/stopword/punct ratios. */
  /** Per-document character-distribution Shannon entropy — the cheap
    * gibberish / encoding-noise signal beside the q31 ratio battery (low
    * entropy = repeated-character spam, high entropy near ln(alphabet) =
    * random bytes; natural text sits in a band). Entirely a per-row
    * projection: the histogram folds over the SORTED distinct-character
    * array (both engines sort byte-identically on this corpus), each
    * −p·ln p term rounds to 9, the fold runs left-to-right in that fixed
    * order, finish rounds to 6 — no explode, no shuffle, rides any scan
    * at any corpus size. Empty documents yield (text_len 0, n_distinct 0,
    * entropy 0.0) on BOTH engines.
    *
    * Round 16: the row stage is the native codegen'd `graft_entropy`
    * ([[graft.functions.CharEntropyStat]]) — the earlier
    * array_sort → filter → transform → aggregate HOF tower was
    * CodegenFallback and degraded under megamorphic dispatch exactly
    * like quantize_1m did (q154 drifted 3.1 → 3.9 s in the r15 sweep
    * with the operator untouched — the advisor-flagged early
    * signature). The kernel sorts code points (= array_sort order on
    * single-char strings), folds run lengths through the identical
    * round-9 −p·ln p stream, and rounds the negated sum to 6 —
    * hash-parity with the HOF chain is asserted in FunctionsSpec and
    * the q154 gate hash is unchanged at every tier. */
  def charEntropy(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("es", expr("graft_entropy(text)"))
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("text_len"),
        col("es.n_distinct").as("n_distinct"),
        col("es.entropy").as("entropy"))
  }

  def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    charEntropy(Tables.documents(s, dir))

  def qQuality(s: SparkSession, dir: String): DataFrame = {
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    withTokens(Tables.documents(s, dir))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tok"),
        expr(s"size(filter(t, x -> x IN ($stopList)))").as("n_stop"),
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("n_punct"),
        col("n_chars"))
      .withColumn("stop_ratio", col("n_stop").cast(DoubleType) / col("n_tok"))
      .withColumn("avg_tok_len", col("n_chars").cast(DoubleType) / col("n_tok"))
  }

  /** Language-ID heuristic: per-language marker-token hit counts with a
    * deterministic argmax. (A real deployment swaps in char-trigram
    * profiles; the scoring/argmax plumbing is identical.) */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "la", "y", "es"),
    "de" -> Seq("der", "die", "und", "ist"))

  def qLangId(s: SparkSession, dir: String): DataFrame = {
    val base = withTokens(Tables.documents(s, dir))
    val scored = LangMarkers.foldLeft(base) { case (df, (lang, markers)) =>
      val list = markers.map(w => s"'$w'").mkString(", ")
      df.withColumn(s"s_$lang", expr(s"size(filter(t, x -> x IN ($list)))"))
    }
    scored.select(
        col("doc_id"), col("lang").as("label"),
        when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), lit("en"))
          .when(col("s_fr") >= col("s_es") && col("s_fr") >= col("s_de"), lit("fr"))
          .when(col("s_es") >= col("s_de"), lit("es"))
          .otherwise(lit("de")).as("pred"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  // ------------------------------------------------------------------ dedup

  /** Exact dedup by content hash: canonical doc per md5(text) group. */
  def qExactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"), min(col("canonical_id")).as("min_canonical"))

  /** Exact all-pairs n-gram Jaccard near-dup (J >= 0.5) via prefix
    * filtering (the AllPairs/PPJoin candidate scheme): shingles are ordered
    * by a global total order (document frequency ascending, then hash), and
    * a pair with J >= t must share a shingle inside both docs' prefixes of
    * length n − ⌈t·n⌉ + 1 — J >= t implies overlap >= ⌈t·n⌉ for each doc,
    * so if all shared shingles sat in a suffix of length ⌈t·n⌉ − 1 the
    * overlap bound would be violated. The candidate equi-join therefore
    * touches only prefix shingles: hot (high-DF) shingles sort last and
    * essentially never enter a prefix, which bounds the join skew that
    * makes the naive shared-shingle self-join quadratic on common n-grams.
    * Candidates are re-verified exactly on the full shingle sets, so the
    * output is identical to the naive baseline (kept as a test oracle). */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(s, dir))

  /** [[qNgramJaccard]] over an arbitrary documents-shaped frame (doc_id,
    * text[, t]) — the exact twin of [[minHashLshPairs]]. */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 64-bit shingle hashes, not strings: same set identity modulo a ~2^-40
    // collision chance, far cheaper to compute, shuffle and compare.
    // Persisted: the explode and both sides of the re-verify join consume
    // it, and Catalyst does not deduplicate self-join subtrees, so without
    // the persist one invocation re-scans and re-shingles the corpus 4×.
    val sh = graft.core.InternalCaches.persist(
      withHashedShingles(docs).select(col("doc_id"), col("hs")))
    // n (distinct shingles per doc) rides along from size(hs): no second
    // window pass, just the one row_number shuffle by doc_id
    val ex = sh.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("h").asc)
    // persisted: both sides of the candidate self-join consume this frame,
    // and without the persist each side re-runs the explode + document-
    // frequency join + row_number window (the expensive half of the query)
    val prefix = graft.core.InternalCaches.persist(
      ex.join(dfreq, "h")
        .withColumn("rn", row_number().over(byRarity))
        .filter(col("rn") <= floor(col("n") / 2) + 1) // t = 0.5 ⇒ n − ⌈n/2⌉ + 1
        .select(col("doc_id"), col("h")))
    jaccardVerified(sharedKeyPairs(prefix, "h").distinct(), sh)
  }

  /** MinHash + LSH near-dup: 32 xxhash64 min-hashes, 16 bands × 2 rows,
    * band-bucket equi-join for candidates, exact Jaccard re-verification on
    * candidates only. Linear in candidate pairs — the 100 TB path. The
    * output contract matches qNgramJaccard (J >= 0.5); banding at 16×2
    * catches J >= 0.8 pairs w.p. ~1-4e-8 and the re-verify removes false
    * positives, so on separated corpora the two agree exactly. */
  def qMinHashLsh(s: SparkSession, dir: String): DataFrame =
    minHashLshPairs(Tables.documents(s, dir))

  /** [[qMinHashLsh]] over an arbitrary documents-shaped frame (doc_id,
    * text[, t]) — lets composed pipelines (Pipeline.cleanCorpus) thread a
    * single cached tokenized corpus through instead of re-scanning and
    * re-tokenizing the source table per stage. */
  def minHashLshPairs(docs: DataFrame): DataFrame = {
    val (agg, banded) = lshAggAndBanded(docs)
    jaccardVerified(sharedKeyPairs(banded, "band", "bkey").distinct(), agg)
  }

  /** Hash number `i` of the cross-engine sketch family over the string
    * `s` (both SQL names in the caller's lambda): the affine map
    * ((2i+1)·h + 1000i+7) mod the prime 1048573 over h = graft_hash31(s,
    * 2²⁰), the q130 31-ary code-point polynomial that both engines
    * evaluate exactly. Registers graft_hash31 on the session. */
  private def sketchHash(spark: SparkSession, i: String, s: String): String = {
    graft.functions.GraftFunctions.register(spark)
    s"((2 * CAST($i AS BIGINT) + 1) * graft_hash31($s, ${1 << 20}) + " +
      s"(1000 * CAST($i AS BIGINT) + 7)) % 1048573"
  }

  /** MinHash Jaccard-ESTIMATOR error report — the sketch-calibration gate
    * a fuzzy-dedup deployment runs before trusting banded MinHash at a new
    * band/row setting: for every LSH candidate pair, the k-hash signature
    * estimate ĵ = |{i : minᵢ(A) = minᵢ(B)}|/k next to the exact Jaccard,
    * with the absolute error surfaced (E[ĵ] = J; spread ~ √(J(1−J)/k) —
    * if the observed errors blow past that, the hash family is broken).
    * The signature hashes are k affine maps over the q130 31-ary
    * code-point polynomial (mod 2²⁰, then mod the prime 1048573) — chosen
    * over xxhash64 because BOTH engines evaluate it exactly, so the gate
    * hash-matches the estimator itself, not just the exact side. k = 16
    * keeps ĵ = n_agree/16 an exact binary double.
    *
    * Scale shape: signatures are ONE scan — all k mins per doc ride a
    * single nested array expression (no explode, no shuffle); candidates
    * come from the audited banded-LSH join; the estimator comparison
    * ships two k-long arrays per candidate pair, constant work per pair. */
  def minhashErrorReport(docs: DataFrame, k: Int = 16): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2,64], got $k")
    val sigExpr = expr(s"transform(sequence(0, ${k - 1}), i -> " +
      s"array_min(transform(sh, s -> ${sketchHash(docs.sparkSession, "i", "s")})))")
    val sigs = graft.core.InternalCaches.persist(
      withShingles(docs).select(col("doc_id"), sigExpr.as("sig")))
    bothSides(minHashLshPairs(docs), sigs, "sig")
      .withColumn("n_agree", expr(
        "size(filter(zip_with(sig1, sig2, (x, y) -> x = y), b -> b))").cast(LongType))
      .withColumn("est_jaccard", col("n_agree").cast(DoubleType) / lit(k.toDouble))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 6))
      .select(col("d1"), col("d2"), col("jaccard"), col("n_agree"),
        col("est_jaccard"), col("abs_err"))
  }

  def qMinhashError(s: SparkSession, dir: String): DataFrame =
    minhashErrorReport(Tables.documents(s, dir))

  /** Count-min-sketch error calibration (Cormode & Muthukrishnan 2005) —
    * the q149 treatment applied to the OTHER workhorse sketch: build a
    * d×w CMS over the token stream with the engine's own cross-engine
    * hash family (the q149 affine-over-31-ary-polynomial maps, so —
    * unlike the q67 library sketches, which stay rows-only — the ENTIRE
    * sketch is oracle-reproducible and the gate hash-matches the
    * estimates, not just the exact side), then serve the top-K exact
    * heavy hitters back through it and report est − exact per token.
    * CMS guarantees est ≥ exact with overcount < εN at depth-many
    * chances; this gate MEASURES that overcount where a deployment would
    * otherwise trust the ε·N bound blindly.
    *
    * Scale shape: one corpus scan into the vocab-bounded count frame;
    * the d-row-per-token bucket explode rides that bounded frame into a
    * (d·w)-key rollup (the sketch itself — 1024 cells here); the top-K
    * cut is a bounded heap and the serve join is top-K×d rows against
    * the broadcast cell table. All integer end-to-end. */
  def cmsErrorReport(docs: DataFrame, depth: Int = 4, width: Int = 256,
                     topK: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 1, s"bad CMS ($depth x $width)")
    val bucketsExpr = expr(s"transform(sequence(0, ${depth - 1}), i -> " +
      s"struct(CAST(i AS BIGINT) AS d, (${sketchHash(docs.sparkSession, "i", "w")}) % $width AS b))")
    val counts = graft.core.InternalCaches.persist(tokenCounts(docs)("c"))
    val cells = counts
      .select(col("c"), explode(bucketsExpr).as("db"))
      .groupBy(col("db.d").as("d"), col("db.b").as("b"))
      .agg(sum(col("c")).cast(LongType).as("cell"))
    val top = TopK.perKey(counts.withColumn("g", lit(1)), Seq("g"),
        Seq(TopK.desc("c"), TopK.asc("w")), topK)
      .select(col("w"), col("c"))
    top
      .select(col("w"), col("c"), explode(bucketsExpr).as("db"))
      .join(broadcast(cells),
        col("db.d") === col("d") && col("db.b") === col("b"))
      .groupBy(col("w"), col("c"))
      .agg(min(col("cell")).cast(LongType).as("est"))
      .select(col("w"), col("c").as("exact"), col("est"),
        (col("est") - col("c")).cast(LongType).as("overcount"))
  }

  /** Gate: width 16 — the synthetic corpus has ~31 token types, so a
    * 256-wide sketch measures nothing (zero collisions); at width 16 the
    * pigeonhole forces real collisions and the overcount column earns
    * its keep. */
  def qCmsError(s: SparkSession, dir: String): DataFrame =
    cmsErrorReport(Tables.documents(s, dir), depth = 4, width = 16)

  /** Bloom-filter false-positive-rate calibration (Bloom 1970) — the
    * third measured-sketch gate beside MinHash (q149) and CMS (q180),
    * and the validation step behind the engine's bloom-pruned
    * decontamination path (whose library filter stays rows-only): build
    * an m-bit/k-hash Bloom over the TRAIN content hashes with the
    * cross-engine affine hash family, probe it with the eval half's
    * TRUE non-members (anti-joined exactly, so ground truth is exact),
    * and report the measured FPR a deployment otherwise takes on faith
    * from (1−e^(−kn/m))^k. All integer counts, one round-6 division.
    *
    * Scale shape: the bit array IS a ≤ m-row distinct frame (bounded by
    * construction, broadcast); membership = all k probe buckets present,
    * counted by a bounded join + per-key hit count. Train and probe
    * sides are one distinct/anti-join each on uniform md5 keys — the
    * q33/q167 contract. */
  def bloomFprReport(train: DataFrame, probe: DataFrame,
                     mBits: Int = 1024, k: Int = 4): DataFrame = {
    require(mBits >= 2 && k >= 1 && k <= 16, s"bad Bloom ($mBits bits, $k hashes)")
    val bucketsExpr = expr(s"transform(sequence(0, ${k - 1}), i -> " +
      s"(${sketchHash(train.sparkSession, "i", "s")}) % $mBits)")
    val members = graft.core.InternalCaches.persist(
      train.select(md5(col("text")).as("s")).distinct())
    val bits = graft.core.InternalCaches.persist(
      members.select(explode(bucketsExpr).as("b")).distinct())
    val probes = graft.core.InternalCaches.persist(
      probe.select(md5(col("text")).as("s")).distinct()
        .join(members, Seq("s"), "left_anti"))
    val claims = probes
      .select(col("s"), explode(bucketsExpr).as("b"))
      .join(broadcast(bits), Seq("b"), "left_semi")
      .groupBy(col("s")).agg(count(lit(1)).cast(LongType).as("hits"))
      .filter(col("hits") === k.toLong)
    members.agg(count(lit(1)).cast(LongType).as("n_members"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).cast(LongType).as("n_bits_set"))))
      .crossJoin(broadcast(probes.agg(count(lit(1)).cast(LongType).as("n_probes"))))
      .crossJoin(broadcast(claims.agg(count(lit(1)).cast(LongType).as("n_false_pos"))))
      .select(lit(mBits.toLong).as("m_bits"), lit(k.toLong).as("k_hashes"),
        col("n_members"), col("n_bits_set"), col("n_probes"), col("n_false_pos"),
        when(col("n_probes") > 0L,
          round(col("n_false_pos").cast(DoubleType) / col("n_probes").cast(DoubleType), 6))
          .otherwise(lit(0.0)).as("fpr"))
  }

  def qBloomFpr(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(bloomFprReport(_, _))

  /** Edit-distance verification of near-dup candidates — the final verify
    * stage of a fuzzy-dedup pipeline: the q35 LSH+Jaccard layer proposes
    * pairs, exact Levenshtein over a bounded text PREFIX confirms them at
    * character level (shingle Jaccard is order-insensitive; the edit DP
    * catches reordered-but-token-identical false confirms and grades how
    * literal the duplication is). Reported per surviving pair:
    * `lev_dist`, and `lev_sim = 1 − dist/max(|p1|,|p2|)` ≥ `minSim`.
    *
    * Cross-engine contract: non-ASCII code points fold to '?' before the
    * DP (Spark's levenshtein counts code points, DuckDB's counts BYTES —
    * after the fold both strings are pure ASCII, where the two agree),
    * and the DP runs on `prefixLen`-char prefixes so per-pair cost is a
    * constant O(prefixLen²), not O(doc²).
    *
    * Scale shape: candidates come from the banded LSH join (linear in
    * candidate pairs, the q35 100 TB path); the verify joins ship only
    * the bounded prefixes; per-pair work is constant. */
  def editVerifiedPairs(docs: DataFrame, prefixLen: Int = 256,
                        minSim: Double = 0.4): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    val txt = docs.select(col("doc_id"),
      regexp_replace(substring(col("text"), 1, prefixLen),
        "[^\\x00-\\x7F]", "?").as("p"))
    bothSides(minHashLshPairs(docs), txt, "p")
      .withColumn("lev_dist", levenshtein(col("p1"), col("p2")).cast(LongType))
      .withColumn("lev_sim", round(lit(1.0) -
        col("lev_dist").cast(DoubleType) /
          greatest(length(col("p1")), length(col("p2"))).cast(DoubleType), 6))
      .filter(col("lev_sim") >= minSim)
      .select(col("d1"), col("d2"), col("jaccard"), col("lev_dist"),
        col("lev_sim"))
  }

  def qEditVerified(s: SparkSession, dir: String): DataFrame =
    editVerifiedPairs(Tables.documents(s, dir))

  /** The LSH signature aggregate and its banding — [[minHashLshPairs]]'s
    * candidate layer, exposed so skew diagnostics can measure band-bucket
    * sizes without duplicating the banding arithmetic.
    *
    * ONE explode + shuffle + aggregation computes BOTH the 32 min-hash
    * signature columns AND the per-doc hashed-shingle set, under a lazy
    * plan-keyed persist (an eager localCheckpoint's job barrier measured
    * ~1 s/query; PLANS.md round-4 persist policy): both sides of the
    * banded self-join and the two re-verify joins read it instead of
    * re-scanning and re-shingling the corpus four times (Catalyst does not
    * deduplicate self-join subtrees). Linear in the corpus: the shingle
    * set + 32 longs per doc, memory-and-disk. */
  private[graft] def lshAggAndBanded(docs: DataFrame): (DataFrame, DataFrame) = {
    // native hashed shingles; all downstream work is on longs
    val exploded = withHashedShingles(docs)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val agg = graft.core.InternalCaches.persist(
      exploded.groupBy(col("doc_id")).agg(
        collect_set(col("h")).as("hs"),
        (0 until MinHashSeeds).map(i => min(xxhash64(lit(i), col("h"))).as(s"h$i")): _*))
    val banded = agg.select(col("doc_id"), posexplode(minHashBands(i => col(s"h$i"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    (agg, banded)
  }

  /** Band-bucket skew diagnostic: (max bucket size, mean bucket size,
    * candidate pairs Σ s·(s−1)/2, docs banded). The LSH 100 TB claim rests
    * on these staying bounded under hot-shingle skew — a hot shingle only
    * reaches a band key when it is the MINIMUM of both of the band's two
    * min-hashes, so a shingle shared by a fraction f of docs yields an
    * expected hot-bucket size of f·N/s̄² for per-doc shingle count s̄ (a
    * constant, not a fraction of N) — the banding analogue of the AllPairs
    * prefix-filter bound. Bench's skew tier asserts max ≤ 64× mean and
    * candidates ≤ N every round. */
  private[graft] def lshBucketStats(docs: DataFrame): (Long, Double, Long, Long) = {
    val (_, banded) = lshAggAndBanded(docs)
    val sizes = banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"))
    val r = sizes.agg(
      max(col("n")), avg(col("n")),
      sum(col("n") * (col("n") - 1) / 2).cast(LongType)).head()
    val nDocs = docs.count()
    (r.getLong(0), r.getDouble(1), r.getLong(2), nDocs)
  }

  /** SimHash (60-bit) per document + Hamming-near pairs via 4×15-bit band
    * equi-join (a doc pair within Hamming distance 3 shares at least one
    * exact 15-bit quarter — pigeonhole).
    *
    * The per-token hash is the Karp-Rabin polynomial hash (base 257 mod
    * 2⁶¹−1) — the same arithmetic as [[rollingFingerprint]], chosen over a
    * JVM-only string hash so the DuckDB oracle can regenerate EVERY bit in
    * plain SQL (HUGEINT modular fold per token, bit tests, majority vote):
    * q36 is hash-matched end to end instead of rows-only. 60 of the 61
    * hash bits are used so the bands split evenly.
    *
    * The raw polynomial hash is NOT usable directly: a k-char token is
    * bounded by 257^k, so the majority of English words (< 8 chars) leave
    * the high hash bits zero, every document's high simhash bits agree,
    * and hamming distances collapse (measured: 5% of ALL doc pairs within
    * hamming 3). One multiplicative spread (h·C mod 2⁶¹−1, C a fixed
    * 61-bit constant) diffuses the low-magnitude hashes across all bits —
    * same corpus drops to 22/124750 pairs with true duplicates at
    * hamming 0 — and stays one HUGEINT expression in the oracle. */
  private val SimHashMix = 2004640138488879447L // 0x5bd1e995bd1e9955 mod 2^61-1
  def simHash60(tokens: Seq[String]): Long = {
    val acc = new Array[Int](60)
    tokens.foreach { tok =>
      // fold UNICODE CODE POINTS, not UTF-16 units: the q36 oracle folds
      // DuckDB ascii(c) over a per-character split, which yields code
      // points — a non-BMP char (emoji) would otherwise diverge silently
      var h = 0L
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        h = (mulMod(h, 257L) + cp) % Mod61
        i += Character.charCount(cp)
      }
      h = mulMod(h, SimHashMix)
      var b = 0
      while (b < 60) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def qSimHashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = withTokens(Tables.documents(s, dir)).select(col("doc_id"), col("t"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) => (id, simHash60(toks)) }
      .toDF("doc_id", "simhash")
    // persisted: both sides of the band self-join consume this frame, and
    // the per-doc simhash map is the expensive half of the query
    val banded = graft.core.InternalCaches.persist(
      docs.select(col("doc_id"), col("simhash"), posexplode(array(
        (0 until 4).map(q => shiftrightunsigned(col("simhash"), q * 15).bitwiseAND(lit(0x7fffL))): _*)))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "qv"))
    sharedKeyPairs(banded, "q", "qv")
      .select(col("d1"), col("d2"),
        bit_count(col("simhash1").bitwiseXOR(col("simhash2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Rolling polynomial fingerprint (Karp-Rabin, base 257 mod 2^61−1) of the
    * full text + winnowing min-fingerprint of 8-character windows.
    * Characters are UNICODE CODE POINTS — the unit the q37 oracle uses
    * (DuckDB `ascii` over a per-character split, code-point `length`/
    * `substr`) — so the hash match holds beyond the BMP, not just on
    * ASCII corpora. */
  def rollingFingerprint(text: String): (Long, Long) = {
    val cps = text.codePoints().toArray
    val Mod = Mod61
    val Base = 257L
    var full = 0L
    var i = 0
    while (i < cps.length) {
      full = (mulMod(full, Base) + cps(i)) % Mod
      i += 1
    }
    // winnowing: min hash over all 8-grams
    var minW = Long.MaxValue
    if (cps.length >= 8) {
      var pow = 1L
      var k = 0
      while (k < 7) { pow = mulMod(pow, Base); k += 1 }
      var h = 0L
      i = 0
      while (i < cps.length) {
        h = (mulMod(h, Base) + cps(i)) % Mod
        if (i >= 7) {
          if (h < minW) minW = h
          h = (h - mulMod(cps(i - 7).toLong, pow) % Mod + Mod) % Mod
        }
        i += 1
      }
    } else minW = full
    (full, minW)
  }

  private val Mod61 = (1L << 61) - 1

  /** (a·b) mod 2⁶¹−1 without allocation: full 128-bit product via
    * Math.multiplyHigh, then Mersenne folding — 2⁶¹ ≡ 1 (mod M) so
    * product ≡ (product >> 61) + (product & M), and product >> 61 is
    * (hi << 3) | (lo >>> 61) since 2⁶⁴ = 8·2⁶¹. Requires 0 ≤ a,b < 2⁶¹
    * (all callers keep operands reduced). Value-identical to the previous
    * BigInteger path, ~100× cheaper per character. */
  private[graft] def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = ((hi << 3) | (lo >>> 61)) + (lo & Mod61)
    while (r >= Mod61) r -= Mod61
    r
  }

  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val (full, win) = rollingFingerprint(text)
        (id, full, win)
      }
      .toDF("doc_id", "fp_full", "fp_win")
  }

  // -------------------------------------------------------------- wordcount

  /** Reference Q7 (`WordCountExample.java:66-140`): word count — one
    * declarative explode + groupBy replaces all four hand-built MapReduce
    * round structures (Catalyst's partial+final HashAggregate IS the
    * map-side combine the reference builds manually). */
  def qWordCount(s: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.documents(s, dir))("cnt").select(col("w").as("word"), col("cnt"))

  /** Reference A4: distinct words + average word length. */
  def qWordStats(s: SparkSession, dir: String): DataFrame =
    withTokens(Tables.documents(s, dir))
      .select(explode(col("t")).as("word"))
      .agg(countDistinct(col("word")).as("n_distinct"),
           count(lit(1)).as("n_words"),
           (sum(length(col("word"))).cast(DoubleType) / count(lit(1))).as("avg_len"))

  /** TF-IDF per (document, term): tf from a per-doc word count, df from a
    * distinct-doc count per term, idf = ln(N/df). Two hash aggregations and
    * one broadcast join — no per-document loops. */
  def qTfIdf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    // df cascades FROM tf: tf already has exactly one row per (doc_id,
    // word), so document frequency is a row count per word over tf — the
    // previous shape re-scanned and re-exploded the corpus for a
    // distinct + count. One corpus pass total; tf is persisted because
    // both the df aggregation and the final join consume it.
    val tf = graft.core.InternalCaches.persist(tokenCounts(docs, col("doc_id"))("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // no forced broadcast: the term dictionary is NOT bounded at web scale
    // (open vocabulary); AQE picks a broadcast at runtime when df is small
    tf.join(df, "w")
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .filter(col("tfidf") >= 3.0)
      .select(col("doc_id"), col("w").as("word"), col("tf"), col("df"), col("tfidf"))
  }

  /** Near-duplicate clustering: connected components over the **MinHash-LSH
    * candidate pair graph** at J >= 0.5. Output: (doc_id, canonical
    * component id) for every document with at least one near-duplicate.
    *
    * PROBABILISTIC contract: the edges come from banded MinHash
    * ([[qMinHashLsh]] — bucket equi-join candidates + exact re-verify), so
    * false *positives* are eliminated but banding can miss a true pair
    * (false negatives, vanishing as J → 1); components can under-merge on
    * an adversarial corpus. This is the deliberate 100 TB trade — the
    * candidate cost stays linear. [[qDedupComponentsExact]] is the exact
    * twin for when the contract must be exact; the two are verified to
    * agree on the test corpus (TextSpec) and the DuckDB oracle checks this
    * query against the exact pair graph. */
  def qDedupComponents(s: SparkSession, dir: String): DataFrame =
    dedupComponents(qMinHashLsh(s, dir).select(col("d1"), col("d2")))

  /** Exact twin of [[qDedupComponents]]: edges from the prefix-filtered
    * all-pairs Jaccard join ([[qNgramJaccard]]) — no probabilistic candidate
    * stage, still scale-safe (prefix filtering bounds hot-shingle skew).
    * Use when the "connected components over the J >= 0.5 graph" contract
    * must hold exactly rather than with LSH's false-negative rate. */
  def qDedupComponentsExact(s: SparkSession, dir: String): DataFrame =
    dedupComponents(qNgramJaccard(s, dir).select(col("d1"), col("d2")))

  /** Connected components over an edge DataFrame (d1, d2).
    *
    * Adaptive small path: near-dup pair graphs are tiny relative to the
    * corpus (dedup removes a few percent); below the threshold a driver
    * union-find in one collect beats several distributed rounds of job
    * overhead. Above it, [[starComponents]] runs alternating large-star /
    * small-star contraction, which converges in O(log² n) rounds
    * REGARDLESS of component diameter — unlike min-label propagation,
    * whose round count equals the graph diameter (a 100 TB crawl corpus
    * can chain near-dups into long paths). */
  private[graft] def dedupComponents(edges0: DataFrame,
                                     driverEdgeLimit: Long = 100000): DataFrame = {
    val s = edges0.sparkSession
    // ONE action both selects the path and fetches the driver input:
    // collect up to limit+1
    // edges — <= limit rows back proves the pair graph fits the driver;
    // limit+1 means overflow, fall back to the distributed contraction.
    // The previous shape spent a dedicated cache()+count() job purely on
    // path selection, double-materializing the whole LSH edge pipeline.
    // The persist keeps the OVERFLOW path honest: partitions the probe
    // fully consumed are cached, so starComponents does not re-derive the
    // expensive edge pipeline the probe already ran; on the small path the
    // probe is the only job either way. Released before returning —
    // starComponents materializes its own checkpoint eagerly.
    val lim = math.min(driverEdgeLimit, Int.MaxValue - 2L).toInt
    val edges = edges0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val fetched = edges.limit(lim + 1).collect()
    if (fetched.length <= lim) {
      import s.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      fetched.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val out = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      s.createDataset(out).toDF("doc_id", "comp")
    } else starComponents(edges)
    } finally edges.unpersist()
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm, re-expressed on DataFrames):
    *
    *  - large-star(u): attach every STRICTLY LARGER neighbor of u to
    *    m(u) = min(N(u) ∪ {u});
    *  - small-star(u): attach every smaller-or-equal neighbor AND u itself
    *    to m(u).
    *
    * Both steps preserve connectivity and never increase the minimum of a
    * component; alternating them converges to per-component stars rooted
    * at the component minimum in O(log² n) rounds regardless of diameter.
    * Each round is two (groupBy + join) stages — pure equi-shuffles, no
    * driver state; localCheckpoint truncates lineage across rounds. */
  private[graft] def starComponents(edges0: DataFrame): DataFrame = {
    var edges = edges0
      .select(least(col("d1"), col("d2")).as("u"), greatest(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var checksum = (-1L, -1L)
    var done = false
    var iter = 0
    while (!done && iter < 50) {
      // neighborhoods in both directions, with m(u) = least(min(N(u)), u)
      def withMin(e: DataFrame): DataFrame = {
        val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        val mins = nbrs.groupBy(col("u"))
          .agg(least(min(col("v")), first(col("u"))).as("m"))
        nbrs.join(mins, "u")
      }
      val large = withMin(edges)
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))           // m <= u < v: canonical
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      val wm = withMin(large)
      val small = wm.filter(col("v") < col("u"))
        .select(col("m").as("u"), col("v"))
        .unionByName(wm.select(col("m").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      // convergence: the canonical edge set is a fixpoint — order-free
      // checksum (count + xor of per-edge hashes; xor cannot overflow
      // under ANSI mode) instead of a per-round anti-join. A checksum hit
      // is then CONFIRMED with one exact set comparison (equal counts +
      // empty except ⇒ equal sets, both sides are distinct()) so a 64-bit
      // collision between different edge sets degrades to one extra round,
      // never to silently wrong components. The exact check runs only on
      // the final round — per-round cost is unchanged.
      val check = small.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))))
        .collect()(0)
      val newSum = (check.getLong(0), if (check.isNullAt(1)) 0L else check.getLong(1))
      done = newSum == checksum && small.exceptAll(edges).isEmpty
      checksum = newSum
      edges = small
      iter += 1
    }
    if (!done) throw new IllegalStateException(
      s"starComponents: not converged after $iter rounds — aborting rather than returning wrong components")
    // fixpoint edges are stars (m, v) rooted at component minima
    edges.select(col("v").as("doc_id"), col("u").as("comp"))
      .unionByName(edges.select(col("u").as("doc_id"), col("u").as("comp")).distinct())
      .distinct()
  }

  /** Training-window chunking: overlapping 32-token windows at stride 24
    * per document (the standard context-window preparation step). One
    * generator expression per document — no per-doc loops, fully
    * distributed. Chunk content is carried as an md5 so the gate compares
    * content, not just counts. */
  def qChunking(s: SparkSession, dir: String): DataFrame =
    withTokens(Tables.documents(s, dir))
      .select(col("doc_id"), col("t"),
        posexplode(expr("sequence(0, cast(floor((size(t) - 1) / 24.0) as int))")))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        expr("slice(t, pos * 24 + 1, 32)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("chunk_len"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))

  /** Distributed running total of `valueCol` over rows ordered by `ordCols`
    * within `partCol`, as a TWO-LEVEL prefix sum. A plain
    * `Window.partitionBy(partCol)` running sum puts every row of a
    * partition key on ONE reducer — with a handful of languages that is a
    * handful of tasks owning a 100 TB corpus. Here rows are bucketed by
    * contiguous ranges of the leading order column (`floor(ord / width)` is
    * monotone, so bucket order = row order), per-bucket totals cascade into
    * cumulative offsets on a frame that is corpus/width rows (the only
    * per-language-sequential step, at 1/width the data), and the final
    * running value is the bucket offset plus a within-bucket window — whose
    * partitions are (key, bucket), i.e. bounded and evenly spread.
    * Numerically exact: long sums, identical to the single-window form. */
  private[graft] def distributedRunningSum(df: DataFrame, partCol: String,
      ordCols: Seq[String], valueCol: String, out: String,
      bucketWidth: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE pass over the (possibly expensive) input: bucket + within-bucket
    // running sum, materialized — the offset aggregation and the final join
    // then read the materialized frame instead of re-deriving the whole
    // upstream a second time (the chunks frame behind q66 is a 5-stage
    // pipeline; recomputing it for the per-bucket totals doubled its cost)
    val local = graft.core.InternalCaches.persist(df
      .withColumn("_bkt",
        floor(col(ordCols.head) / bucketWidth.toDouble).cast(LongType))
      .withColumn("_lrun", sum(col(valueCol)).over(
        Window.partitionBy(col(partCol), col("_bkt"))
          .orderBy(ordCols.map(c => col(c).asc): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val bw = Window.partitionBy(col(partCol)).orderBy(col("_bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col(partCol), col("_bkt"))
      .agg(sum(col(valueCol)).as("_bsum"))
      .withColumn("_off", coalesce(sum(col("_bsum")).over(bw), lit(0L)))
      .select(col(partCol).as("_p2"), col("_bkt").as("_b2"), col("_off"))
    local
      // null-safe equality: window partitioning groups NULL keys together,
      // so the offset join must too — a plain === would silently drop
      // NULL-key (or NULL-order-column) rows the window form keeps
      .join(offsets, col(partCol) <=> col("_p2") && col("_bkt") <=> col("_b2"))
      .withColumn(out, (col("_off") + col("_lrun")).cast(LongType))
      .drop("_bkt", "_lrun", "_p2", "_b2", "_off")
  }

  /** Sequence packing: assign documents (in stable doc_id order per
    * language) to training bins of ~8192 tokens by running total — the
    * streaming packing shape (distributed prefix sum, no driver loop and
    * no one-reducer-per-language window). */
  def qPacking(s: SparkSession, dir: String): DataFrame = {
    val toks = withTokens(Tables.documents(s, dir))
      .select(col("lang"), col("doc_id"), size(col("t")).as("n_tok"))
    distributedRunningSum(toks, "lang", Seq("doc_id"), "n_tok", "running")
      .withColumn("bin", floor((col("running") - col("n_tok")) / 8192.0).cast(LongType))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast(LongType).as("bin_tokens"))
  }

  /** Sequence-packing efficiency SWEEP — the q64 contiguous packing
    * evaluated at every context length of a pinned bin-size grid in one
    * pass: per (group, size), how many bins the stream packs into and
    * the fill factor total/(bins·size) — the dynamic-batching cost table
    * read before committing a training context length (the q164/q182
    * operating-point-grid pattern applied to packing). Fill can exceed 1:
    * q64's scheme assigns a document to the bin its START offset falls
    * in and never splits it, so tail documents overflow their boundary —
    * the sweep quantifies exactly that trade per size.
    *
    * Scale shape: the two-level distributed prefix sum runs ONCE (the
    * expensive part — never a per-source single-reducer window); all
    * four sizes then reduce in the SAME group-keyed aggregate as max/sum
    * exprs over the running column (no grid fan-out of corpus rows at
    * all), and the wide K-row result unpivots via stack. Integer until
    * the one fill division per grid cell. */
  def packingSweep(docs: DataFrame,
                   sizes: Seq[Int] = Seq(1024, 2048, 4096, 8192)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), s"bad sizes $sizes")
    val toks = withTokens(docs)
      .select(col("lang"), col("doc_id"), size(col("t")).as("n_tok"))
    val run = distributedRunningSum(toks, "lang", Seq("doc_id"), "n_tok", "running")
    val aggs = sizes.flatMap { sz =>
      Seq((max(floor((col("running") - col("n_tok")) / sz.toDouble)) + lit(1L))
            .cast(LongType).as(s"bins_$sz"))
    } ++ Seq(count(lit(1)).cast(LongType).as("n_docs"),
      sum(col("n_tok")).cast(LongType).as("total_tokens"))
    val wide = run.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
    val stackExpr = sizes.map(sz => s"${sz}L, bins_$sz").mkString(", ")
    wide
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        expr(s"stack(${sizes.size}, $stackExpr)").as(Seq("bin_size", "n_bins")))
      .select(col("lang"), col("bin_size"), col("n_docs"), col("total_tokens"),
        col("n_bins"),
        round(col("total_tokens").cast(DoubleType) /
          (col("n_bins") * col("bin_size")).cast(DoubleType), 6).as("fill"))
  }

  def qPackingSweep(s: SparkSession, dir: String): DataFrame =
    packingSweep(Tables.documents(s, dir))

  /** Deterministic content-hash sampling: md5(text) < threshold selects a
    * reproducible ~10% sample independent of partitioning, engine, and
    * run — the reproducibility property rand()-based sampling lacks. */
  def qHashSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(md5(col("text")) < "1a")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).cast(LongType).as("sum_chars"))

  /** Deterministic WEIGHTED sampling without replacement — the
    * Efraimidis–Spirakis A-ES scheme (IPL 97(5), 2006): each row draws a
    * priority u^(1/w) and the global top-K priorities ARE a weighted
    * sample. Two twists make it an engine operator rather than a driver
    * loop:
    *
    *  - u comes from the content hash (first 13 md5 hex chars → 52-bit
    *    uniform), not rand(): the sample is a pure function of the data —
    *    reproducible across runs, partitionings, and engines, and
    *    mergeable across shards by construction (same contract as
    *    [[qHashSample]], upgraded from Bernoulli to weighted).
    *  - the comparison runs on ln(u)/w (monotone in u^(1/w), one ln
    *    instead of a pow) rounded to 9 — the q57/q88 cross-engine ln
    *    recipe.
    *
    * Scale shape: priorities are a codegen'd projection over the scan; the
    * top-K is TakeOrderedAndProject (per-partition bounded heaps + one
    * K-row driver merge — no global sort, no shuffle of the corpus).
    * Weight here is n_chars: sampling probability ∝ document length, the
    * usual "token-budget" sampling for training mixes. */
  def weightedHashSample(docs: DataFrame, k: Int, weightCol: String = "n_chars"): DataFrame = {
    val u = (conv(substring(md5(col("text")), 1, 13), 16, 10).cast(LongType) + 1)
      .cast(DoubleType) / lit(4503599627370496.0) // 16^13 = 2^52
    docs
      .withColumn("skey", round(log(u) / col(weightCol).cast(DoubleType), 9))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("lang"), col(weightCol), col("skey"))
  }

  def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    weightedHashSample(Tables.documents(s, dir), k = 64)

  /** Vocabulary construction — corpus-wide token counts, a frequency
    * floor, a hard cap V, and DETERMINISTIC dense id assignment by
    * (freq desc, token asc): the tokenizer-training step every pipeline
    * runs before chunking/packing, and the id table q63's chunker would
    * consume. Counting is the plain corpus hash aggregation; the top-V
    * selection is TakeOrderedAndProject (bounded per-partition heaps, the
    * q95 shape — no global sort of the vocabulary ever runs); id
    * assignment is a window over a frame whose size is the CAP — a
    * caller-chosen constant (32k–256k in practice), NOT a function of
    * corpus size, which is what makes the one-partition window admissible
    * here and nowhere else in this codebase. */
  def buildVocab(docs: DataFrame, cap: Int, minFreq: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = tokenCounts(docs)("freq").filter(col("freq") >= minFreq)
    counts.orderBy(col("freq").desc, col("w").asc).limit(cap)
      .withColumn("id", row_number().over(
        Window.orderBy(col("freq").desc, col("w").asc)).cast(LongType))
      .select(col("id"), col("w").as("tok"), col("freq"))
  }

  def qVocab(s: SparkSession, dir: String): DataFrame =
    buildVocab(Tables.documents(s, dir), cap = 20) // < the fixture's 31-token vocab, so the cap boundary is live

  /** Bigram language model table — P(w2 | w1) with exact counts: the
    * training step behind the q88 scorer (a real pipeline scores corpus
    * quality with an LM trained on a reference corpus; this builds that
    * model distributively). Bigrams come straight out of the token ARRAY
    * as a codegen'd transform+explode projection — no per-token window,
    * no positional self-join, ONE corpus scan. The unigram denominators
    * CASCADE from the bigram counts (sum over w2 = occurrences of w1 in
    * non-final position — the q50 one-scan threshold trick), so the
    * corpus is never re-scanned; the vocab²-bounded count table joins its
    * own rollup by broadcast. */
  def bigramModel(docs: DataFrame): DataFrame = {
    val nBi = graft.core.InternalCaches.persist(
      ngrams(withTokens(docs), 2).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12")))
    val nUni = nBi.groupBy(col("w1")).agg(sum(col("n12")).cast(LongType).as("n1"))
    nBi.join(broadcast(nUni), "w1")
      .select(col("w1"), col("w2"), col("n12"), col("n1"),
        round(col("n12").cast(DoubleType) / col("n1").cast(DoubleType), 6).as("cond_p"))
  }

  def qBigramModel(s: SparkSession, dir: String): DataFrame =
    bigramModel(Tables.documents(s, dir))

  /** Phrase detection — the word2phrase collocation score (Mikolov et al.,
    * NeurIPS 2013 §4): score(w1,w2) = (c12 − δ)·N / (c1·c2), high when a
    * pair co-occurs far more than chance; pairs over a score threshold get
    * merged into single tokens ("new_york") before embedding training.
    * ALL numerators/denominators are 64-bit integer products with ONE
    * double division at the end (round 6) — no ln, nothing engine-shaped.
    * One cached token scan feeds both the unigram and the bigram
    * aggregation; the unigram table is vocab-bounded and joins back by
    * broadcast, N rides a single-row broadcast (the q77/q50 scalar
    * pattern). The δ floor also bounds the output: only pairs seen > δ
    * times can score, so hapax noise never reaches the join. */
  def phraseScores(docs: DataFrame, delta: Long = 5L): DataFrame = {
    val toks = graft.core.InternalCaches.persist(
      withTokens(docs).select(col("t")))
    val uni = graft.core.InternalCaches.persist(tokenCounts(toks)("c"))
    val total = uni.agg(sum(col("c")).cast(LongType).as("n"))
    val pairs = ngrams(toks, 2)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") > lit(delta))
    pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(((col("c12") - lit(delta)) * col("n")).cast(DoubleType) /
              (col("c1") * col("c2")).cast(DoubleType), 6).as("score"))
  }

  def qPhrases(s: SparkSession, dir: String): DataFrame =
    phraseScores(Tables.documents(s, dir))

  /** Train/eval decontamination over an arbitrary documents-shaped frame:
    * training documents sharing at least one `n`-token shingle with the
    * eval split are flagged (the published pretraining practice — n-gram
    * overlap against held-out benchmarks). Shape: the contamination check
    * is a LEFT-SEMI join of training shingles against the distinct eval
    * shingles. When the eval split is a fixed-size benchmark — the
    * intended use, and the q71 gate's shape — the distinct eval-shingle
    * set is broadcast-sized and AQE turns the semi-join into a broadcast:
    * one pass over the training shingles, no shuffle of the corpus. The
    * plan degrades gracefully, not wrongly, if a caller passes an eval
    * predicate that scales with the corpus (e.g. a percentage split): AQE
    * keeps the same semi-join as a shuffle join (asserted in TextSpec).
    * Shingles are compared as 64-bit hashes (graft_shingles — same ~2^-40
    * collision caveat as [[ngramJaccardPairs]], which the string-shingle
    * oracle hash-match empirically discharges). */
  private[graft] def decontaminate(docs: DataFrame, evalPred: Column, n: Int): DataFrame = {
    val (tok, sh) = shingleSplit(docs, evalPred, n)
    val evalSh = sh.filter(col("is_eval")).select(col("h")).distinct()
    val contam = sh.filter(!col("is_eval"))
      .join(evalSh, Seq("h"), "left_semi")
      .select(col("doc_id"), col("lang")).distinct()
    contaminationSummary(tok, contam)
  }

  /** Shared derivation for the exact and bloom decontamination paths:
    * tagged tokenized frame + exploded shingle-hash frame. ONE definition
    * so the two operators' inputs cannot diverge. */
  private def shingleSplit(docs: DataFrame, evalPred: Column, n: Int): (DataFrame, DataFrame) = {
    val tok = withTokens(docs).withColumn("is_eval", evalPred)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = tok.filter(size(col("t")) >= n)
      .select(col("doc_id"), col("lang"), col("is_eval"),
        explode(expr(s"graft_shingles(t, $n)")).as("h"))
    (tok, sh)
  }

  /** Shared output contract of the decontamination operators: per-language
    * training count + contaminated count (0 for untouched languages). */
  private def contaminationSummary(tok: DataFrame, contam: DataFrame): DataFrame = {
    val trainCounts = tok.filter(!col("is_eval"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_train"))
    val contamCounts = contam.groupBy(col("lang")).agg(count(lit(1)).as("n_contaminated"))
    trainCounts.join(contamCounts, Seq("lang"), "left")
      .select(col("lang"), col("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
  }

  /** Gate query: 13-gram decontamination against a FIXED 32-document eval
    * set (`doc_id < 32`) — the benchmark-decontamination shape the
    * operator documents: the eval split does not grow with the corpus, so
    * the distinct eval-shingle set stays broadcast-sized at any SF. (The
    * corpus-proportional ~6% md5-split variant lives in TextSpec as the
    * shuffle-fallback property test.) */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(s, dir), col("doc_id") < 32, n = 13)

  /** Bloom-pruned decontamination: identical OUTPUT to [[decontaminate]]
    * (asserted in TextSpec), different physical strategy for the regime
    * where the eval split is too large for an exact broadcast but the
    * corpus is far larger still. A compact bloom filter of the eval
    * shingles (distributed build via `stat.bloomFilter`; ~1.2 bytes/item
    * at 1% fpp, so 10⁹ eval shingles ≈ 1.2 GB where the exact distinct
    * longs would be 8 GB + hash-set overhead) broadcasts to every task
    * and PRE-FILTERS the training shingles in their scan — ~99% of
    * non-members never enter the shuffle. The exact semi-join then runs
    * over the ~fpp-sized survivor stream to remove bloom false positives:
    * the filter prunes, the join decides, so the result is exact for any
    * fpp. This is bloom-filter join pruning — the same move Spark's
    * runtime row-group filtering makes, applied where the optimizer
    * cannot see the semantics. */
  private[graft] def decontaminateBloom(docs: DataFrame, evalPred: Column, n: Int,
                                        fpp: Double = 0.01): DataFrame = {
    val (tok, sh) = shingleSplit(docs, evalPred, n)
    val evalSh = graft.core.InternalCaches.persist(
      sh.filter(col("is_eval")).select(col("h")).distinct())
    // distributed bloom build (treeAggregate under stat.bloomFilter); the
    // count sizes the filter — one cheap agg over the cached distinct set
    val nEval = math.max(evalSh.count(), 1L)
    val bloom = evalSh.stat.bloomFilter("h", nEval, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    val contam = sh.filter(!col("is_eval"))
      .filter(mightContain(col("h")))       // bloom prune BEFORE the shuffle
      .join(evalSh, Seq("h"), "left_semi")  // exact: false positives removed
      .select(col("doc_id"), col("lang")).distinct()
    contaminationSummary(tok, contam)
  }

  /** Deterministic shuffle-and-shard manifest: shard = first `shardHexLen`
    * hex chars of md5(text) (16^shardHexLen shards), position = rank within
    * the shard by (md5(text), doc_id). The training-data shuffle that is
    * reproducible across engines, partitionings and runs — rand()-based
    * shuffling is not — and sharded so no global total order is ever
    * materialized: the position windows partition by shard, and
    * `shardHexLen` IS the parallelism lever at 100 TB (2 → 256 shards of
    * ~0.4 TB each; 3 → 4096 of ~25 GB; 4 → 65 536 of ~1.5 GB — size the
    * per-reducer rank to executor memory). A single unpartitioned
    * row_number would put the whole corpus on one reducer.
    *
    * Widening the prefix REFINES the shuffle, never reorders it: the
    * global order is (md5, doc_id) at every width, so a narrow shard is
    * the ordered concatenation of its 16 refinements (asserted in
    * TextSpec). */
  /** Shared shard/position rule for shardManifest and writeShards: adds
    * `h` (md5 of text), `shard` (first `shardHexLen` hex chars of h) and
    * `pos` (rank within shard by (h, doc_id)). ONE definition on purpose —
    * if manifest and layout computed it independently, a tie-break or
    * prefix-rule change in one would silently desynchronize the
    * materialized layout from the manifest the tests and oracle pin. */
  private def withShardPos(docs: DataFrame, shardHexLen: Int): DataFrame = {
    require(shardHexLen >= 1 && shardHexLen <= 8,
      s"shardHexLen must be in [1, 8], got $shardHexLen")
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .withColumn("h", md5(col("text")))
      .withColumn("shard", substring(col("h"), 1, shardHexLen))
    val w = Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
    d.withColumn("pos", row_number().over(w))
  }

  def shardManifest(docs: DataFrame, shardHexLen: Int = 2): DataFrame =
    withShardPos(docs, shardHexLen).select(col("doc_id"), col("shard"), col("pos"))

  /** Materialize the sharded layout itself, not just the mapping: the full
    * rows written as shard=XX/ parquet directories (Hive partition pruning
    * per shard), one shuffle task per shard, rows laid down in shuffle
    * order (`pos`) within each file. A training job then streams shard
    * directories in any per-shard-sequential schedule without ever sorting
    * the corpus globally. */
  def writeShards(docs: DataFrame, path: String, shardHexLen: Int = 2): Unit = {
    val sharded = withShardPos(docs, shardHexLen).drop("h")
    graft.sources.PartitionedSink.write(
      sharded.repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("pos")),
      path, Seq("shard"))
  }

  /** Gate query: the 256-shard manifest (shardHexLen = 2). */
  def qShards(s: SparkSession, dir: String): DataFrame =
    shardManifest(Tables.documents(s, dir), shardHexLen = 2)

  // ------------------------------------------------------- PII + sampling

  /** Email/phone patterns restricted to the regex subset where Java
    * (Spark) and RE2 (DuckDB, the oracle) agree exactly: character
    * classes, bounded quantifiers, optional groups — no lookaround, no
    * backreferences. */
  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneRe = """(\+\d{1,2}[ -])?\(?\d{3}\)?[ -]\d{3}[ -]\d{4}"""

  /** PII redaction: replace email addresses and phone numbers with typed
    * placeholder tokens — the standard pre-training scrub. A pure
    * regexp_replace projection: whole-stage-codegen'd, zero shuffle, one
    * pass over the corpus at any scale. Emails first, then phones (fixed
    * order so the two rules compose deterministically). */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol,
      regexp_replace(
        regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"))

  /** Stratified deterministic sampling: per-stratum keep-rates applied via
    * a content-hash threshold — `df.stat.sampleBy` semantics with the
    * reproducibility rand() lacks (the kept set is a pure function of the
    * row content, independent of partitioning, engine, and run; same
    * argument as [[qHashSample]]). A row survives iff the first 8 hex
    * chars of md5(key) fall below its stratum's threshold
    * (rate × 2³²); strata absent from `rates` are dropped. One codegen'd
    * filter, no shuffle — the lever that rebalances a skewed-language
    * corpus in a single pass at 100 TB. */
  def stratifiedHashSample(docs: DataFrame, strataCol: String,
                           rates: Map[String, Double], key: Column): DataFrame = {
    docs.filter(substring(md5(key), 1, 8) < sampleThresholds(strataCol, rates))
  }

  /** The per-stratum hex-threshold CASE column; rate 1.0 maps to "g"
    * (lexicographically above every hex digit) so it keeps all rows. */
  private def sampleThresholds(strataCol: String, rates: Map[String, Double]): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit("00000000")) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(rateToHex(r))).otherwise(acc)
    }

  private def rateToHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"sample rate must be in [0, 1], got $rate")
    val t = math.round(rate * 4294967296.0)
    if (t >= 4294967296L) "g" else f"$t%08x"
  }

  /** Gate query: scrub planted PII — every document gets a unique email
    * and phone appended (the same construction the oracle plants), then
    * the redacted corpus is rolled up per language. sum_len pins every
    * redacted byte (a single missed or mangled replacement shifts a
    * document's length); the n_emails/n_phones occurrence counts pin that
    * each document was redacted once per pattern. */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir).withColumn("text",
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or +1 555-123-"),
        lpad((col("doc_id") % 10000).cast(StringType), 4, "0"), lit(" now")))
    redactPii(planted)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("sum_len"),
        sum((length(col("text")) - length(expr("replace(text, '[EMAIL]', '')"))) / 7)
          .cast(LongType).as("n_emails"),
        sum((length(col("text")) - length(expr("replace(text, '[PHONE]', '')"))) / 7)
          .cast(LongType).as("n_phones"))
  }

  /** The q74 rates: rebalance toward the minority languages, and leave zh
    * out of the map to pin the drop-unlisted-strata path. */
  private[graft] val StratRates =
    Map("en" -> 0.5, "fr" -> 0.25, "es" -> 0.125, "de" -> 0.0625)

  def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratifiedHashSample(Tables.documents(s, dir), "lang", StratRates, col("text"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"))

  /** DuckDB CASE over the same rates map — one definition of the
    * thresholds on purpose (same reasoning as [[withShardPos]]). */
  private def stratOracleCase: String =
    StratRates.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN '$k' THEN '${rateToHex(r)}'"
    }.mkString("CASE lang ", " ", " ELSE '00000000' END")

  /** Intra-document repetition statistics — the published quality-filter
    * signal (duplicate n-gram fraction and most-frequent-token share flag
    * boilerplate/spam). Per document: total and distinct bigram counts
    * plus the max single-token count; [[qRepetition]] rolls integers up
    * per language (integer sums — exact, order-free, no float summation
    * to keep deterministic). One projection for the bigram stats; one
    * explode + two-level aggregation for the token mode — both
    * shuffle-partitioned by doc then language, nothing driver-side. */
  private[graft] def repetitionStats(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val tok = withTokens(docs).filter(size(col("t")) >= 2)
    // distinct-bigram count via the one-pass graft_shingles kernel (the
    // expression already dedups) — the declarative transform+concat+
    // array_distinct chain runs as interpreted HOFs and materializes every
    // intermediate array, which is exactly what the expression replaced;
    // same ~2^-40 hash-collision caveat the q34-q36 oracles discharge
    val bigrams = tok.select(col("doc_id"), col("lang"),
      (size(col("t")) - 1).cast(LongType).as("n_bigrams"),
      size(expr("graft_shingles(t, 2)")).cast(LongType).as("n_distinct_bigrams"),
      size(col("t")).cast(LongType).as("n_tok"))
    val topTok = tokenCounts(tok, col("doc_id"))("c")
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_tok_cnt"))
    bigrams.join(topTok, Seq("doc_id"))
  }

  /** Gate query: repetition stats rolled up per language, all-integer
    * output (exact at any partitioning). A downstream filter derives the
    * Gopher-style ratios (dup-bigram fraction, top-token share) from
    * these sums. */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(s, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).cast(LongType).as("sum_bigrams"),
        sum(col("n_distinct_bigrams")).cast(LongType).as("sum_distinct_bigrams"),
        sum(col("max_tok_cnt")).cast(LongType).as("sum_max_tok"),
        sum(col("n_tok")).cast(LongType).as("sum_tok"))

  /** Source-mixing weights: the token-budget rebalance a multi-source
    * training corpus needs. Given per-source token totals, the keep-rate
    * that equalizes token contribution is min(source tokens)/source
    * tokens — the largest sources downsample, the smallest keeps
    * everything. One aggregation plus a broadcast of the single-row
    * minimum; the rates feed [[stratifiedHashSample]] for the actual
    * deterministic downsample (composition proven in TextSpec). */
  def sourceMixWeights(docs: DataFrame): DataFrame = {
    val perSource = withTokens(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("t"))).cast(LongType).as("tok"))
    val minTok = perSource.agg(min(col("tok")).as("min_tok"))
    perSource.crossJoin(broadcast(minTok))
      .select(col("source"), col("n_docs"), col("tok"),
        (col("min_tok").cast(DoubleType) / col("tok")).as("keep_rate"))
  }

  def qMixWeights(s: SparkSession, dir: String): DataFrame =
    sourceMixWeights(Tables.documents(s, dir))

  /** Boilerplate line removal (the C4/RefinedWeb "drop repeated lines"
    * pass): segment each doc into fixed-`lineTokens` lines, find the
    * corpus's `topK` most frequent lines (cnt desc, line asc — fully
    * deterministic), drop every occurrence, and reassemble the surviving
    * text in original order.
    *
    * Scale shape: the hot-line list is a distributed TOP-K REDUCTION
    * (orderBy + limit plans as TakeOrderedAndProject — no global window,
    * no single reducer over the distinct-line space, which at 100 TB is
    * itself billions of rows), and the removal is a BROADCAST anti-join
    * of that K-row list against the exploded lines. Reassembly groups by
    * doc and sorts each doc's surviving (pos, line) pairs inside the
    * aggregate — per-doc arrays, never a corpus-wide sort. Docs whose
    * every line was boilerplate survive with empty text (left join), so
    * the output is exactly one row per input doc. */
  def lineDedup(docs: DataFrame, lineTokens: Int = 2, topK: Int = 25): DataFrame = {
    require(lineTokens >= 1, s"lineTokens must be >= 1, got $lineTokens")
    // one exploded (doc_id, pos, line) frame feeds the hot-line count, the
    // per-doc totals and the anti-join — persist like the other
    // multiply-consumed internal frames
    val lines = graft.core.InternalCaches.persist(
      withTokens(docs).select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(t) / $lineTokens.0) as int) - 1), " +
        s"i -> array_join(slice(t, i * $lineTokens + 1, $lineTokens), ' '))")))
        .withColumnRenamed("pos", "pos").withColumnRenamed("col", "line"))
    val hot = lines.groupBy(col("line")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("line").asc).limit(topK)
      .select(col("line"))
    val kept = lines.join(broadcast(hot), Seq("line"), "left_anti")
    val totals = lines.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_lines_doc"))
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).cast(LongType).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("text_dedup"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines_doc"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  def qLineDedup(s: SparkSession, dir: String): DataFrame =
    lineDedup(Tables.documents(s, dir))

  /** Per-source quota cap (the "domain quota" crawl pass: no single
    * domain may contribute more than `perSource` documents). The kept set
    * is the `perSource` smallest (md5(text), doc_id) per source — a pure
    * function of content, so partitioning- and run-independent; doc_id
    * breaks exact-duplicate ties.
    *
    * Ranking is TWO-LEVEL so a hot domain never sorts in one window
    * partition: stage 1 ranks within (source, doc_id mod `buckets`) and
    * keeps `perSource` per bucket — every global top-`perSource` row is
    * by definition within its own bucket's top `perSource`, so stage 1
    * retains a superset of the answer while bounding each window
    * partition to ~|domain|/buckets rows; stage 2 re-ranks the ≤
    * buckets × perSource survivors per source and cuts the exact quota.
    * Same two-level shape as q64's prefix-sum packing; output equals the
    * naive single-window rank row-for-row (TextSpec). */
  def sourceQuota(docs: DataFrame, perSource: Int = 15, buckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(perSource >= 1 && buckets >= 1,
      s"perSource and buckets must be >= 1, got $perSource/$buckets")
    val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(buckets)))
      .orderBy(md5(col("text")).asc, col("doc_id").asc)
    val survivors = docs
      .withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= perSource)
    val w2 = Window.partitionBy(col("source"))
      .orderBy(md5(col("text")).asc, col("doc_id").asc)
    survivors.withColumn("rk", row_number().over(w2)).filter(col("rk") <= perSource)
      .select(col("source"), col("rk"), col("doc_id"))
  }

  def qSourceQuota(s: SparkSession, dir: String): DataFrame =
    sourceQuota(Tables.documents(s, dir))

  /** Canonical selection per near-dup cluster — the step AFTER component
    * clustering in a dedup pipeline: of each cluster keep exactly one
    * representative, here the longest member (token count) with doc_id as
    * the deterministic tiebreak. The rank window partitions by component;
    * clusters are small by dedup semantics (a few near-copies), so no
    * window partition ever approaches corpus size — the heavy lifting
    * (pair graph, contraction) already happened in [[dedupComponents]]. */
  def canonicalPick(docs: DataFrame, components: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = withTokens(docs)
      .select(col("doc_id"), size(col("t")).cast(LongType).as("n_tok"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("n_tok").desc, col("doc_id").asc)
    components.join(lens, "doc_id")
      .withColumn("rk", row_number().over(w))
      .select(col("comp"), col("doc_id"), col("n_tok"),
        (col("rk") === 1).as("canonical"))
  }

  /** Gate: canonical picks over the LSH component clustering (same edge
    * source as q58, same false-negative caveat discharged by the exact
    * oracle on this corpus). */
  def qCanonicalPick(s: SparkSession, dir: String): DataFrame =
    canonicalPick(Tables.documents(s, dir), qDedupComponents(s, dir))

  /** Substring-level duplication stats (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" signal): for every doc,
    * how many of its distinct `n`-token spans also appear verbatim in at
    * least one OTHER document. Doc-level Jaccard (q34/q35) misses partial
    * copies — a doc that embeds one boilerplate paragraph inside fresh
    * text scores low Jaccard but high span duplication; this operator is
    * the per-span exact pass that catches it.
    *
    * Scale shape: spans are keyed by md5 of the joined tokens (fixed-width
    * 32-byte key instead of an ~8-word string — less shuffle IO; md5 is
    * also the one hash both engines compute identically, proven by q63).
    * Two shuffles on the span key — a combine-friendly count for document
    * frequency, then the join back to per-doc spans — and one count-shaped
    * rollup per doc. A viral span fans the join out only to its original
    * occurrence count, so skew is bounded by corpus frequency, never
    * squared. The span frame is consumed twice → internal scoped persist. */
  def dupNgramSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, s"span width must be >= 2 tokens, got $n")
    val grams = graft.core.InternalCaches.persist(
      withTokens(docs).filter(size(col("t")) >= n)
        .select(col("doc_id"), explode(expr(
          s"array_distinct(transform(sequence(1, size(t) - ${n - 1}), " +
          s"i -> md5(array_join(slice(t, i, $n), ' '))))")).as("g")))
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast(LongType).as("n_dup"))
      .filter(col("n_dup") > 0)
  }

  def qDupNgrams(s: SparkSession, dir: String): DataFrame =
    dupNgramSpans(Tables.documents(s, dir))

  /** Inter-document duplicated-PARAGRAPH statistics — the RefinedWeb /
    * MassiveText cleaning signal between q83's verbatim-span pairs and
    * q80's top-K boilerplate lines: per document, what fraction of its
    * paragraph CHARACTERS belongs to a paragraph appearing verbatim in at
    * least `minDocs` DISTINCT documents. (Within-doc repetition is q135's
    * job — the document-frequency here is distinct-doc, so a paragraph
    * repeated only inside one doc does not count.) Input carries a
    * `paras` array column; the gate derives paragraphs deterministically.
    *
    * Scale shape: one scan + one explode; the document-frequency agg and
    * the join back are keyed by md5(paragraph) — 128-bit keys instead of
    * arbitrary-length boilerplate strings on the wire, same identity
    * modulo a ~2⁻⁶⁴ collision. A viral boilerplate paragraph is ONE df
    * row (count-distinct, partial-aggregated) and fans back out only to
    * its own occurrence rows — never quadratic. */
  def paragraphDupStats(docs: DataFrame, minDocs: Int = 2,
                        maxDupFrac: Double = 0.5): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val occ = graft.core.InternalCaches.persist(
      docs.select(col("doc_id"), explode(col("paras")).as("para"))
        .select(col("doc_id"), md5(col("para")).as("pk"),
          length(col("para")).cast(LongType).as("chars")))
    val dfreq = occ.groupBy(col("pk"))
      .agg(countDistinct(col("doc_id")).cast(LongType).as("df"))
    occ.join(dfreq, "pk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_paras"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).cast(LongType)
          .as("n_dup_paras"),
        sum(col("chars")).cast(LongType).as("total_chars"),
        sum(when(col("df") >= minDocs, col("chars")).otherwise(0L))
          .cast(LongType).as("dup_chars"))
      .withColumn("dup_frac_raw",
        col("dup_chars").cast(DoubleType) / col("total_chars"))
      .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
        col("total_chars"), col("dup_chars"),
        round(col("dup_frac_raw"), 6).as("dup_char_fraction"),
        (col("dup_frac_raw") <= maxDupFrac).cast(LongType).as("keep"))
  }

  /** Gate: paragraphs are derived as non-overlapping 4-token chunks (the
    * q128 derivation precedent — the gate corpus is single-line, and the
    * closed vocabulary makes 4-token chunks repeat across documents at a
    * real, nontrivial rate, so the df ≥ 2 branch genuinely fires). */
  def qParagraphDedup(s: SparkSession, dir: String): DataFrame =
    paragraphDupStats(withTokens(Tables.documents(s, dir))
      .withColumn("paras", expr(
        "transform(sequence(1, cast(ceil(size(t) / 4.0) as int)), " +
          "i -> concat_ws(' ', slice(t, (i - 1) * 4 + 1, 4)))")))

  /** Positional inverted index — the lookup structure behind exact-phrase
    * decontamination and span attribution: one posting row per (token,
    * doc) with the term frequency and the ascending 0-based position list.
    * Purely combine-friendly: posexplode → one hash aggregation keyed by
    * (token, doc_id); positions are sorted INSIDE each posting's aggregate
    * (per-doc arrays, bounded by doc length), never via a corpus-wide
    * window, so a hot token costs exactly its posting rows and nothing
    * re-sorts globally. Emitting rows keyed by (token, doc_id) — rather
    * than one giant array per token — is itself the scale decision: a
    * stop-word's posting list at 100 TB does not fit one row, but its
    * posting ROWS spread across partitions fine (writers shard them; df
    * is one more count away). */
  def invertedIndex(docs: DataFrame): DataFrame =
    withTokens(docs)
      .select(col("doc_id"), posexplode(col("t")))
      .groupBy(col("col").as("token"), col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("tf"),
        array_join(transform(array_sort(collect_list(col("pos"))),
          _.cast(StringType)), ",").as("positions"))

  def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    invertedIndex(Tables.documents(s, dir))

  /** Exact-phrase search SERVED FROM the q84 positional inverted index —
    * the lookup that index exists for (phrase-level decontamination,
    * quote attribution, boilerplate tracing): for each query phrase
    * (w1 w2), join the two tokens' posting rows per document and count
    * ADJACENT positions (p+1 ∈ positions(w2) for p ∈ positions(w1)).
    * The DuckDB oracle computes the same counts by scanning the corpus
    * positionally — serve-path ≡ ground truth is the gate.
    *
    * Query phrases are the corpus's `topP` most frequent adjacent
    * bigrams (ties → lexicographic), derived from the same scan, so the
    * gate needs no out-of-band query file.
    *
    * Scale shape: the phrase table (topP rows) BROADCASTS onto the
    * token-keyed posting rows — per-phrase work is two posting-list
    * selections plus a doc-co-keyed equi-join; a hot token inflates its
    * own posting rows only (they spread as rows, never one giant
    * array). The adjacency count is a codegen'd array intersect on the
    * two bounded position lists.
    *
    * EAGER contract: the probed phrase table is collected when the
    * operator is CALLED — one corpus bigram aggregation runs even if the
    * returned frame is never executed (plan dumps pay it too) — because
    * the probed tokens prune the index build. That index is therefore a
    * per-call persist of the probed tokens' postings, not the full
    * [[invertedIndex]] other consumers could share. */
  def phraseSearch(docs: DataFrame, topP: Int = 3): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    // Serve-path pruning (round 20, guide §6 "predicate pushdown must
    // reach the scan" + the q68 IVF bucket-pruned-serve precedent): the
    // probed phrases are known before the index is consulted, so the
    // per-query index BUILD keeps only the probed tokens' posting rows —
    // the posting aggregation's shuffle shrinks from every token
    // occurrence in the corpus to the ≤ 2·topP probed tokens' occurrences
    // (at 100 TB: the difference between shuffling the corpus and
    // shuffling a few posting lists). The phrase table (topP rows,
    // bounded) collects ONCE and re-enters as a local frame, where the
    // old form ran its corpus aggregation under each of the two
    // broadcasts. Output depends only on the probed postings, so results
    // are identical (OptLab fingerprint + oracle hash-matched).
    val phraseRows = ngrams(withTokens(docs), 2)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .limit(topP)
      .select(col("w1"), col("w2"))
      .collect() // bounded: topP rows
    val phrases = phraseRows.map(r => (r.getString(0), r.getString(1)))
      .toSeq.toDF("w1", "w2")
    val toks = phraseRows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.toSeq
    val idx = graft.core.InternalCaches.persist(
      invertedIndex(docs).filter(col("token").isin(toks: _*)))
    val left = idx.join(broadcast(phrases), col("token") === col("w1"))
      .select(col("w1"), col("w2"), col("doc_id"),
        expr("transform(split(positions, ','), x -> CAST(x AS BIGINT) + 1)")
          .as("pp1"))
    val right = idx.join(broadcast(phrases), col("token") === col("w2"))
      .select(col("w1"), col("w2"), col("doc_id"),
        expr("transform(split(positions, ','), x -> CAST(x AS BIGINT))")
          .as("pp2"))
    left.join(right, Seq("w1", "w2", "doc_id"))
      .withColumn("o",
        size(array_intersect(col("pp1"), col("pp2"))).cast(LongType))
      .filter(col("o") >= 1L)
      .groupBy(concat(col("w1"), lit(" "), col("w2")).as("phrase"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("o")).cast(LongType).as("n_occurrences"))
      .orderBy(col("phrase"))
  }

  def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    phraseSearch(Tables.documents(s, dir))

  /** Corpus-unigram log-probability scoring — the CCNet-style LM quality
    * filter reduced to its distributable core: score(doc) = mean over
    * tokens of ln(count(token)/total_tokens). Docs of improbable tokens
    * (noise, boilerplate codes, wrong-language shards) score low and feed
    * a perplexity-bucket filter; a real KenLM would slot in as a
    * broadcast model with identical plumbing.
    *
    * Scale shape: one exploded token frame (persisted — it feeds the
    * vocabulary count AND the scoring join), a combine-friendly count per
    * token, a single-row total broadcast back (the q77 scalar pattern),
    * and an equi-join token→count — deliberately NOT a broadcast: a
    * corpus-derived vocabulary at 100 TB is itself huge (AQE still
    * broadcasts when it measures small). Numerics: each per-token ln runs
    * as a scalar (q57's proven cross-engine shape), rounded to 9 digits,
    * and the per-doc mean accumulates those as exact decimals — order-free
    * (the q42 pattern), so the result is partition-count-independent. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = graft.core.InternalCaches.persist(
      withTokens(docs).select(col("doc_id"), explode(col("t")).as("word")))
    val counts = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast(LongType).as("total"))
    perDocMeanLp(toks.join(counts, "word").crossJoin(broadcast(total)),
      col("cnt").cast(DoubleType) / col("total"), "n_tok", "avg_logprob")
  }

  def qUnigramLogProb(s: SparkSession, dir: String): DataFrame =
    unigramLogProb(Tables.documents(s, dir))

  /** Cross-source shingle-overlap matrix — the corpus-pair contamination /
    * redundancy diagnostic run before fixing mixture weights: for every
    * source pair, the Jaccard overlap of their distinct 3-gram shingle
    * sets. High overlap between two crawls means their tokens are not
    * independent evidence and the q77 mixing weights double-count.
    *
    * Scale shape: ONE distinct over (source, shingle-hash) — combine-
    * friendly, shuffled by (source, h) — then a self-equi-join on the
    * hash. Join fan-out per shingle is bounded by the number of SOURCES
    * (a shingle contributes at most K(K−1)/2 pairs no matter how many
    * documents repeat it), so the hot-shingle skew that makes document-
    * level shingle self-joins quadratic cannot occur: K is the corpus's
    * source count (dozens), not its document count. The pair rollup is
    * K² rows. Shingles are the same 64-bit hashes as q34/q35 (set-
    * identical to strings modulo ~2⁻⁶⁴ collisions).
    *
    * The distinct set frame is persisted: cardinalities and both join
    * sides consume it, and Catalyst does not deduplicate self-join
    * subtrees (the q34 lesson). */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sets = graft.core.InternalCaches.persist(
      withHashedShingles(docs)
        .select(col("source"), explode(col("hs")).as("h"))
        .distinct())
    val card = sets.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sets.as("a")
      .join(sets.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(card.select(col("source").as("s1"), col("n").as("n1")), "s1")
      .join(card.select(col("source").as("s2"), col("n").as("n2")), "s2")
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) / (col("n1") + col("n2") - col("n_inter")))
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_inter"), col("jaccard"))
  }

  def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(s, dir))

  /** Per-document shingle novelty — the memorization/duplication risk
    * signal: what fraction of a document's distinct 3-gram shingles occur
    * in NO other document. Boilerplate-heavy or near-duplicate docs score
    * near 0; genuinely novel text scores near 1. The corpus-level twin of
    * q83's span duplication (which measures verbatim runs, not set
    * novelty).
    *
    * Scale shape: explode → document-frequency count (combine-friendly)
    * → join the df back onto the exploded frame by hash (each (doc, h)
    * row matches exactly ONE df row, so hot shingles fan out no further
    * than their own occurrence list) → per-doc rollup. The exploded frame
    * is persisted because it feeds both the df count and the scoring
    * join — the q88 shape. */
  def shingleNovelty(docs: DataFrame): DataFrame = {
    val ex = graft.core.InternalCaches.persist(
      withHashedShingles(docs).select(col("doc_id"), explode(col("hs")).as("h")))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).cast(LongType).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast(DoubleType) / col("n_shingles"))
  }

  def qNovelty(s: SparkSession, dir: String): DataFrame =
    shingleNovelty(Tables.documents(s, dir))

  /** Length-bucketed batching report — the dynamic-batching efficiency
    * statistic a training-data loader publishes: documents are grouped
    * into fixed-width token-length buckets (the length-bucketing trick
    * that replaces pad-to-global-max), and per bucket the report gives
    * the padding waste IF each bucket pads to its own observed max —
    * exactly the cost model used to pick bucket boundaries.
    *
    * All-integer (bucket by `(n_tok−1) div width`, waste =
    * n_docs·max_tok − Σtok): hash-safe, engine-independent. One scan,
    * one combine-friendly aggregation keyed by the bounded bucket id. */
  def lengthBuckets(docs: DataFrame, width: Int = 32): DataFrame = {
    require(width >= 1, s"bucket width must be >= 1, got $width")
    withTokens(docs)
      .select(size(col("t")).cast(LongType).as("n_tok"))
      .withColumn("bucket", expr(s"(n_tok - 1) div $width"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("sum_tok"),
        max(col("n_tok")).as("max_tok"))
      .withColumn("pad_waste", col("n_docs") * col("max_tok") - col("sum_tok"))
  }

  def qLengthBuckets(s: SparkSession, dir: String): DataFrame =
    lengthBuckets(Tables.documents(s, dir))

  /** BPE merge-pair counting — the inner statistic of byte-pair-encoding
    * tokenizer training: corpus-wide counts of adjacent symbol pairs
    * (here the character-bigram base case of merge iteration 1), top-K
    * by (count desc, pair asc). A full BPE trainer iterates this count →
    * merge → re-count loop with the merged symbol table broadcast back;
    * each iteration is exactly this query's shape.
    *
    * Scale shape: token explode → a codegen'd per-word transform to its
    * 2-char windows → explode → ONE combine-friendly count keyed by the
    * pair vocabulary (bounded by alphabet², not corpus size) → bounded-
    * heap top-K (TakeOrderedAndProject, never a global sort). */
  def bpePairCounts(docs: DataFrame, topK: Int = 20): DataFrame =
    withTokens(docs)
      .select(explode(col("t")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)

  def qBpePairs(s: SparkSession, dir: String): DataFrame =
    bpePairCounts(Tables.documents(s, dir))

  /** Corpus snapshot diff — the dataset-versioning report between two
    * crawl snapshots: per source, how many distinct content hashes were
    * added, removed, and retained. Keyed by md5(text), so a re-crawled
    * byte-identical page is "retained" no matter its id, and an edited
    * page counts once removed + once added — the semantics a dataset
    * changelog wants.
    *
    * Shape: DISTINCT (source, hash) per side (combine-friendly), then one
    * full-outer equi-join on (source, hash) and a per-source rollup —
    * every step shuffles on the same compound key, so at 100 TB the two
    * snapshot scans co-partition and nothing re-shuffles between the
    * distinct, the join, and the rollup's map-side combine. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val a = oldDocs.select(col("source"), md5(col("text")).as("h")).distinct()
      .withColumn("in_a", lit(1))
    val b = newDocs.select(col("source"), md5(col("text")).as("h")).distinct()
      .withColumn("in_b", lit(1))
    a.join(b, Seq("source", "h"), "full_outer")
      .groupBy(col("source"))
      .agg(sum(when(col("in_a").isNull, 1L).otherwise(0L)).cast(LongType).as("n_added"),
        sum(when(col("in_b").isNull, 1L).otherwise(0L)).cast(LongType).as("n_removed"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L).otherwise(0L))
          .cast(LongType).as("n_common"))
  }

  /** Gate: two overlapping deterministic snapshots of the documents table
    * (doc_id mod 3 ≠ 0 vs ≠ 1 — the mod-2 split would make every source's
    * n_common trivially 0 on an all-unique corpus). */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    snapshotDiff(docs.filter(expr("doc_id % 3 != 0")),
      docs.filter(expr("doc_id % 3 != 1")))
  }

  /** Token-budget allocation across sources by integer water-filling —
    * the planning step between q77's mixing weights and an epoch's
    * sampler: given per-source token counts t_i and a total budget B,
    * small sources keep everything and large sources are capped at a
    * common water level c, chosen so Σ min(t_i, c) fills the budget.
    * kstar = max k (sources ordered by t asc) with P(k) + (K−k)·t_k ≤ B;
    * the K−kstar capped sources each get c = (B − P(kstar)) div (K−kstar)
    * (uniform integer caps; the div remainder stays unallocated — a
    * documented contract, not a float in sight). Feasibility of kstar
    * guarantees c ≥ t_kstar and infeasibility of kstar+1 guarantees
    * c < t_{kstar+1}, so min(t_i, c) = c exactly on the capped set.
    *
    * Scale shape: the only corpus-sized work is the per-source token
    * count (one combine-friendly agg); every window after that runs on
    * the K-row source table — K is dozens, so the unpartitioned windows
    * are constant-size no matter the corpus. */
  def tokenBudget(docs: DataFrame, budget: Long = 15000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val t = withTokens(docs)
      .groupBy(col("source"))
      .agg(sum(size(col("t")).cast(LongType)).as("n_tokens"))
    val byT = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val ranked = t
      .withColumn("rn", row_number().over(byT))
      .withColumn("pfx", sum(col("n_tokens")).over(
        byT.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("kk", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val kstar = ranked
      .filter(col("pfx") + (col("kk") - col("rn")) * col("n_tokens") <= budget)
      .agg(coalesce(max(col("rn")), lit(0L)).cast(LongType).as("kstar"),
        coalesce(max(col("pfx")), lit(0L)).cast(LongType).as("pk"))
    ranked.crossJoin(broadcast(kstar))
      .withColumn("cap", when(col("kk") === col("kstar"), lit(null).cast(LongType))
        .otherwise(expr(s"(${budget}L - pk) div (kk - kstar)")))
      .withColumn("capped", col("rn") > col("kstar"))
      .withColumn("allocated",
        when(col("capped"), least(col("n_tokens"), col("cap")))
          .otherwise(col("n_tokens")))
      .select(col("source"), col("n_tokens"), col("capped"), col("allocated"))
  }

  def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    tokenBudget(Tables.documents(s, dir))

  /** The BM25 posting kernel behind [[bm25]], [[bm25FromIndex]],
    * [[dirichletQL]], [[ndcgEval]], [[mrrEval]] and [[rm3Bm25]]: tokenize
    * → filter to query terms → per-(doc, term) tf → df → BM25 term score →
    * finish, one piece each.
    *
    *  - `postings` (this method): the corpus explode is FILTERED to the
    *    query terms before any shuffle, so the per-(doc, term) tf
    *    aggregation shuffles query-matching tokens only — at 100 TB the
    *    shuffle is sized by the posting lists, not the corpus. tf is read
    *    twice (the scored join AND its df/cf rollup) and Catalyst never
    *    dedupes self-referencing subtrees, so the posting-sized frame is
    *    persisted; without it the corpus explode+filter+agg runs twice.
    *  - [[corpusStats]]: (N, Σdl) as ONE combine-friendly agg, a 1-row
    *    frame every consumer crossJoins by broadcast.
    *  - [[bm25Scored]]: df is a terms-bounded rollup of tf joined back by
    *    broadcast; adds the UNROUNDED term score `ts`, one double chain
    *    with pinned association (the cross-engine contract):
    *    ln(1 + (N − df + .5)/(df + .5)) · tf·(k1+1) / (tf + k1·((1−b) +
    *    b·(dl·N/Σdl))). Each caller rounds it, or its weighted form, to 9.
    *  - [[topDocs]]: per-doc n_hit and the rounded `score` summed as
    *    DECIMAL(28,12) (order-free, the q88 recipe), round 6; top-k is
    *    orderBy+limit ⇒ TakeOrderedAndProject (bounded per-partition
    *    heaps, no global sort). Ties break by doc_id.
    *  - the per-term top-k cut is [[graft.plans.TopK.ranked]]: bounded
    *    heaps (no posting-sized window partitions), then `rk` over ≤ k
    *    rows per term. */
  private def postings(tok: DataFrame, terms: Seq[String]): DataFrame =
    graft.core.InternalCaches.persist(
      tokenCounts(tok.withColumn("dl", size(col("t")).cast(LongType)),
          col("doc_id"), col("dl"))("tf")
        .filter(col("w").isin(terms: _*)).withColumnRenamed("w", "tok"))

  /** `docLens`: one (doc_id, dl) row per document. */
  private def corpusStats(docLens: DataFrame): DataFrame =
    docLens.agg(
      count(lit(1)).cast(LongType).as("n_docs"),
      sum(col("dl")).cast(LongType).as("sum_dl"))

  /** `tf`: (doc_id, dl, tok, tf) postings; `stats`: the 1-row corpus stats. */
  private def bm25Scored(tf: DataFrame, stats: DataFrame,
                         k1: Double, b: Double): DataFrame = {
    require(k1 >= 0.0, s"k1 must be >= 0, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    val dfTbl = tf.groupBy(col("tok")).agg(count(lit(1)).cast(LongType).as("df"))
    tf.join(broadcast(dfTbl), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("ts",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * (col("dl").cast(DoubleType) * col("n_docs") / col("sum_dl"))))))
  }

  /** The corpus path: postings and stats from one tokenized frame. */
  private def bm25Scored(docs: DataFrame, terms: Seq[String],
                         k1: Double, b: Double): DataFrame = {
    val tok = withTokens(docs).select(col("doc_id"), col("t"))
    bm25Scored(postings(tok, terms), corpusStats(docLengths(tok)), k1, b)
  }

  private def topDocs(scored: DataFrame, name: String, k: Int): DataFrame =
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_hit"),
        round(sum(col("score").cast(DecimalType(28, 12))).cast(DoubleType), 6).as(name))
      .orderBy(col(name).desc, col("doc_id").asc)
      .limit(k)

  /** Okapi BM25 retrieval (Robertson et al., TREC-3) for a bounded query
    * term set — the ranking function behind every lexical retrieval /
    * RAG-recall stage, and the natural consumer of q84's inverted index.
    * Plan: the BM25 posting kernel end to end.
    *
    * Numerics (cross-engine contract): the kernel's per-(doc, term) score
    * rounded to 9; per-doc totals sum it as DECIMAL(28,12) and round to 6.
    * Ties break by doc_id. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    topDocs(bm25Scored(docs, terms, k1, b).withColumn("score", round(col("ts"), 9)), "bm25", k)
  }

  def qBm25(s: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(s, dir), Seq("vector", "join", "scan"))

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001,
    * SIGIR) — the language-modeling ranking function beside [[bm25]]'s
    * probabilistic one, the OTHER default every IR stack ships (Lucene's
    * `LMDirichletSimilarity`, Anserini's `-qld` flag):
    *
    *   score(d|Q) = Σ_{w∈Q} ln( (tf_{w,d} + μ·P(w|C)) / (|d| + μ) )
    *
    * decomposed the standard way so only MATCHED postings do corpus work:
    * Σ_matched ln(1 + tf/(μ·P(w|C)))  +  Σ_{w∈Q} ln(μ·P(w|C))  −
    * |Q|·ln(|d| + μ) — the middle term is a per-query constant, the last
    * rides the posting row's dl. Candidates are docs matching ≥ 1 query
    * term (the standard top-k serving choice; a no-match doc ranks by
    * document length alone and never enters a bounded-k result in
    * practice).
    *
    * Plan: the BM25 posting kernel's [[postings]] and [[corpusStats]]
    * (Σdl is the collection length); the cf table is terms-bounded and
    * broadcast; top-k is a bounded heap. Floats pinned: μ·P(w|C) rounds
    * to 12 on the bounded term frame, per-posting and per-term ln's round
    * to 9, per-doc sums are order-free decimals, one round-6 finish.
    *
    * μ must be > 0: for μ ≤ 0, μ·P(w|C) ≤ 0 and ln of it is NULL, which
    * would null out every score without an error. */
  def dirichletQL(docs: DataFrame, terms: Seq[String], k: Int = 10,
                  mu: Double = 2000.0): DataFrame = {
    require(terms.nonEmpty, "dirichletQL needs at least one query term")
    require(mu > 0.0, s"mu must be > 0, got $mu")
    val tok = withTokens(docs).select(col("doc_id"), col("t"))
    val tf = postings(tok, terms)
    val mupc = tf.groupBy(col("tok"))
      .agg(sum(col("tf")).cast(LongType).as("cf"))
      .crossJoin(broadcast(corpusStats(docLengths(tok))))
      .withColumn("mupc",
        round(lit(mu) * col("cf").cast(DoubleType) / col("sum_dl").cast(DoubleType), 12))
      .select(col("tok"), col("mupc"))
    // Σ_{w∈Q} ln(μ·P(w|C)) over the terms-bounded frame — a 1-row constant
    val cq = mupc.agg(
      sum(round(log(col("mupc")), 9).cast(DecimalType(28, 12)))
        .cast(DoubleType).as("cq"))
    val nQ = terms.size
    tf.join(broadcast(mupc), "tok")
      .withColumn("term_s",
        round(log(lit(1.0) + col("tf").cast(DoubleType) / col("mupc")), 9))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast(LongType).as("n_hit"),
        sum(col("term_s").cast(DecimalType(28, 12))).cast(DoubleType).as("match_s"))
      .crossJoin(broadcast(cq))
      .select(col("doc_id"), col("n_hit"),
        round(col("match_s") + col("cq") -
          lit(nQ.toDouble) * round(log(col("dl").cast(DoubleType) + lit(mu)), 9),
          6).as("ql"))
      .orderBy(col("ql").desc, col("doc_id").asc)
      .limit(k)
  }

  def qDirichletQL(s: SparkSession, dir: String): DataFrame =
    dirichletQL(Tables.documents(s, dir), Seq("vector", "join", "scan"))

  /** Graded retrieval-quality eval — nDCG@k (Järvelin & Kekäläinen 2002,
    * TOIS 20(4)) and average precision@k (the trec_eval "map" cut), the
    * two metrics every retrieval deployment publishes next to recall@k
    * (q105). Each query term is a single-term query ranked by its q113
    * per-term BM25 score; graded relevance is derived deterministically
    * from the corpus (rel = min(tf, 3), binary relevance = tf ≥ 2), so
    * the gate needs no external judgment file and stays hash-matchable.
    *
    *   DCG@k  = Σ_{r≤k} (2^rel_r − 1)/ln(r+1)   (natural-log discount,
    *            the Burges et al. 2005 LambdaRank convention)
    *   nDCG@k = DCG@k / IDCG@k  (ideal ranking: rel desc, doc_id asc)
    *   AP@k   = Σ_{r≤k, rel_r binary} P@r / min(R, k)
    *
    * Plan: the BM25 posting kernel; BOTH the system and ideal top-k cuts
    * are [[graft.plans.TopK.ranked]] bounded heaps, and every downstream
    * frame (ranked lists, per-term rollups) is ≤ k rows per term. Floats
    * pinned: per-rank gains are exact small integers via CASE (no pow),
    * discounts round to 9, DCG/AP sums run in DECIMAL(28,12)
    * (order-free), finals round to 6. */
  def ndcgEval(docs: DataFrame, terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "ndcgEval needs at least one query term")
    val dec = DecimalType(28, 12)
    val gainSql = "CASE rel WHEN 1 THEN 1.0 WHEN 2 THEN 3.0 ELSE 7.0 END"
    val scored = graft.core.InternalCaches.persist(bm25Scored(docs, terms, k1, b)
      .select(col("tok").as("term"), col("doc_id"), round(col("ts"), 9).as("score"),
        least(col("tf"), lit(3L)).cast(LongType).as("rel"),
        (col("tf") >= 2L).cast(LongType).as("relb")))
    val sys = TopK.ranked(scored, Seq("term"), Seq(TopK.desc("score"), TopK.asc("doc_id")),
      k, "rk").withColumn("rk", col("rk").cast(LongType))
    val dcg = sys
      .withColumn("g", expr(gainSql))
      .groupBy(col("term"))
      .agg(sum(round(col("g") / log(col("rk").cast(DoubleType) + lit(1.0)), 9)
        .cast(dec)).as("dcg_d"))
    val ideal = TopK.ranked(scored.select(col("term"), col("doc_id"), col("rel")),
        Seq("term"), Seq(TopK.desc("rel"), TopK.asc("doc_id")), k, "rk")
      .withColumn("g", expr(gainSql))
      .groupBy(col("term"))
      .agg(sum(round(col("g") / log(col("rk").cast(DoubleType) + lit(1.0)), 9)
        .cast(dec)).as("idcg_d"))
    val nrel = scored.groupBy(col("term"))
      .agg(sum(col("relb")).cast(LongType).as("n_rel"))
    val ap = sys
      .withColumn("cum", sum(col("relb")).over(Window.partitionBy(col("term"))
        .orderBy(col("rk").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast(LongType))
      .withColumn("contrib", when(col("relb") === 1L,
        round(col("cum").cast(DoubleType) / col("rk").cast(DoubleType), 9))
        .otherwise(lit(0.0)))
      .groupBy(col("term"))
      .agg(sum(col("contrib").cast(dec)).as("ap_d"))
    dcg.join(ideal, "term").join(broadcast(nrel), "term").join(ap, "term")
      .select(col("term"), col("n_rel"),
        round(col("dcg_d").cast(DoubleType), 6).as("dcg"),
        round(col("idcg_d").cast(DoubleType), 6).as("idcg"),
        round(col("dcg_d").cast(DoubleType) / col("idcg_d").cast(DoubleType), 6)
          .as("ndcg"),
        when(col("n_rel") > 0L,
          round(col("ap_d").cast(DoubleType) /
            least(col("n_rel"), lit(k.toLong)).cast(DoubleType), 6))
          .otherwise(lit(0.0)).as("ap"))
  }

  def qNdcg(s: SparkSession, dir: String): DataFrame =
    ndcgEval(Tables.documents(s, dir), Seq("vector", "join", "scan"))

  /** Mean-reciprocal-rank eval — the third metric of the trec_eval triad
    * beside [[ndcgEval]]'s nDCG@k and AP@k (Voorhees 1999, the TREC-8
    * QA track metric): per query, 1/rank of the FIRST relevant document
    * in the served top-k (0 if none surfaces) — the "how far does the
    * user scroll" statistic that nDCG's graded sum hides. Same q113
    * per-term BM25 ranking, same corpus-derived binary relevance
    * (tf ≥ 2), same bounded-heap cuts, so the three metrics are
    * computed over the IDENTICAL ranking and publishable side by side.
    *
    * Plan: the BM25 posting kernel through the
    * [[graft.plans.TopK.ranked]] bounded heap; everything after it runs on
    * ≤ k rows per term. rr is a max over the k-row frame (1/rk is
    * monotone — the first relevant row has the largest reciprocal), never
    * a scan-order dependency. */
  def mrrEval(docs: DataFrame, terms: Seq[String], k: Int = 10,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "mrrEval needs at least one query term")
    val scored = bm25Scored(docs, terms, k1, b)
      .select(col("tok").as("term"), col("doc_id"), round(col("ts"), 9).as("score"),
        (col("tf") >= 2L).cast(LongType).as("relb"))
    TopK.ranked(scored, Seq("term"), Seq(TopK.desc("score"), TopK.asc("doc_id")), k, "rk")
      .groupBy(col("term"))
      .agg(sum(col("relb")).cast(LongType).as("n_rel_topk"),
        coalesce(min(when(col("relb") === 1L, col("rk"))), lit(0L))
          .cast(LongType).as("first_rel_rank"),
        coalesce(max(when(col("relb") === 1L,
          round(lit(1.0) / col("rk").cast(DoubleType), 9))), lit(0.0)).as("rr"))
  }

  def qMrr(s: SparkSession, dir: String): DataFrame =
    mrrEval(Tables.documents(s, dir), Seq("vector", "join", "scan"))

  /** RM3 pseudo-relevance-feedback query expansion (Lavrenko & Croft
    * 2001; the Anserini/Lucene default feedback model) — the classic
    * recall lever on top of [[bm25]]: score the original query, treat the
    * top `fbDocs` as relevant, build the relevance model
    * P(w|R) = Σ_d ŵ(d)·tf(w,d)/|d| (ŵ = normalized BM25 score), take the
    * top `fbTerms` expansion terms, and re-run BM25 with interpolated
    * term weights — α/|Q| per original term, (1−α)·P̂(w) per expansion
    * term. α and 1−α are BOTH pinned (the q153 precedent), each in
    * (0, 1) and summing to 1 within 1e-9 — a pair that does not sum to 1
    * would interpolate silently wrong weights.
    *
    * Scale shape: pass 1 is [[bm25]]; the relevance model touches ONLY
    * the fbDocs feedback documents (a bounded frame — the expansion-term
    * selection sorts the vocabulary of 5 documents, not the corpus); the
    * final |Q|+fbTerms term weights collect to the driver (≤ 8 rows, the
    * BPE-argmax precedent) and ship back as plan literals into pass 2,
    * the BM25 posting kernel over the expanded terms.
    * Floats pinned end-to-end: feedback weights are round-6 BM25 scores
    * over an exact decimal total, relevance-model contributions round 9
    * into decimal sums, term weights round 9 BEFORE the collect (so the
    * literal equals the oracle's computed value), weighted term scores
    * round 9 into per-doc decimal sums, round-6 finish. */
  def rm3Bm25(docs: DataFrame, terms: Seq[String], k: Int = 10,
              fbDocs: Int = 5, fbTerms: Int = 5,
              alpha: Double = 0.6, oneMinusAlpha: Double = 0.4,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "rm3 needs at least one query term")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    require(oneMinusAlpha > 0.0 && oneMinusAlpha < 1.0,
      s"oneMinusAlpha must be in (0, 1), got $oneMinusAlpha")
    require(math.abs(alpha + oneMinusAlpha - 1.0) <= 1e-9,
      s"alpha + oneMinusAlpha must be 1, got ${alpha + oneMinusAlpha}")
    val dec = DecimalType(28, 12)
    val tok = graft.core.InternalCaches.persist(
      withTokens(docs).select(col("doc_id"), col("t")))
    val fb = graft.core.InternalCaches.persist(bm25(tok, terms, fbDocs, k1, b))
    val fbTot = fb.agg(sum(col("bm25").cast(dec)).as("tot"))
    val wd = fb.crossJoin(broadcast(fbTot))
      .select(col("doc_id"), (col("bm25") / col("tot").cast(DoubleType)).as("wd"))
    val rm = tokenCounts(
        tok.join(broadcast(wd), "doc_id").withColumn("dl", size(col("t")).cast(LongType)),
        col("doc_id"), col("wd"), col("dl"))("tfw")
      .withColumn("contrib",
        round(col("wd") * (col("tfw").cast(DoubleType) / col("dl")), 9))
      .groupBy(col("w"))
      .agg(sum(col("contrib").cast(dec)).as("prs"))
      .filter(!col("w").isin(terms: _*))
    val topE = graft.core.InternalCaches.persist(
      rm.orderBy(col("prs").desc, col("w").asc).limit(fbTerms))
    val eTot = topE.agg(sum(col("prs")).as("etot"))
    val eW = topE.crossJoin(broadcast(eTot))
      .select(col("w"), round(lit(oneMinusAlpha) *
        (col("prs").cast(DoubleType) / col("etot").cast(DoubleType)), 9).as("qw"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val ow = EngineMath.round(alpha / terms.length, 9)
    val weights = terms.map(t => (t, ow)) ++ eW
    val mapCol = map(weights.flatMap { case (t, v) => Seq(lit(t), lit(v)) }: _*)
    topDocs(bm25Scored(tok, weights.map(_._1), k1, b)
      .withColumn("score", round(element_at(mapCol, col("tok")) * col("ts"), 9)), "rm3", k)
  }

  def qRm3(s: SparkSession, dir: String): DataFrame =
    rm3Bm25(Tables.documents(s, dir), Seq("vector", "join", "scan"))

  /** Temperature-scaled source mixing (the UniMax / multilingual-sampling
    * α-exponent family, here pinned at α = 1/2 so the exponent is a
    * correctly-rounded IEEE sqrt, not a libm pow): upweights small sources
    * relative to proportional sampling without q112's hard caps. The
    * scaled mass s_i = ⌊√(t_i · 10⁶)⌋ is a BIGINT, so the normalizer
    * Σs_i is an exact integer sum (no float accumulation order anywhere);
    * weight_i is then ONE double division and alloc_i = B·s_i div Σs_i
    * stays in integer arithmetic (div remainder unallocated — the q112
    * contract). The ·10⁶ pre-scale keeps three fractional sqrt digits
    * while holding B·s_i under the i64 bound out to corpus sizes of ~10¹³
    * tokens per source.
    *
    * Scale shape: the only corpus-sized work is the per-source token
    * count; the unpartitioned window runs on the K-row source table — a
    * constant (q112 precedent). */
  def temperatureMix(docs: DataFrame, budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withTokens(docs)
      .groupBy(col("source"))
      .agg(sum(size(col("t")).cast(LongType)).as("n_tokens"))
      .withColumn("s_scaled",
        floor(sqrt(col("n_tokens").cast(DoubleType) * lit(1000000.0))).cast(LongType))
      .withColumn("s_total", sum(col("s_scaled")).over(all))
      // degenerate-corpus guard (round 12): a corpus whose every source has
      // zero tokens gives s_total = 0; the weights are then DEFINED as 0
      // (nothing to sample, allocate nothing) instead of silently nulling
      // out of the division — mirrored in the oracle's CASE
      .withColumn("weight", when(col("s_total") > 0,
        round(col("s_scaled").cast(DoubleType) / col("s_total"), 9))
        .otherwise(lit(0.0)))
      .withColumn("alloc_tokens", when(col("s_total") > 0,
        expr(s"(${budget}L * s_scaled) div s_total")).otherwise(lit(0L)))
      .select(col("source"), col("n_tokens"), col("s_scaled"), col("weight"),
        col("alloc_tokens"))
  }

  def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(s, dir))

  /** UniMax/multilingual temperature SWEEP — the q114 α = 1/2 mixing
    * computed at every operating point of a pinned α grid
    * {1/4, 1/2, 3/4, 1} in one pass, the table a mixture designer reads
    * to pick the flattening temperature (Chung et al. 2023 publish
    * exactly this sweep; α = 1 is proportional sampling, α → 0 uniform).
    * Every exponent is composed from CORRECTLY-ROUNDED IEEE sqrts so the
    * scaled masses are bit-identical on any engine — no libm pow
    * anywhere: n^(1/2) = √n (q114), n^(1/4) = √√n, n^(3/4) = √(x·√x)
    * (the q160 trick), n^1 exact. Per α the masses floor to integers, the
    * normalizer is an exact integer sum, and allocation is integer div —
    * the q112/q114 remainder contract at each grid point.
    *
    * Scale shape: ONE corpus scan into the K-row source token counts;
    * the ×4 grid fan-out and the per-α windows run on the 4·K-row
    * bounded frame. */
  def temperatureSweep(docs: DataFrame, budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val perAlpha = Window.partitionBy(col("alpha"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withTokens(docs)
      .groupBy(col("source"))
      .agg(sum(size(col("t")).cast(LongType)).as("n_tokens"))
      .withColumn("alpha", explode(expr(
        "array(CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE), " +
          "CAST(0.75 AS DOUBLE), CAST(1.0 AS DOUBLE))")))
      .withColumn("s_scaled", expr(
        """CASE alpha
             WHEN 0.25 THEN CAST(floor(sqrt(sqrt(
               CAST(n_tokens AS DOUBLE) * 1000000000000.0))) AS BIGINT)
             WHEN 0.5 THEN CAST(floor(sqrt(
               CAST(n_tokens AS DOUBLE) * 1000000.0)) AS BIGINT)
             WHEN 0.75 THEN CAST(floor(sqrt(
               (CAST(n_tokens AS DOUBLE) * 10000.0) *
               sqrt(CAST(n_tokens AS DOUBLE) * 10000.0))) AS BIGINT)
             ELSE n_tokens
           END"""))
      .withColumn("s_total", sum(col("s_scaled")).over(perAlpha))
      .withColumn("weight", when(col("s_total") > 0,
        round(col("s_scaled").cast(DoubleType) / col("s_total"), 9))
        .otherwise(lit(0.0)))
      .withColumn("alloc_tokens", when(col("s_total") > 0,
        expr(s"(${budget}L * s_scaled) div s_total")).otherwise(lit(0L)))
      .select(col("alpha"), col("source"), col("n_tokens"), col("s_scaled"),
        col("weight"), col("alloc_tokens"))
  }

  def qTemperatureSweep(s: SparkSession, dir: String): DataFrame =
    temperatureSweep(Tables.documents(s, dir))

  /** Windowed PMI co-occurrence (Church & Hanks 1990) — the collocation
    * statistic behind word-vector objectives and topic coherence, and the
    * ±w generalization of q102's adjacent-bigram score. Pairs come out of
    * the token ARRAY as one codegen'd nested transform (for each position
    * i, partners j ∈ (i, i+w]) — fan-out ≤ w per token, no positional
    * self-join, ONE corpus pass; unordered pairs canonicalize as
    * (least, greatest) at emission so the count table is vocab²-bounded.
    * Unigram occurrence counts read the SAME internally-persisted token
    * scan (the q102 one-cached-scan shape); both count tables broadcast
    * back onto the pair rollup.
    *
    * Numerics: pmi = ln(c12·N²tok / (c1·c2·Npairs)) evaluated as a pinned
    * double chain — ((c12·Ntok)·Ntok) / ((c1·c2)·Npairs) — so no integer
    * product can overflow at scale and the one ln rides the q57/q88
    * cross-engine recipe, rounded to 9. The minCount floor keeps hapax
    * noise out (the q102 δ contract). */
  def pmiCooc(docs: DataFrame, window: Int = 3, minCount: Long = 5L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val tok = graft.core.InternalCaches.persist(
      withTokens(docs).select(col("t")))
    val pairs = tok.filter(size(col("t")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, size(t) - 1), i ->
              transform(sequence(i + 1, least(i + $window, size(t))), j ->
                struct(least(element_at(t, i), element_at(t, j)) AS w1,
                       greatest(element_at(t, i), element_at(t, j)) AS w2))))""")).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val c12 = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast(LongType).as("c12"))
    val uni = tokenCounts(tok)("c")
    // both rollups are vocab-bounded: persist so the totals agg below does
    // not re-run the corpus scans
    val c12P = graft.core.InternalCaches.persist(c12)
    val uniP = graft.core.InternalCaches.persist(uni)
    val totals = c12P.agg(sum(col("c12")).as("n_pairs"))
      .crossJoin(uniP.agg(sum(col("c")).as("n_tok")))
    c12P.filter(col("c12") >= minCount)
      .join(broadcast(uniP.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uniP.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        ((col("c12").cast(DoubleType) * col("n_tok")) * col("n_tok")) /
          ((col("c1").cast(DoubleType) * col("c2")) * col("n_pairs"))), 9))
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
  }

  def qPmiCooc(s: SparkSession, dir: String): DataFrame =
    pmiCooc(Tables.documents(s, dir))

  /** BM25 scoring served from the q84 inverted index — the deployment
    * shape: the posting table is built once ([[invertedIndex]], persisted/
    * bucketed by token in production) and every query then touches ONLY
    * its terms' posting rows, never the corpus. Semantically identical to
    * [[bm25]] (same pinned double chain, same decimal sums — asserted in
    * TextSpec); the difference is purely physical: tf comes from the
    * pre-built postings (filter on token = posting-list lookup), dl/N/Σdl
    * from a doc-length side table a real index stores alongside. Both feed
    * the BM25 posting kernel's df/score/finish pieces ([[bm25Scored]],
    * [[corpusStats]], [[topDocs]]). */
  def bm25FromIndex(postings: DataFrame, docLens: DataFrame, terms: Seq[String],
                    k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25FromIndex needs at least one query term")
    // same double-consume shape as the kernel's postings: persist the
    // posting-list-sized lookup so the postings filter runs once
    val tf = graft.core.InternalCaches.persist(postings
      .filter(col("token").isin(terms: _*))
      .select(col("token").as("tok"), col("doc_id"), col("tf"))
      .join(docLens, "doc_id"))
    topDocs(bm25Scored(tf, corpusStats(docLens), k1, b)
      .withColumn("score", round(col("ts"), 9)), "bm25", k)
  }

  /** Gopher quality-rule battery (Rae et al. 2021, Appendix A1.1) — the
    * document-level filter stack production pipelines run before any
    * model-based scoring, as ONE pass emitting each rule's statistic plus
    * the conjunctive keep flag (a pipeline tunes thresholds per corpus;
    * surfacing the raw statistics is what makes that possible):
    *
    *   R1 word count ∈ [minWords, maxWords]        (50, 100 000 in the paper)
    *   R2 mean word length ∈ [3, 10] characters
    *   R3 symbol-to-word ratio ≤ 0.1 ('#' and non-overlapping "...")
    *   R4 ≥ 80% of words contain an alphabetic character — a UNICODE
    *      letter (`\p{L}`), not ASCII [a-zA-Z]: the multilingual corpora
    *      the q123 byte-safe tokenizer brings in scope must not have
    *      their é/ä/ø words counted non-alphabetic (round-13 ADVICE fix;
    *      both engines' regex classes implement the same Unicode
    *      general category L)
    *   R5 ≥ 2 stopwords present (the corpus stop list)
    *
    * Scale shape: every statistic is a per-row projection over one corpus
    * scan — integer counts and ONE pinned double division each, no joins,
    * no shuffle at all before a caller's aggregation; at 100 TB this is
    * embarrassingly parallel and rides whole-stage codegen. Ratios round
    * to 6 for the report; the keep flag compares the UNROUNDED doubles
    * (both engines compute the identical IEEE chain). The "..."
    * count uses leftmost-nonoverlapping replace-and-diff — engine-exact
    * (the q118 replace contract). */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
                  maxWords: Long = 100000L): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"bad word-count bounds [$minWords, $maxWords]")
    val stopArr = Stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    withTokens(docs)
      .withColumn("n_words", size(col("t")).cast(LongType))
      .withColumn("sum_wlen",
        expr("aggregate(t, 0L, (acc, x) -> acc + length(x))"))
      .withColumn("mean_wlen_raw",
        col("sum_wlen").cast(DoubleType) / col("n_words"))
      .withColumn("n_symbols",
        (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))).cast(LongType)
          + ((length(col("text")) - length(replace(col("text"), lit("..."), lit("")))) / lit(3)).cast(LongType))
      .withColumn("symbol_ratio_raw",
        col("n_symbols").cast(DoubleType) / col("n_words"))
      .withColumn("n_alpha",
        expr("size(filter(t, x -> x rlike '\\\\p{L}'))").cast(LongType))
      .withColumn("alpha_ratio_raw",
        col("n_alpha").cast(DoubleType) / col("n_words"))
      .withColumn("n_stop",
        expr(s"size(filter(t, x -> array_contains($stopArr, x)))").cast(LongType))
      .withColumn("keep",
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_wlen_raw") >= 3.0 && col("mean_wlen_raw") <= 10.0 &&
          col("symbol_ratio_raw") <= 0.1 &&
          col("alpha_ratio_raw") >= 0.8 &&
          col("n_stop") >= 2L).cast(LongType))
      .select(col("doc_id"), col("n_words"),
        round(col("mean_wlen_raw"), 6).as("mean_wlen"),
        round(col("symbol_ratio_raw"), 6).as("symbol_ratio"),
        round(col("alpha_ratio_raw"), 6).as("alpha_ratio"),
        col("n_stop"), col("keep"))
  }

  def qGopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(s, dir))

  /** LINE-level Gopher rules (Rae et al. 2021, Appendix A1.1 — the line-
    * shape half [[gopherRules]]'s word-level battery doesn't cover): drop
    * a document when
    *
    *   L1 > 90% of its lines start with a bullet point ('- ', '• ', '* '
    *      after leading-space trim), or
    *   L2 > 30% of its lines end with an ellipsis ("..." or '…' before
    *      trailing-space trim).
    *
    * Emits each rule's raw statistic plus the conjunctive keep flag, the
    * q126 report shape. Scale shape: ONE per-row projection over a line
    * split — integer counts and one pinned double division per ratio, no
    * join, no shuffle, pure codegen'd scan work; embarrassingly parallel
    * at 100 TB. The keep flag compares the UNROUNDED divisions (identical
    * IEEE chain both engines); n_lines ≥ 1 always (splitting any string
    * yields at least one element), so no division guards are needed. */
  def lineRules(docs: DataFrame, bulletMax: Double = 0.9,
                ellipsisMax: Double = 0.3): DataFrame = {
    require(bulletMax > 0.0 && bulletMax <= 1.0, s"bad bulletMax $bulletMax")
    require(ellipsisMax > 0.0 && ellipsisMax <= 1.0, s"bad ellipsisMax $ellipsisMax")
    docs
      .withColumn("ls", split(col("text"), "\n", -1))
      .withColumn("n_lines", size(col("ls")).cast(LongType))
      .withColumn("n_bullet", expr(
        "size(filter(ls, x -> startswith(ltrim(x), '- ') OR " +
          "startswith(ltrim(x), '• ') OR startswith(ltrim(x), '* ')))").cast(LongType))
      .withColumn("n_ellipsis", expr(
        "size(filter(ls, x -> endswith(rtrim(x), '...') OR " +
          "endswith(rtrim(x), '…')))").cast(LongType))
      .withColumn("bullet_ratio_raw",
        col("n_bullet").cast(DoubleType) / col("n_lines"))
      .withColumn("ellipsis_ratio_raw",
        col("n_ellipsis").cast(DoubleType) / col("n_lines"))
      .withColumn("keep",
        (!(col("bullet_ratio_raw") > bulletMax ||
           col("ellipsis_ratio_raw") > ellipsisMax)).cast(LongType))
      .select(col("doc_id"), col("n_lines"), col("n_bullet"), col("n_ellipsis"),
        round(col("bullet_ratio_raw"), 6).as("bullet_ratio"),
        round(col("ellipsis_ratio_raw"), 6).as("ellipsis_ratio"),
        col("keep"))
  }

  /** q128 — line rules over a DERIVED multi-line corpus: the gate tables
    * carry single-line text, so the q123-precedent deterministic-
    * transform trick manufactures line structure in BOTH engines with the
    * same two leftmost-nonoverlapping replaces (' the ' opens a bullet
    * line, ' table ' closes the previous line with an ellipsis), giving
    * the ratios real spread for the hash to bite on. */
  def qLineRules(s: SparkSession, dir: String): DataFrame =
    lineRules(Tables.documents(s, dir).withColumn("text",
      replace(replace(col("text"), lit(" the "), lit("\n- the ")),
        lit(" table "), lit("...\n table "))))

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009) — the standard way production search serves
    * BOTH a lexical and a semantic ranker: fuse the BM25 top-k and the
    * embedding-cosine top-k by rrf(d) = Σᵢ 1/(k₀ + rankᵢ(d)), k₀ = 60
    * (the published constant). Rank fusion needs only the two bounded
    * top-k lists — never the underlying scores' scales — which is exactly
    * why RRF is the hybrid default: BM25 scores and cosine similarities
    * are not comparable, ranks are.
    *
    * Scale shape: both inputs are already depth-row bounded (BM25's
    * TakeOrderedAndProject heap, kNN's per-query rank window), so the
    * fusion itself — a full-outer join of two ≤ depth-row frames plus one
    * division per side — is CONSTANT-sized no matter the corpus; all
    * corpus-scale work stays inside the two retrieval operators, each
    * with its own audited plan. The serve-path twins ([[bm25FromIndex]],
    * [[graft.ops.Ann.ivfKnn]]) slot in unchanged through
    * [[rrfFusionRanks]] — rank lists are rank lists (asserted in
    * TextSpec: the served index + IVF composition reproduces this
    * operator exactly). Doc identity bridges the `documents`/
    * `embeddings` tables by the corpus contract doc_id = vec_id.
    *
    * CANDIDATE DEPTH (round-13 ADVICE fix): standard RRF fuses candidate
    * lists DEEPER than the served top-k — with depth == k, a doc ranked
    * k+1 in BOTH lists can out-score an emitted single-list rank-k doc
    * yet never enter the fusion. Each retriever therefore contributes its
    * top `candidateDepth` (default 4·k) candidates; only the fused output
    * is cut to k. Reported r_lex/r_sem are CANDIDATE-list ranks (≤ depth);
    * absent-from-one-list docs carry rank 0 (absent marker) and
    * contribute nothing to the sum. */
  def rrfFusion(docs: DataFrame, emb: DataFrame, terms: Seq[String],
                queryVecId: Long = 0L, k: Int = 10, kRrf: Int = 60,
                candidateDepth: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val depth = if (candidateDepth <= 0) 4 * k else candidateDepth
    require(depth >= k, s"candidateDepth must be >= k, got $depth < $k")
    import org.apache.spark.sql.expressions.Window
    // unpartitioned window over the ≤ depth-row BM25 frame — a constant,
    // the q112-precedent admissible exception
    val lexW = Window.orderBy(col("bm25").desc, col("doc_id").asc)
    val lex = bm25(docs, terms, depth)
      .withColumn("rank", row_number().over(lexW).cast(LongType))
      .select(col("doc_id"), col("rank"))
    val sem = graft.ops.Embeddings.bruteForceKnn(emb, col("vec_id") === queryVecId, depth)
      .select(col("nid").as("doc_id"), col("rk").cast(LongType).as("rank"))
    rrfFusionRanks(lex, sem, k, kRrf)
  }

  /** Rank-list-input RRF — the fusion core [[rrfFusion]] delegates to,
    * taking the two candidate lists as (doc_id, rank) frames so ANY
    * retriever pair composes: the serve-path twins ([[bm25FromIndex]]
    * over a prebuilt index, [[graft.ops.Ann.ivfKnn]] over an IVF index)
    * slot in with a row_number over their bounded output — the
    * deployment-scale path, asserted ≡ the direct-operator fusion in
    * TextSpec. Inputs are ≤ depth-row bounded frames by construction
    * (every retriever here ends in a top-k heap), so the full-outer
    * fusion join is constant-sized at any corpus scale. */
  def rrfFusionRanks(lex: DataFrame, sem: DataFrame,
                     k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val l = lex.select(col("doc_id"), col("rank").cast(LongType).as("r_lex"))
    val s = sem.select(col("doc_id"), col("rank").cast(LongType).as("r_sem"))
    l.join(s, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        when(col("r_lex").isNotNull, lit(1.0) / (lit(kRrf) + col("r_lex")))
          .otherwise(lit(0.0)) +
        when(col("r_sem").isNotNull, lit(1.0) / (lit(kRrf) + col("r_sem")))
          .otherwise(lit(0.0)), 9))
      .withColumn("r_lex", coalesce(col("r_lex"), lit(0L)))
      .withColumn("r_sem", coalesce(col("r_sem"), lit(0L)))
      .select(col("doc_id"), col("r_lex"), col("r_sem"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
  }

  def qRrfFusion(s: SparkSession, dir: String): DataFrame =
    rrfFusion(Tables.documents(s, dir), Tables.embeddings(s, dir),
      Seq("vector", "join", "scan"))

  /** Doc-length side table for [[bm25FromIndex]] — what a real index
    * build writes next to the postings. */
  def docLengths(docs: DataFrame): DataFrame =
    withTokens(docs).select(col("doc_id"), size(col("t")).cast(LongType).as("dl"))

  /** Full BPE tokenizer training (Sennrich et al., ACL 2016) — the
    * count → argmax → merge loop q109 counts one iteration of, run to
    * `nMerges` merges: [[mergeLoop]] scored by raw pair count, so ties
    * break by (count desc, left asc, right asc). One corpus scan builds
    * the vocab-bounded word table and every merge after it runs on that
    * table, so training cost is O(corpus) + nMerges·O(vocab).
    *
    * Words are carried as a delimiter-anchored symbol string — `" a  b "`
    * (double-space between symbols, single-space borders) — so a merge is
    * ONE literal leftmost-nonoverlapping string replace
    * `" a  b " → " ab "`: the double internal delimiter donates one
    * anchor space to each neighbor, which makes consecutive merge sites
    * independent and false sub-symbol matches impossible (symbols never
    * contain spaces). That exact replace runs identically in any engine
    * with sequential-leftmost replace semantics, which is what lets the
    * DuckDB oracle unroll the training loop as materialized per-iteration
    * CTE stages (the q25 Gonzalez-unroll precedent). Symbols are
    * arbitrary Unicode (code-point units, the q37 recipe): the initial
    * character split is Spark's code-point `substring`, and the merge
    * pattern/replacement travel as `lit()` columns — never through a SQL
    * string literal — so backslashes and multi-byte symbols round-trip
    * exactly (the q123 gate hash-matches a non-ASCII corpus against
    * DuckDB, whose `s[i:i]` slicing is code-point-based for precomposed
    * characters; combining sequences are out of contract on both sides).
    *
    * EAGER contract (the covarianceReport exception, same reason): each
    * merge choice is DATA the next iteration's plan is built from, so
    * the loop runs per-iteration count actions at call time and the
    * returned merge table is a driver-local frame — callers pay training
    * cost on call, not on first consume. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mergeLoop(docs, nMerges)(pairCount)._1
      .map { case (rank, a, b, merged, cnt, _) => (rank, a, b, merged, cnt) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "cnt")
  }

  /** BPE's merge score: the pair's corpus-weighted count. */
  private val pairCount: (Long, Long, Long) => Long = (cnt, _, _) => cnt

  /** The corpus word table in the anchored symbol form: one row per
    * distinct (`keys`, w) with its occurrence count `freq` and `s`, w's
    * code points joined as `" a  b  c "`. The table is vocab-bounded, so
    * carrying it at corpus shuffle parallelism would make every merge pay
    * (partitions × stages) of pure task overhead — it is coalesced to a
    * small constant (no shuffle; a 1M-word vocab in 4 partitions is still
    * ~250k short rows each). */
  private def anchoredWords(docs: DataFrame, keys: Column*): DataFrame =
    tokenCounts(docs, keys: _*)("freq")
      .withColumn("s", concat(lit(" "),
        expr("array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '  ')"),
        lit(" ")))
      .coalesce(4)

  /** One merge on an anchored symbol string: `" a  b "` → `" ab "`, the
    * pattern and replacement riding lit() columns (backslash- and
    * multi-byte-safe, q123). */
  private def mergeSymbols(s: Column, a: String, b: String): Column =
    replace(s, lit(s" $a  $b "), lit(s" ${a + b} "))

  /** The merge kernel behind [[bpeTrain]], [[bpeSegmentCounts]] and
    * [[wordpieceTrain]], which differ only in `score(cnt(ab), cnt(a),
    * cnt(b))`. ONE corpus scan builds the persisted [[anchoredWords]]
    * table; each merge then runs ONE count action — a fused tier-tagged
    * aggregation yielding every symbol's count (tier 1) and every
    * adjacent pair's count (tier 2), collected to the driver. The collect
    * is bounded independently of the corpus: symbols ≤ charset + nMerges
    * (each merge adds at most one) and pairs ≤ symbols². The driver picks
    * the merge by (score desc, lhs asc, rhs asc), strings in UTF-8 byte
    * order ([[EngineMath.utf8Lt]], the engine's STRING order), and applies it as
    * ONE [[mergeSymbols]] replace followed by a LAZY localCheckpoint.
    * Lazy because the checkpoint still cuts lineage at call time (plan
    * depth stays 1 at any merge count and no replace chain re-executes),
    * while the next merge's count job materializes it in the same pass:
    * one word-table pass per merge instead of an extra eager job. An
    * executor loss mid-training fails the job (local checkpoints are not
    * replicated); training re-runs from the corpus.
    *
    * Returns (rank, lhs, rhs, merged, cnt, score) per merge — fewer than
    * `nMerges` rows once no adjacent pair is left — and the final word
    * table (freq, s), which IS the segmented corpus. */
  private def mergeLoop(docs: DataFrame, nMerges: Int)(score: (Long, Long, Long) => Long)
      : (Seq[(Long, String, String, String, Long, Long)], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var cur = graft.core.InternalCaches.persist(anchoredWords(docs))
      .select(col("freq"), col("s"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long, Long)]
    var exhausted = false
    for (it <- 1 to nMerges if !exhausted) {
      val counts = cur
        .select(col("freq"), expr("split(trim(s), '  ')").as("sy"))
        .select(col("freq"), explode(expr(
          """concat(
               transform(sy, x -> struct(1 AS tier, x AS a, CAST(NULL AS STRING) AS b)),
               CASE WHEN size(sy) >= 2 THEN
                 transform(sequence(1, size(sy) - 1), i ->
                   struct(2 AS tier, element_at(sy, i) AS a, element_at(sy, i + 1) AS b))
               ELSE CAST(array() AS ARRAY<STRUCT<tier: INT, a: STRING, b: STRING>>) END)"""))
          .as("g"))
        .groupBy(col("g.tier").as("tier"), col("g.a").as("a"), col("g.b").as("b"))
        .agg(sum(col("freq")).cast(LongType).as("c"))
        .collect()
      val uni = counts.filter(_.getInt(0) == 1)
        .map(r => r.getString(1) -> r.getLong(3)).toMap
      val pairs = counts.filter(_.getInt(0) == 2).map { r =>
        val (a, b, cnt) = (r.getString(1), r.getString(2), r.getLong(3))
        (a, b, cnt, score(cnt, uni(a), uni(b)))
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val (a, b, cnt, sc) = pairs.reduce { (x, y) =>
          if (y._4 > x._4 || (y._4 == x._4 && (EngineMath.utf8Lt(y._1, x._1) ||
              (y._1 == x._1 && EngineMath.utf8Lt(y._2, x._2))))) y else x
        }
        merges += ((it.toLong, a, b, a + b, cnt, sc))
        cur = cur.withColumn("s", mergeSymbols(col("s"), a, b)).localCheckpoint(false)
      }
    }
    (merges.toSeq, cur)
  }

  /** Top-K symbols of an anchored word table by corpus-weighted count,
    * (cnt desc, symbol asc) ties — a bounded heap over a vocab-bounded
    * aggregation. */
  private def symbolHistogram(words: DataFrame, topK: Int): DataFrame =
    words.select(col("freq"), explode(expr("split(trim(s), '  ')")).as("sym"))
      .filter(col("sym") =!= "")
      .groupBy(col("sym")).agg(sum(col("freq")).cast(LongType).as("cnt"))
      .orderBy(col("cnt").desc, col("sym").asc)
      .limit(topK)

  /** The frozen merge chain over an anchored word table, shared by
    * [[bpeApplyMerges]] and [[tokenizerFertility]]: nested [[mergeSymbols]]
    * replaces in rank order, one projection per `chunkEvery` merges. Past
    * one chunk every boundary is a LAZY localCheckpoint: it cuts the plan
    * at once (expression depth per codegen'd projection stays ≤
    * chunkEvery), while the whole chain still runs inside the consumer's
    * one job. */
  private def replayMerges(words: DataFrame, merges: Seq[(String, String)],
                           chunkEvery: Int): DataFrame = {
    require(chunkEvery >= 1, s"chunkEvery must be >= 1, got $chunkEvery")
    merges.grouped(chunkEvery).foldLeft(words) { (cur, chunk) =>
      val next = cur.withColumn("s",
        chunk.foldLeft(col("s")) { case (acc, (a, b)) => mergeSymbols(acc, a, b) })
      if (merges.length > chunkEvery) next.localCheckpoint(false) else next
    }
  }

  def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrain(Tables.documents(s, dir))

  /** BPE applied — the inference half of the tokenizer lifecycle
    * (count q109 → train q118 → APPLY): segment the corpus with the
    * learned merge table and report the top-K symbol counts, i.e. the
    * post-tokenization vocabulary histogram a pipeline checks before
    * committing to a tokenizer. Shares [[bpeTrain]]'s loop (the final
    * word table IS the segmented corpus — symbols fall out of the
    * delimiter-anchored string by one split), so cost over training is
    * one more vocab-bounded aggregation; corpus-frequency weighting
    * comes from the word-frequency table, never a corpus re-scan.
    * Top-K is a bounded heap with (cnt desc, symbol asc) ties.
    * Inherits [[bpeTrain]]'s EAGER contract — [[mergeLoop]] runs at
    * call time; only the final histogram aggregation stays lazy. */
  def bpeSegmentCounts(docs: DataFrame, nMerges: Int = 8, topK: Int = 20): DataFrame =
    symbolHistogram(mergeLoop(docs, nMerges)(pairCount)._2, topK)

  def qBpeApply(s: SparkSession, dir: String): DataFrame =
    bpeSegmentCounts(Tables.documents(s, dir))

  /** BPE INFERENCE — segment a corpus with an ALREADY-TRAINED merge table
    * (the deployment half q119's self-segmenting apply doesn't cover: a
    * tokenizer is trained once on a reference corpus and then applied to
    * every new crawl). `merges` is the (lhs, rhs) table in rank order, as
    * [[bpeTrain]] emits it.
    *
    * Scale shape — BETTER than training: the merge choices are KNOWN data,
    * so there is no per-merge action at all. The whole chain compiles
    * into ONE projection of nested anchored replaces over the corpus's
    * word table (built in one scan, vocab-bounded, constant-partition) —
    * a single job regardless of merge count, with the per-word top-level
    * loop entirely inside codegen'd string ops. Production merge counts
    * (30k+) chunk the chain every `chunkEvery` replaces ([[replayMerges]]),
    * bounding expression depth. Output is the applied-vocabulary
    * histogram (top-K symbols by corpus-weighted count), the same report
    * as [[bpeSegmentCounts]]. */
  def bpeApplyMerges(docs: DataFrame, merges: Seq[(String, String)],
                     topK: Int = 20, chunkEvery: Int = 64): DataFrame =
    symbolHistogram(
      replayMerges(anchoredWords(docs).select(col("freq"), col("s")), merges, chunkEvery),
      topK)

  /** q124 — the full deployed-tokenizer lifecycle over a train/apply
    * corpus split: train merges on the doc_id-even half, segment the
    * doc_id-odd half with the FROZEN table. Symbols unseen in training
    * stay split at character level — exactly the OOV behavior a deployed
    * BPE exhibits. */
  def qBpeInference(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir) { (train, eval) =>
      bpeApplyMerges(eval, bpeTrain(train).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
    }

  /** q123 — BPE training over a NON-ASCII corpus: the byte-safety gate for
    * the lifted ASCII contract. The corpus is the documents table pushed
    * through three deterministic transliterations (a→ä, e→é, o→ø — all
    * precomposed single code points, so grapheme = code point on both
    * engines), which makes multi-byte symbols land in the very first
    * merges. Hash-matching the DuckDB unroll proves the whole chain —
    * code-point character split, lit()-borne merge patterns, multi-byte
    * replace — is engine-exact, not just ASCII-exact. */
  def qBpeUnicode(s: SparkSession, dir: String): DataFrame =
    bpeTrain(Tables.documents(s, dir).withColumn("text",
      replace(replace(replace(col("text"), lit("a"), lit("ä")),
        lit("e"), lit("é")), lit("o"), lit("ø"))))

  /** Tokenizer FERTILITY report — the per-source evaluation every
    * tokenizer deployment publishes before committing to a vocabulary
    * (fertility = average pieces per word occurrence; the multilingual-
    * tokenizer literature's standard cost metric, where a fertility gap
    * between sources means one source pays more sequence length per word
    * than another). Train a BPE merge table on `train`, segment `eval`
    * with the FROZEN table (the q124 deployment contract — OOV symbols
    * stay character-split), then roll up per source:
    *
    *   n_words          distinct eval words        n_occ   occurrences
    *   fertility        Σ freq·pieces / Σ freq     (pieces per occurrence)
    *   chars_per_piece  Σ freq·chars  / Σ freq·pieces
    *   split_rate       Σ freq·[pieces ≥ 2] / Σ freq
    *
    * Scale shape: the merge table is an nMerges-row collect (the q124
    * limit-gated contract); the eval corpus is scanned ONCE into a
    * (source × vocab)-bounded word table; the whole frozen chain is the
    * q124 frozen replay ([[replayMerges]]); the rollup is a bounded-frame
    * aggregation keyed by source. All sums are exact integers; each ratio is ONE pinned double
    * division, rounded to 6 for the report. */
  def tokenizerFertility(train: DataFrame, eval: DataFrame, nMerges: Int = 8,
                         chunkEvery: Int = 64): DataFrame = {
    val merges = bpeTrain(train, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    replayMerges(anchoredWords(eval, col("source")), merges, chunkEvery)
      .withColumn("k",
        size(expr("filter(split(trim(s), '  '), x -> x <> '')")).cast(LongType))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_words"),
        sum(col("freq")).cast(LongType).as("n_occ"),
        sum(col("freq") * col("k")).cast(LongType).as("pieces_occ"),
        sum(col("freq") * length(col("w")).cast(LongType)).cast(LongType)
          .as("chars_occ"),
        sum(when(col("k") >= 2L, col("freq")).otherwise(0L)).cast(LongType)
          .as("split_occ"))
      .withColumn("fertility",
        round(col("pieces_occ").cast(DoubleType) / col("n_occ"), 6))
      .withColumn("chars_per_piece",
        round(col("chars_occ").cast(DoubleType) / col("pieces_occ"), 6))
      .withColumn("split_rate",
        round(col("split_occ").cast(DoubleType) / col("n_occ"), 6))
      .orderBy(col("source"))
  }

  /** q136 — fertility over the q124 corpus split: merges frozen from the
    * doc_id-even half, the odd half segmented and rolled up per source. */
  def qTokenizerFertility(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(tokenizerFertility(_, _))

  /** Per-source unigram KL divergence vs the corpus mixture — the
    * distributional diagnostic behind mixture reweighting (a source with
    * high KL(P_source ‖ P_corpus) is the one temperature mixing / DSIR
    * resampling will most reshape; the same statistic ranks domains by
    * distinctiveness in data-selection papers). Both distributions are
    * add-1 smoothed over the SHARED corpus vocabulary, so every term is
    * finite and Σp = Σq = 1 exactly:
    *
    *   p_s(w) = (c_sw + 1)/(T_s + V)     q(w) = (c_w + 1)/(T + V)
    *   KL(s)  = Σ_w p_s(w)·(ln p_s(w) − ln q(w))
    *
    * Scale shape — the naive sum is a SOURCE × VOCAB cross product, which
    * at crawl scale is the bottleneck; the absent-word mass is instead
    * folded algebraically: for w unseen in s, p_s(w) is the CONSTANT
    * p₀ = 1/(T_s + V), so
    *
    *   KL_absent(s) = p₀·[(V − V_s)·ln p₀ − (Σ_all ln q − Σ_present ln q)]
    *
    * and the whole statistic needs only the PRESENT (source, word) frame
    * (keyed shuffle, no hot key beyond a source's own vocab), ONE
    * vocab-bounded ln q table, a 1-row Σ_all ln q aggregate, and a
    * K-row per-source finish. Floats are pinned the PSI/q117 way: each
    * ln rounds to 9, per-term contributions round to 9 and sum as
    * decimals (order-free), the K-row finish is one double chain rounded
    * to 6. */
  def sourceKlDivergence(docs: DataFrame): DataFrame = {
    val dec = DecimalType(28, 12)
    val tok = graft.core.InternalCaches.persist(
      withTokens(docs).select(col("source"), explode(col("t")).as("w")))
    val cw = graft.core.InternalCaches.persist(
      tok.groupBy(col("w")).agg(count(lit(1)).cast(LongType).as("c_w")))
    val tot = cw.agg(sum(col("c_w")).cast(LongType).as("t_all"),
      count(lit(1)).cast(LongType).as("v_all"))
    val lnq = graft.core.InternalCaches.persist(
      cw.crossJoin(broadcast(tot)).select(col("w"),
        round(log((col("c_w") + 1).cast(DoubleType) /
          (col("t_all") + col("v_all")).cast(DoubleType)), 9).as("lnq")))
    val lAll = lnq.agg(sum(col("lnq").cast(dec)).as("l_all"))
    val csw = tok.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).cast(LongType).as("c_sw"))
    val ts = csw.groupBy(col("source"))
      .agg(sum(col("c_sw")).cast(LongType).as("t_s"),
        count(lit(1)).cast(LongType).as("v_s"))
    val present = csw.join(ts, Seq("source"))
      .crossJoin(broadcast(tot))
      .join(lnq, Seq("w"))
      .withColumn("p_sw", (col("c_sw") + 1).cast(DoubleType) /
        (col("t_s") + col("v_all")).cast(DoubleType))
      .withColumn("term",
        round(col("p_sw") * (round(log(col("p_sw")), 9) - col("lnq")), 9))
      .groupBy(col("source"))
      .agg(sum(col("term").cast(dec)).as("kl_present_dec"),
        sum(col("lnq").cast(dec)).as("l_s"))
    present.join(ts, Seq("source"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(lAll))
      .withColumn("p0",
        lit(1.0) / (col("t_s") + col("v_all")).cast(DoubleType))
      .withColumn("kl_absent",
        col("p0") * ((col("v_all") - col("v_s")).cast(DoubleType) *
          round(log(col("p0")), 9) -
          (col("l_all") - col("l_s")).cast(DoubleType)))
      .select(col("source"), col("t_s").as("n_tokens"),
        col("v_s").as("n_types"),
        round(col("kl_present_dec").cast(DoubleType), 6).as("kl_present"),
        // + 0.0 canonicalizes the −0.0 a full-coverage source produces
        (round(col("kl_absent"), 6) + lit(0.0)).as("kl_absent"),
        (round(col("kl_present_dec").cast(DoubleType) + col("kl_absent"), 6)
          + lit(0.0)).as("kl"))
      .orderBy(col("source"))
  }

  def qSourceKl(s: SparkSession, dir: String): DataFrame =
    sourceKlDivergence(Tables.documents(s, dir))

  /** Corpus-level BLEU (Papineni et al., ACL 2002) between a candidate and
    * a reference column of token arrays — the standard n-gram-overlap eval
    * every generation/translation pipeline reports. Per order n = 1..4:
    *
    *   p_n = Σ_docs Σ_g min(cnt_cand(g), cnt_ref(g)) / Σ_docs cnt_cand
    *   BP  = 1 if c ≥ r else exp(1 − r/c)      (corpus token lengths)
    *   BLEU = BP · exp(mean_n ln p_n)
    *
    * This is CORPUS BLEU — matched/total counts sum over documents before
    * the division, exactly as the reference implementation does (sentence
    * BLEU then averaging is a different, non-standard statistic).
    *
    * PRECONDITION (round 17, advisor): each input ROW is one independent
    * (candidate, reference) pair — the row-local clip counts a candidate
    * gram against ITS OWN row's reference only. Rows are not merged by
    * `doc_id` (the column is payload here, not a key): feeding several
    * rows that share a doc_id clips each against its own reference,
    * whereas a (doc_id, n, gram)-keyed relational clip would merge the
    * duplicate rows' reference counts before clipping. Per-row clipping
    * is the standard corpus-BLEU reading (a multi-reference BLEU needs
    * the reference SET on one row); keep doc_id unique per pair if the
    * relational oracle must agree.
    *
    * Scale shape: one scan of the pair corpus; n-gram counts key by
    * (doc_id, n, gram) so the clip join is co-partitioned with no hot key
    * (a gram repeated across the corpus never meets itself across
    * documents); the rollup collapses to 4 rows per group key before any
    * float. Floats are pinned: each p_n is ONE double division of exact
    * BIGINT sums, ln/exp round to 9, the 4-term mean is a fixed
    * left-to-right chain, the final product rounds to 6. Zero-match
    * orders short-circuit BLEU to 0.0 via a mirrored CASE (no −inf). */
  def corpusBleu(pairs: DataFrame, groupCol: String = "source"): DataFrame = {
    graft.functions.GraftFunctions.register(pairs.sparkSession)
    val base = graft.core.InternalCaches.persist(
      pairs.select(col(groupCol).as("grp"), col("doc_id"), col("r"), col("c")))
    val lens = base.groupBy(col("grp"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(size(col("c"))).cast(LongType).as("c_len"),
        sum(size(col("r"))).cast(LongType).as("r_len"))
    // The clip is ROW-LOCAL (round 16): candidate and reference share the
    // row, so min(cnt_c(g), cnt_r(g)) never needs a gram to leave the
    // scan — the native graft_bleu kernel computes each order's clipped
    // match and total per document in one compiled pass, and the corpus
    // rollup shuffles FOUR rows per doc instead of every gram. The
    // earlier declarative clip (explode per order → two (doc, n, gram)
    // hash-agg exchanges → sort-merge join) was the #2 sweep cost at
    // 3.7 s; gram identity is the same exact space-joined string, summed
    // per (grp, n) in the same integer arithmetic, so the gate hash is
    // unchanged. The DuckDB oracle keeps the explicit relational form.
    val byN = base
      .select(col("grp"), explode(expr("graft_bleu(c, r, 4)")).as("st"))
      .select(col("grp"), col("st.n").as("n"), col("st.m").as("m0"),
        col("st.tot").as("t0"))
      .groupBy(col("grp"), col("n"))
      .agg(sum(col("m0")).cast(LongType).as("m"),
        sum(col("t0")).cast(LongType).as("tot"))
    def pick(i: Int, c: String): Column =
      coalesce(max(when(col("n") === i, col(c))), lit(0L)).cast(LongType)
    val wide = byN.groupBy(col("grp"))
      .agg(pick(1, "m").as("m1"), pick(1, "tot").as("t1"),
        pick(2, "m").as("m2"), pick(2, "tot").as("t2"),
        pick(3, "m").as("m3"), pick(3, "tot").as("t3"),
        pick(4, "m").as("m4"), pick(4, "tot").as("t4"))
    def lp(i: Int): Column =
      round(log(col(s"m$i").cast(DoubleType) / col(s"t$i").cast(DoubleType)), 9)
    lens.join(wide, Seq("grp"))
      .withColumn("bp", when(col("c_len") >= col("r_len"), lit(1.0))
        .otherwise(round(exp(lit(1.0) -
          col("r_len").cast(DoubleType) / col("c_len").cast(DoubleType)), 9)))
      .withColumn("bleu",
        when(col("m1") === 0L || col("m2") === 0L ||
          col("m3") === 0L || col("m4") === 0L, lit(0.0))
          .otherwise(round(col("bp") *
            round(exp((lp(1) + lp(2) + lp(3) + lp(4)) / lit(4.0)), 9), 6)))
      .select(col("grp").as(groupCol), col("n_docs"), col("c_len"),
        col("r_len"),
        col("m1"), col("t1"), col("m2"), col("t2"),
        col("m3"), col("t3"), col("m4"), col("t4"),
        round(col("m1").cast(DoubleType) / col("t1"), 6).as("p1"),
        round(col("m4").cast(DoubleType) / col("t4"), 6).as("p4"),
        col("bp"), col("bleu"))
      .orderBy(col(groupCol))
  }

  /** q138 — corpus BLEU per source over a DERIVED candidate/reference pair
    * corpus: reference = the document's tokens, candidate = the same
    * tokens with every 7th position dropped and every 11th replaced by
    * 'UNK' (deterministic corruption, so clipping and the brevity penalty
    * are both genuinely exercised — candidates are shorter AND carry
    * n-grams the reference lacks). */
  /** Per-source Zipf-law fit — the corpus-statistics sanity check every
    * data-profiling pass publishes: rank words by frequency (ties broken
    * lexicographically, so the rank order is total and engine-exact) and
    * least-squares fit ln(freq) = intercept + slope·ln(rank) over the top
    * `topR` ranks (natural text sits near slope ≈ −1; synthetic/spammy
    * sources drift, which makes the slope a cheap source-quality signal).
    * R² of the fit is surfaced alongside.
    *
    * Scale shape: ONE corpus scan into the (source, word) count frame —
    * the only corpus-sized shuffle; the per-source top-R cut is the
    * bounded-heap TopKPerKey operator (map-side partial heaps, ≤ R rows
    * per source per partition cross the wire, no vocab-sized window),
    * and the rank window after it runs on ≤ R rows per source, a
    * constant. Floats pinned: ln's round to 9, per-rank products round
    * to 9 and sum as decimals (order-free), the slope/intercept/R²
    * finish is one double chain per source rounded to 6. */
  def zipfSlope(docs: DataFrame, topR: Int = 1000): DataFrame = {
    val dec = DecimalType(28, 12)
    val freqs = tokenCounts(docs, col("source"))("freq")
    val ranked = TopK.ranked(freqs, Seq("source"), Seq(TopK.desc("freq"), TopK.asc("w")),
      topR, "rank")
    val xy = ranked.select(col("source"), col("freq"), col("rank").cast(LongType).as("rank"),
      round(log(col("rank").cast(DoubleType)), 9).as("x"),
      round(log(col("freq").cast(DoubleType)), 9).as("y"))
    val sums = xy.groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_ranks"),
        max(when(col("rank") === 1L, col("freq"))).cast(LongType).as("top_freq"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(round(col("x") * col("y"), 9).cast(dec)).as("sxy"),
        sum(round(col("x") * col("x"), 9).cast(dec)).as("sxx"),
        sum(round(col("y") * col("y"), 9).cast(dec)).as("syy"))
    def d(c: String): Column = col(c).cast(DoubleType)
    val nD = col("n_ranks").cast(DoubleType)
    sums
      .withColumn("num", nD * d("sxy") - d("sx") * d("sy"))
      .withColumn("denx", nD * d("sxx") - d("sx") * d("sx"))
      .withColumn("deny", nD * d("syy") - d("sy") * d("sy"))
      // ANSI mode: the division must itself be guarded (a CASE only on
      // the output column still executes it on the degenerate row)
      .withColumn("slope_raw", when(col("denx") === 0.0,
        lit(null).cast(DoubleType)).otherwise(col("num") / col("denx")))
      .select(col("source"), col("n_ranks"), col("top_freq"),
        when(col("n_ranks") < 2L, lit(null).cast(DoubleType))
          .otherwise(round(col("slope_raw"), 6)).as("slope"),
        when(col("n_ranks") < 2L, lit(null).cast(DoubleType))
          .otherwise(round((d("sy") - col("slope_raw") * d("sx")) / nD, 6))
          .as("intercept"),
        when(col("n_ranks") < 2L || col("deny") === 0.0 ||
          col("denx") === 0.0, lit(null).cast(DoubleType))
          .otherwise(round(col("num") * col("num") /
            when(col("denx") * col("deny") === 0.0, lit(1.0))
              .otherwise(col("denx") * col("deny")), 6)).as("r2"))
      .orderBy(col("source"))
  }

  def qZipfSlope(s: SparkSession, dir: String): DataFrame =
    zipfSlope(Tables.documents(s, dir))

  /** Per-source lexical-diversity battery — the third corpus-profiling
    * statistic beside the Zipf ([[zipfSlope]]) and Heaps ([[heapsFit]])
    * fits: type-token ratio, hapax fraction, and Yule's K
    * (Yule 1944; K = 10⁴·(Σc² − N)/N², the repeat-rate statistic that —
    * unlike raw TTR — does not collapse with corpus size, so sources ARE
    * comparable at different volumes). Low K ≈ diverse natural text; high
    * K flags templated/spammy sources before they dominate a mixture.
    *
    * Scale shape: ONE corpus scan into the (source, token) count frame
    * (vocab-bounded per source — the q99/q158 contract), then one
    * source-keyed rollup; no joins, no windows. All sums are exact
    * integers — Σc² accumulates in DECIMAL(38,0) because a stopword's
    * count squares past Long at ~3·10⁹ occurrences — with exactly three
    * pinned double divisions (TTR, hapax, K) rounding to 6 at the end.
    * N² in Yule's K is computed in DOUBLE (N·N overflows Long at
    * ~3·10⁹ tokens; both engines run the identical double chain). */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    tokenCounts(docs, col("source"))("c").groupBy(col("source"))
      .agg(sum(col("c")).cast(LongType).as("n_tokens"),
        count(lit(1)).cast(LongType).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast(LongType).as("n_hapax"),
        sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("s2"))
      .withColumn("nd", col("n_tokens").cast(DoubleType))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast(DoubleType) / col("nd"), 6).as("ttr"),
        round(col("n_hapax").cast(DoubleType) / col("n_types").cast(DoubleType), 6)
          .as("hapax_frac"),
        round(lit(10000.0) * (col("s2").cast(DoubleType) - col("nd"))
          / (col("nd") * col("nd")), 6).as("yule_k"))

  def qLexicalDiversity(s: SparkSession, dir: String): DataFrame =
    lexicalDiversity(Tables.documents(s, dir))

  /** Train/eval split-leakage audit — the pre-training check that the
    * holdout is actually held out, run AFTER a split is drawn and BEFORE
    * anything trains on it: per source, how many eval documents leak from
    * the training half either verbatim (exact content-hash match) or
    * near-verbatim (≥ 1 shared n-token shingle — the q71 decontamination
    * signal with the roles reversed: there a bounded benchmark set checks
    * the corpus; here both halves are corpus-sized). Split-level leakage
    * is how test-set contamination actually happens in practice — dedup
    * ran before the split, or not at all.
    *
    * Scale shape: the exact tier is a semi-join on md5(text) — both
    * sides corpus-sized, a shuffle equi-join on a uniform hash key, the
    * q33 dedup contract. The near tier semi-joins the eval doc's
    * 64-bit shingle hashes (graft_shingles — codegen'd, no explode until
    * after the length filter) against the DISTINCT train shingle set;
    * also a uniform-key shuffle equi-join, and the post-join distinct is
    * doc-bounded. No window, no driver data. Output counts are exact
    * integers; the two leak rates are single round-6 divisions. */
  def splitLeakage(docs: DataFrame, evalPred: Column, n: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val tagged = graft.core.InternalCaches.persist(
      withTokens(docs).withColumn("is_eval", evalPred)
        .select(col("doc_id"), col("source"), col("text"), col("t"), col("is_eval")))
    val trainHash = tagged.filter(!col("is_eval"))
      .select(md5(col("text")).as("hh")).distinct()
    val exact = tagged.filter(col("is_eval"))
      .select(col("doc_id"), col("source"), md5(col("text")).as("hh"))
      .join(trainHash, Seq("hh"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).cast(LongType).as("n_exact"))
    val trainSh = tagged.filter(!col("is_eval") && size(col("t")) >= n)
      .select(explode(expr(s"graft_shingles(t, $n)")).as("h")).distinct()
    val near = tagged.filter(col("is_eval") && size(col("t")) >= n)
      .select(col("doc_id"), col("source"),
        explode(expr(s"graft_shingles(t, $n)")).as("h"))
      .join(trainSh, Seq("h"), "left_semi")
      .select(col("doc_id"), col("source")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).cast(LongType).as("n_near"))
    tagged.filter(col("is_eval"))
      .groupBy(col("source")).agg(count(lit(1)).cast(LongType).as("n_eval"))
      .join(exact, Seq("source"), "left")
      .join(near, Seq("source"), "left")
      .select(col("source"), col("n_eval"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .withColumn("exact_rate",
        round(col("n_exact").cast(DoubleType) / col("n_eval").cast(DoubleType), 6))
      .withColumn("near_rate",
        round(col("n_near").cast(DoubleType) / col("n_eval").cast(DoubleType), 6))
  }

  /** Gate: 25% eval split by doc_id residue (corpus-PROPORTIONAL — not
    * the bounded benchmark set, so the shuffle semi-join path is what's
    * exercised; a production run would use the q65 content-hash split,
    * same plan shape), 8-token shingles. The synthetic corpus has no
    * verbatim duplicates, so the gate DERIVES one that does (the q138
    * derived-corpus recipe): every doc_id ≡ 1 (mod 16) train document is
    * re-keyed to 4·(doc_id + 10⁹) — an eval residue — and appended, so
    * the exact tier fires on planted verbatim leaks while the near tier
    * also catches the corpus's organic shared 8-grams. */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    val planted = d.filter(expr("doc_id % 16 = 1"))
      .select((lit(4L) * (col("doc_id") + lit(1000000000L))).as("doc_id"),
        col("source"), col("text"))
    splitLeakage(d.unionByName(planted), expr("doc_id % 4 = 0"), n = 8)
  }

  /** Per-source Heaps-law fit — the other half of the corpus-profiling
    * pair beside [[zipfSlope]]: vocabulary growth V(n) ≈ K·n^β against
    * tokens read (natural text sits near β ≈ 0.5; boilerplate-heavy or
    * templated sources flatten early, token-soup inflates). The curve is
    * sampled at `nCheckpoints` decile positions ck = max(1, ⌊k·N/10⌋) and
    * least-squares fitted in log-log space (β = slope), with R²
    * surfaced — the statistic that decides whether a source's vocabulary
    * is still growing before committing tokenizer capacity to it.
    *
    * Scale shape: global token positions come from the two-level
    * distributed prefix sum over per-doc counts ([[distributedRunningSum]]
    * — NO corpus-wide window per source), so V(ck) needs only the
    * (source, token) → min(position) frame, which is vocab-bounded; the
    * checkpoint frame is 10 rows per source and broadcasts back onto it
    * (fan-out ≤ nCheckpoints per vocab entry, never corpus-sized). The
    * regression runs on ≤ 10 rows per source. Floats pinned as in q139:
    * ln's round 9, products round 9, decimal sums, round-6 finish. */
  def heapsLaw(docs: DataFrame, nCheckpoints: Int = 10): DataFrame = {
    require(nCheckpoints >= 2 && nCheckpoints <= 1000,
      s"nCheckpoints must be in [2,1000], got $nCheckpoints")
    val dec = DecimalType(28, 12)
    val cached = graft.core.InternalCaches.persist(
      withTokens(docs).select(col("source"), col("doc_id"), col("t")))
    val counts = cached.select(col("source"), col("doc_id"),
      size(col("t")).cast(LongType).as("n_tok"))
    val withEnd = graft.core.InternalCaches.persist(distributedRunningSum(
      counts, "source", Seq("doc_id"), "n_tok", "end_pos"))
    val offsets = withEnd.select(col("source").as("o_source"),
      col("doc_id").as("o_doc"), (col("end_pos") - col("n_tok")).as("off"))
    val first = cached
      .select(col("source"), col("doc_id"), posexplode(col("t")).as(Seq("p", "w")))
      .join(offsets,
        col("source") === col("o_source") && col("doc_id") === col("o_doc"))
      .select(col("source"), col("w"), (col("off") + col("p") + 1).as("gp"))
      .groupBy(col("source"), col("w"))
      .agg(min(col("gp")).cast(LongType).as("first_pos"))
    val firstC = graft.core.InternalCaches.persist(first)
    val totals = withEnd.groupBy(col("source"))
      .agg(max(col("end_pos")).cast(LongType).as("n_tokens"))
    val vocabDf = firstC.groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("vocab"))
    val cps = totals
      .select(col("source"), col("n_tokens"),
        explode(expr(s"sequence(1, $nCheckpoints)")).as("k"))
      .withColumn("ck", greatest(lit(1L),
        expr(s"(k * n_tokens) div $nCheckpoints")))
      .select(col("source").as("c_source"), col("k"), col("ck"))
    val vk = firstC.join(broadcast(cps),
        col("source") === col("c_source") && col("first_pos") <= col("ck"))
      .groupBy(col("source"), col("k"), col("ck"))
      .agg(count(lit(1)).cast(LongType).as("v"))
    val xy = vk.select(col("source"),
      round(log(col("ck").cast(DoubleType)), 9).as("x"),
      round(log(col("v").cast(DoubleType)), 9).as("y"))
    val sums = xy.groupBy(col("source")).agg(
      count(lit(1)).cast(LongType).as("n_points"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum(round(col("x") * col("y"), 9).cast(dec)).as("sxy"),
      sum(round(col("x") * col("x"), 9).cast(dec)).as("sxx"),
      sum(round(col("y") * col("y"), 9).cast(dec)).as("syy"))
    def d(c: String): Column = col(c).cast(DoubleType)
    val nD = col("n_points").cast(DoubleType)
    sums
      .withColumn("num", nD * d("sxy") - d("sx") * d("sy"))
      .withColumn("denx", nD * d("sxx") - d("sx") * d("sx"))
      .withColumn("deny", nD * d("syy") - d("sy") * d("sy"))
      .withColumn("beta_raw", when(col("denx") === 0.0,
        lit(null).cast(DoubleType)).otherwise(col("num") / col("denx")))
      .join(broadcast(totals), "source")
      .join(broadcast(vocabDf), "source")
      .select(col("source"), col("n_tokens"), col("vocab"), col("n_points"),
        when(col("n_points") < 2L, lit(null).cast(DoubleType))
          .otherwise(round(col("beta_raw"), 6)).as("beta"),
        when(col("n_points") < 2L, lit(null).cast(DoubleType))
          .otherwise(round((d("sy") - col("beta_raw") * d("sx")) / nD, 6))
          .as("intercept"),
        when(col("n_points") < 2L || col("deny") === 0.0 ||
          col("denx") === 0.0, lit(null).cast(DoubleType))
          .otherwise(round(col("num") * col("num") /
            when(col("denx") * col("deny") === 0.0, lit(1.0))
              .otherwise(col("denx") * col("deny")), 6)).as("r2"))
      .orderBy(col("source"))
  }

  /** Gate: Heaps over the positional 3-gram shingle stream rather than
    * raw words — the gate corpus has a closed ~30-word vocabulary, so the
    * word-level curve saturates inside the first decile and the fit would
    * be vacuous; the shingle vocabulary keeps growing corpus-long, giving
    * the regression real spread (β genuinely between 0 and 1). Shingles
    * are derived with the same deterministic transform in both engines
    * (the q128 derivation precedent). */
  def qHeapsLaw(s: SparkSession, dir: String): DataFrame =
    heapsLaw(shingleStream(Tables.documents(s, dir)))

  /** The q148 positional 3-gram shingle stream: `t` becomes the array of
    * space-joined token triples starting at 1..size(t) − 2 (one short
    * shingle for a doc under three tokens). The q148/q158/q159/q160 gates
    * run over it, and the oracle derives it the same way. */
  private def shingleStream(docs: DataFrame): DataFrame =
    withTokens(docs).withColumn("t", expr(
      "transform(sequence(1, greatest(size(t) - 2, 1)), " +
        "i -> concat_ws(' ', slice(t, i, 3)))"))

  private[graft] def bleuDerivedPairs(docs: DataFrame): DataFrame =
    // Empty token arrays guard the derivation range: sequence(1, 0)
    // DESCENDS (the repo pitfall), which would leak a [null] candidate
    // where the oracle's range(1, len+1) is empty; CASE is lazy so the
    // guarded branch never builds the degenerate range.
    withTokens(docs)
      .select(col("source"), col("doc_id"), col("t").as("r"),
        expr("CASE WHEN size(t) < 1 THEN CAST(array() AS ARRAY<STRING>) ELSE " +
          "transform(filter(sequence(1, size(t)), i -> i % 7 != 0), " +
          "i -> CASE WHEN i % 11 = 0 THEN 'UNK' ELSE element_at(t, i) END) END")
          .as("c"))

  def qCorpusBleu(s: SparkSession, dir: String): DataFrame =
    corpusBleu(bleuDerivedPairs(Tables.documents(s, dir)))

  /** Corpus-level ROUGE-L (Lin 2004 §3.2) — the LCS-based
    * generation/summarization eval beside [[corpusBleu]]'s n-gram one:
    * the longest common subsequence credits in-order coverage without
    * requiring contiguity, which is why summarization evals lead with it.
    * Per (reference r, candidate c) pair the token LCS length; per group,
    * recall = Σ|LCS|/Σ|r|, precision = Σ|LCS|/Σ|c|, F from the unrounded
    * pair (sums aggregate BEFORE any division — the corpus-BLEU
    * convention, not a mean of per-doc ratios).
    *
    * The LCS length runs in the native [[graft.functions.LcsLength]]
    * expression (`graft_lcs`): the classic two-row DP at O(|c|·|r|) with
    * one int row of state — an exact integer, so it is bit-identical to
    * the declarative prefix-max form it replaced (row_i[j] =
    * max(row_{i−1}[j], max_{k≤j, r[k]=c[i]} row_{i−1}[k−1]+1), kept as
    * the DuckDB oracle's recursive CTE over i) while dropping the HOF
    * emulation's O(|c|·|r|²) inner prefix-max. All-integer until the
    * three output divisions — bit-exact on any engine.
    *
    * Scale shape: one scan of the PAIRS frame (generation evals score a
    * bounded eval sample, never the crawl — the gate slices doc_id % 10),
    * per-row O(|c|·|r|) primitive-loop work with no join and no explode,
    * then a group-key rollup of three integer sums. */
  def rougeL(pairs: DataFrame, groupCol: String = "source"): DataFrame = {
    graft.functions.GraftFunctions.register(pairs.sparkSession)
    val lcsExpr = expr("graft_lcs(c, r)")
    pairs
      .select(col(groupCol), lcsExpr.as("lcs"),
        size(col("r")).cast(LongType).as("nr"),
        size(col("c")).cast(LongType).as("nc"))
      .groupBy(col(groupCol))
      .agg(sum(col("lcs")).cast(LongType).as("lcs_sum"),
        sum(col("nr")).cast(LongType).as("ref_tokens"),
        sum(col("nc")).cast(LongType).as("cand_tokens"))
      .withColumn("r_raw", when(col("ref_tokens") > 0L,
        col("lcs_sum").cast(DoubleType) / col("ref_tokens").cast(DoubleType))
        .otherwise(lit(0.0)))
      .withColumn("p_raw", when(col("cand_tokens") > 0L,
        col("lcs_sum").cast(DoubleType) / col("cand_tokens").cast(DoubleType))
        .otherwise(lit(0.0)))
      .select(col(groupCol), col("lcs_sum"), col("ref_tokens"), col("cand_tokens"),
        round(col("r_raw"), 6).as("rouge_r"),
        round(col("p_raw"), 6).as("rouge_p"),
        when(col("r_raw") + col("p_raw") > 0.0,
          round(lit(2.0) * col("p_raw") * col("r_raw") /
            (col("p_raw") + col("r_raw")), 6)).otherwise(lit(0.0)).as("rouge_f"))
  }

  /** Gate: the q138 derived candidate corpus (drop every 7th token, UNK
    * every 11th) on a doc_id % 10 eval slice — bounded, as generation
    * evals are. */
  def qRougeL(s: SparkSession, dir: String): DataFrame =
    rougeL(bleuDerivedPairs(
      Tables.documents(s, dir).filter(expr("doc_id % 10 = 0"))))

  /** Contiguous n-grams of the token array `t`: one row per position i in
    * [n, size(t)] carrying `keys` and w1..wn, wj = element_at(t, i − n + j).
    * Arrays shorter than n are filtered out first, because sequence(n, k)
    * for k < n DESCENDS and would index outside the array. */
  private def ngrams(tok: DataFrame, n: Int, keys: String*): DataFrame = {
    val slots = (1 to n).map { j =>
      val back = if (j == n) "i" else s"i - ${n - j}"
      s"element_at(t, $back) AS w$j"
    }
    tok.filter(size(col("t")) >= n)
      .select(keys.map(col) :+ explode(expr(
        s"transform(sequence($n, size(t)), i -> struct(${slots.mkString(", ")}))"))
        .as("g"): _*)
      .select(keys.map(col) ++ (1 to n).map(j => col(s"g.w$j")): _*)
  }

  /** The train side of every held-out n-gram LM scorer: the fused
    * tier-tagged count of all n-grams up to `order`, persisted.
    * `tier(n, cnt)` is the (w1..wn, cnt) count table of one order;
    * `histories` is, per bigram history w1, c1 = its bigram count and
    * n1f = its distinct continuations; `totals` is the 1-row frame
    * nn = token count, v = vocabulary size (both from tier 1) and
    * t2 = distinct bigram count. */
  private final case class NgramLm(grams: DataFrame) {
    def tier(n: Int, cnt: String): DataFrame =
      grams.filter(col("n") === n)
        .select((1 to n).map(j => col(s"w$j")) :+ col("cnt").as(cnt): _*)
    def histories: DataFrame = tier(2, "c12").groupBy(col("w1"))
      .agg(sum(col("c12")).cast(LongType).as("c1"),
        count(lit(1)).cast(LongType).as("n1f"))
    def totals: DataFrame = grams.agg(
      sum(when(col("n") === 1, col("cnt"))).cast(LongType).as("nn"),
      count(when(col("n") === 1, lit(1))).cast(LongType).as("v"),
      count(when(col("n") === 2, lit(1))).cast(LongType).as("t2"))
  }

  /** The n-gram LM kernel behind [[bigramScore]], [[kneserNeyScore]],
    * [[wittenBellScore]], [[jelinekMercerScore]], [[trigramScore]],
    * [[fivegramScore]] and [[doremiWeights]].
    *
    * Fused count: one explode emits, per token position i, the n-gram
    * ENDING at i for every n ≤ min(order, i), tagged with n (unused key
    * slots NULL, which group as constants), and ONE aggregation shuffle
    * counts every tier — a count per tier would shuffle once per order and
    * scan the train corpus again for the totals. The result is persisted;
    * each tier is a filter of it, and the totals are one aggregate over it
    * (unigram sum ≡ token count, unigram count ≡ countDistinct, as no
    * token from [[withTokens]]' split is NULL). Per-tier keys and counts
    * are exactly those of a separate per-tier count
    * (wj = element_at(t, i − n + j)), and all are integers, so model
    * values do not depend on the fusion.
    *
    * size ≥ 1 guard: [[withTokens]] passes a caller-supplied `t` through,
    * and on an EMPTY array sequence(1, size(t)) = sequence(1, 0) is the
    * descending [1, 0] — n = 0 rows and element_at(t, 0) fails at runtime.
    *
    * Broadcast contract: every model table is bounded by the TRAIN
    * corpus's distinct n-grams and is broadcast onto the eval side's
    * [[ngrams]] explode with the 1-row totals, so scoring is one
    * eval-corpus scan with no shuffle of eval rows before the per-doc
    * partial aggregation ([[perDocMeanLp]]). This is the reference-corpus
    * LM shape (train ≪ crawl); a crawl-sized train side would swap the
    * broadcasts for shuffle joins, same plan otherwise. */
  private def ngramLm(train: DataFrame, order: Int): NgramLm = {
    val slots = "element_at(t, i - n + 1) AS w1" +: (2 to order).map(j =>
      s"CASE WHEN n >= $j THEN element_at(t, i - n + $j) END AS w$j")
    val keys = col("n") +: (1 to order).map(j => col(s"w$j"))
    NgramLm(graft.core.InternalCaches.persist(
      withTokens(train).filter(size(col("t")) >= 1).select(explode(expr(
        s"""flatten(transform(sequence(1, size(t)), i ->
             transform(sequence(1, least($order, i)), n -> struct(
               n AS n, ${slots.mkString(", ")}))))""")).as("g"))
        .select(col("g.*"))
        .groupBy(keys: _*)
        .agg(count(lit(1)).cast(LongType).as("cnt"))))
  }

  /** Every per-doc LM scorer's finish: the count of scored positions and
    * the mean of round(ln p, 9) over them, summed as decimals (order-free)
    * with one double division, rounded to 6. */
  private def perDocMeanLp(scored: DataFrame, p: Column, nName: String,
                           avgName: String = "avg_lp"): DataFrame =
    scored.withColumn("lp", round(log(p), 9))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as(nName),
        round(sum(col("lp").cast(DecimalType(28, 12))).cast(DoubleType)
          / count(lit(1)), 6).as(avgName))

  /** Held-out LM scoring — train the q100 bigram model on one corpus
    * half and score the OTHER half with add-1 smoothing: the
    * train/apply split q88's self-scored unigram filter lacks, and the
    * shape of every "score the crawl with a reference-corpus LM"
    * quality gate (CCNet et al. — a KenLM slots in as a bigger model,
    * same plumbing). P(w2|w1) = (n12 + 1)/(n1 + V); per-doc mean of
    * round(ln P, 9) over bigram positions, decimal sums (order-free).
    * The unigram denominators cascade from the bigram counts (the q100
    * trick). Model build and plan: [[ngramLm]]. */
  def bigramScore(train: DataFrame, eval: DataFrame): DataFrame = {
    val lm = ngramLm(train, 2)
    val scored = ngrams(withTokens(eval), 2, "doc_id")
      .join(broadcast(lm.tier(2, "n12")), Seq("w1", "w2"), "left")
      .join(broadcast(lm.histories), Seq("w1"), "left")
      .crossJoin(broadcast(lm.totals))
    perDocMeanLp(scored, (coalesce(col("n12"), lit(0L)) + lit(1.0)) /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast(DoubleType), "n_bigrams")
  }

  def qBigramScore(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(bigramScore(_, _))

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999's benchmark winner) — the smoothing the add-1 gate
    * (q120) and stupid backoff (q122/q127) approximate:
    *
    *   P(w2|w1) = max(c12 − d, 0)/c1 + d·N1+(w1,·)/c1 · Pc(w2)
    *
    * with absolute discount d = 0.75 and the CONTINUATION probability
    * Pc(w2) = (N1+(·,w2) + 1)/(T + V) — how many distinct contexts w2
    * follows, add-1-smoothed over the T bigram types + V vocab so unseen
    * eval words score finitely (the pinned-floor contract of q122);
    * unseen w1 backs off to Pc alone. "Francisco" scores low despite
    * high frequency because it follows only "San" — the signal raw
    * counts miss. Per-bigram P is one pinned double chain; T is the
    * kernel's t2 and V its v ([[ngramLm]]). */
  def kneserNeyScore(train: DataFrame, eval: DataFrame): DataFrame = {
    val lm = ngramLm(train, 2)
    val n12 = lm.tier(2, "c12")
    val nb = n12.groupBy(col("w2")).agg(count(lit(1)).cast(LongType).as("n1b"))
    val scored = ngrams(withTokens(eval), 2, "doc_id")
      .join(broadcast(n12), Seq("w1", "w2"), "left")
      .join(broadcast(lm.histories), Seq("w1"), "left")
      .join(broadcast(nb), Seq("w2"), "left")
      .crossJoin(broadcast(lm.totals))
      .withColumn("pc",
        expr("(coalesce(n1b, 0) + 1.0) / CAST(t2 + v AS DOUBLE)"))
      .withColumn("p", expr(
        "CASE WHEN c1 IS NULL THEN pc ELSE " +
          "greatest(CAST(coalesce(c12, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE) " +
          "+ 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE) * pc END"))
    perDocMeanLp(scored, col("p"), "n_bigrams")
  }

  def qKneserNey(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(kneserNeyScore(_, _))

  /** Witten–Bell interpolated bigram scoring (Witten & Bell 1991, "The
    * zero-frequency problem", IEEE Trans. IT 37(4)) — the third classical
    * smoother next to Kneser–Ney ([[kneserNeyScore]]) and Good–Turing
    * (q158), and the default smoothing in SRILM's `-wbdiscount`. Per
    * history w1 the interpolation weight is data-driven rather than a
    * fixed discount: λ(w1) = c(w1·)/(c(w1·) + N1+(w1·)) — histories with
    * many distinct continuations (high N1+) trust the backoff more.
    *
    *   P(w2|w1) = λ·c(w1w2)/c(w1·) + (1−λ)·P_add1(w2)
    *   P_add1(w2) = (c(w2)+1)/(N+V)      (the q120 add-one unigram floor)
    *   unseen w1 → P_add1(w2)
    *
    * Both engines evaluate the identical double chain (λ and 1−λ spelled
    * as the two explicit ratios over c1+n1f). Model build and plan:
    * [[ngramLm]]. */
  def wittenBellScore(train: DataFrame, eval: DataFrame): DataFrame = {
    val scored = addOneMixture(train, eval)
      .withColumn("p", expr(
        "CASE WHEN c1 IS NULL THEN pu ELSE " +
          "(CAST(c1 AS DOUBLE) / CAST(c1 + n1f AS DOUBLE)) " +
          "* (CAST(coalesce(c12, 0) AS DOUBLE) / CAST(c1 AS DOUBLE)) " +
          "+ (CAST(n1f AS DOUBLE) / CAST(c1 + n1f AS DOUBLE)) * pu END"))
    perDocMeanLp(scored, col("p"), "n_bigrams")
  }

  /** The model side Witten–Bell and Jelinek–Mercer share: the eval
    * bigrams joined to their count c12, the history counts c1/n1f, the
    * unigram count cu of w2 and the totals, plus the add-1 unigram floor
    * pu = (cu + 1)/(N + V). */
  private def addOneMixture(train: DataFrame, eval: DataFrame): DataFrame = {
    val lm = ngramLm(train, 2)
    ngrams(withTokens(eval), 2, "doc_id")
      .join(broadcast(lm.tier(2, "c12")), Seq("w1", "w2"), "left")
      .join(broadcast(lm.histories), Seq("w1"), "left")
      .join(broadcast(lm.tier(1, "cu").withColumnRenamed("w1", "w2")), Seq("w2"), "left")
      .crossJoin(broadcast(lm.totals))
      .withColumn("pu",
        expr("(coalesce(cu, 0) + 1.0) / CAST(nn + v AS DOUBLE)"))
  }

  def qWittenBell(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(wittenBellScore(_, _))

  /** Jelinek–Mercer interpolated bigram scoring (Jelinek & Mercer 1980;
    * Chen & Goodman 1999 §2.3) — the FIXED-weight member completing the
    * engine's smoothing family: add-1 (q120), stupid backoff
    * (q122/q127), Kneser–Ney (q156), Witten–Bell (q162) and now
    *
    *   P(w₂|w₁) = λ·ML(w₂|w₁) + (1−λ)·P_add1(w₂)
    *
    * with λ AND 1−λ pinned literals (the q153 convention — deriving 1−λ
    * at runtime bakes 0.30000000000000004 into one engine only).
    * Against Witten–Bell's λ(w₁) = c₁/(c₁+N₁₊), JM is the ablation
    * baseline every smoothing comparison runs first: one global mixing
    * weight, tuned not derived. Unseen histories fall through to the
    * add-1 unigram exactly as q162 does.
    *
    * Both weights must lie in (0, 1) and sum to 1 within 1e-9: λ = 1
    * gives p = 0 for a seen history with an unseen continuation, and
    * ln 0 is NULL in Spark, which the sum would skip while the count
    * still counts the position. Model build and plan: [[ngramLm]]. */
  def jelinekMercerScore(train: DataFrame, eval: DataFrame,
                         lambda: Double = 0.7,
                         oneMinusLambda: Double = 0.3): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0, 1), got $lambda")
    require(oneMinusLambda > 0.0 && oneMinusLambda < 1.0,
      s"oneMinusLambda must be in (0, 1), got $oneMinusLambda")
    require(math.abs(lambda + oneMinusLambda - 1.0) <= 1e-9,
      s"lambda + oneMinusLambda must be 1, got ${lambda + oneMinusLambda}")
    val scored = addOneMixture(train, eval)
      .withColumn("p", expr(
        "CASE WHEN c1 IS NULL THEN pu ELSE " +
          s"CAST($lambda AS DOUBLE) " +
          "* (CAST(coalesce(c12, 0) AS DOUBLE) / CAST(c1 AS DOUBLE)) " +
          s"+ CAST($oneMinusLambda AS DOUBLE) * pu END"))
    perDocMeanLp(scored, col("p"), "n_bigrams")
  }

  def qJelinekMercer(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(jelinekMercerScore(_, _))

  /** Held-out OOV-rate report — the vocabulary-coverage metric a
    * tokenizer/vocab deployment publishes before freezing: build the
    * frequency vocabulary (top `cap` by freq desc, token asc — the q99
    * contract) on the TRAIN half, then per source on the EVAL half the
    * fraction of token occurrences outside it. High OOV = the vocab
    * under-serves that source (new domain, new language, crawl drift).
    *
    * Scale shape: train side is one scan + a vocab-bounded count + a
    * TakeOrderedAndProject bounded heap (never a global sort); the cap-
    * sized vocab BROADCASTS onto the eval explode as a left join — eval
    * rows never shuffle before the per-source partial-agg rollup. */
  def oovRate(train: DataFrame, eval: DataFrame, cap: Int = 100): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val vocab = tokenCounts(train)("freq")
      .orderBy(col("freq").desc, col("w").asc)
      .limit(cap)
      .select(col("w"), lit(1).as("in_vocab"))
    withTokens(eval)
      .select(col("source"), explode(col("t")).as("w"))
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast(LongType)
          .as("n_oov"))
      .withColumn("oov_rate", round(
        col("n_oov").cast(DoubleType) / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  /** Gate: vocab from the even half over the SHINGLE stream (the q148
    * derivation — at word level the 30-token vocabulary gives OOV 0
    * everywhere), coverage measured on the odd half.
    *
    * FUSED single-scan form (round 19, guide §2.4/§2.3): the generic
    * [[oovRate]] over two parity filters of the same corpus scanned the
    * parquet twice (train vocab pass + eval explode pass). Both halves
    * now ride ONE scan into a (source, parity, shingle) count frame —
    * aggregated BEFORE any join, so the broadcast vocab probes
    * vocab-sized rows, not per-occurrence rows. n_tokens/n_oov become
    * sums of the pre-aggregated counts; vocab order, tie-break and
    * round-6 are unchanged (oracle hash-matched). 2 scans → 1,
    * steady 2.6 → ~1.0 s at sf0.1. */
  def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleStream(Tables.documents(s, dir))
    // parity (not a boolean) so negative-odd doc_ids (% 2 = -1) stay
    // excluded from BOTH halves, exactly as the pre-fused two-filter form
    // behaved (round 20, advisor) — same single scan, same aggregation
    val counts = graft.core.InternalCaches.persist(
      tokenCounts(sh, col("source"), (col("doc_id") % 2).as("parity"))("cnt"))
    val vocab = counts.filter(col("parity") === 0)
      .groupBy(col("w")).agg(sum(col("cnt")).cast(LongType).as("freq"))
      .orderBy(col("freq").desc, col("w").asc).limit(500)
      .select(col("w"), lit(1).as("in_vocab"))
    counts.filter(col("parity") === 1)
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(sum(col("cnt")).cast(LongType).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L))
          .cast(LongType).as("n_oov"))
      .withColumn("oov_rate", round(
        col("n_oov").cast(DoubleType) / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  /** Unigram^(3/4) negative-sampling distribution (Mikolov et al. 2013,
    * word2vec's noise distribution — also the UniMax-family source-
    * sampling exponent): sampling mass ∝ freq^0.75, realized WITHOUT
    * libm pow as s = ⌊√(freq·√freq)·10⁶⌋ — two correctly-rounded IEEE
    * sqrts and one multiply, so the scaled mass is BIT-IDENTICAL on
    * every engine (the q114 α = 1/2 trick, composed once more); the
    * normalizer is an exact integer sum. Top `topK` rows by (freq desc,
    * token asc) keep the gate bounded; the full table is vocab-sized.
    *
    * Scale shape: one corpus scan into the vocab-bounded count frame;
    * the exact integer normalizer is one 1-row aggregate broadcast
    * back; the top-K cut is a TakeOrderedAndProject bounded heap. */
  def negSamplingTable(docs: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val freqs = graft.core.InternalCaches.persist(
      tokenCounts(docs)("freq")
        .withColumn("s_scaled", floor(
          sqrt(col("freq").cast(DoubleType) * sqrt(col("freq").cast(DoubleType)))
            * lit(1000000.0)).cast(LongType)))
    val tot = freqs.agg(sum(col("s_scaled")).cast(LongType).as("s_total"))
    freqs.crossJoin(broadcast(tot))
      .withColumn("prob", round(
        col("s_scaled").cast(DoubleType) / col("s_total").cast(DoubleType), 6))
      .select(col("w"), col("freq"), col("s_scaled"), col("prob"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(topK)
  }

  /** Gate: over the shingle stream (singleton-rich, so the ^0.75
    * flattening is visible — at word level every mass is huge and the
    * distribution nearly proportional). */
  def qNegSampling(s: SparkSession, dir: String): DataFrame =
    negSamplingTable(shingleStream(Tables.documents(s, dir)))

  /** Per-source Good-Turing frequency-of-frequencies report (Good 1953;
    * Gale & Sampson 1995) — the count-of-counts table N_r behind every
    * smoothing decision: the adjusted count r* = (r+1)·N_{r+1}/N_r per
    * frequency class r ≤ `maxR`, plus the Chen-Goodman estimate of the
    * absolute discount d̂ = N₁/(N₁+2N₂) that [[kneserNeyScore]]'s d=0.75
    * approximates — per source, so a pipeline can see which sources'
    * vocabularies are singleton-heavy (crawl noise) before smoothing.
    *
    * Scale shape: ONE corpus scan into the vocab-bounded (source, word)
    * count frame; count-of-counts collapses that to ≤ maxR+1 rows per
    * source, and every join after (the N_{r+1} lookup, the d̂ attach)
    * runs on those bounded frames. Integer until the two round-6
    * divisions. */
  def goodTuring(docs: DataFrame, maxR: Int = 10): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, s"maxR must be in [1,1000], got $maxR")
    val cc = graft.core.InternalCaches.persist(
      tokenCounts(docs, col("source"))("r").filter(col("r") <= maxR + 1)
        .groupBy(col("source"), col("r"))
        .agg(count(lit(1)).cast(LongType).as("n_r")))
    val nxt = cc.select(col("source").as("s2"), (col("r") - 1).as("r2"),
      col("n_r").as("n_r1"))
    val d = cc.groupBy(col("source")).agg(
      sum(when(col("r") === 1L, col("n_r"))).cast(LongType).as("n1"),
      sum(when(col("r") === 2L, col("n_r"))).cast(LongType).as("n2"))
      .select(col("source").as("s3"),
        round(col("n1").cast(DoubleType) /
          (col("n1") + lit(2L) * col("n2")).cast(DoubleType), 6).as("kn_discount"))
    cc.filter(col("r") <= maxR)
      .join(nxt, col("source") === col("s2") && col("r") === col("r2"), "left")
      .join(d, col("source") === col("s3"), "left")
      .select(col("source"), col("r"), col("n_r"),
        coalesce(col("n_r1"), lit(0L)).as("n_r_plus1"),
        round((col("r") + 1L).cast(DoubleType) * coalesce(col("n_r1"), lit(0L))
          / col("n_r").cast(DoubleType), 6).as("r_star"),
        col("kn_discount"))
      .orderBy(col("source"), col("r"))
  }

  /** Gate: Good-Turing over the positional 3-gram shingle stream (the
    * q148 derivation) — the closed ~30-word vocabulary has no
    * low-frequency classes at all at word level, while the shingle
    * vocabulary is singleton-rich, which is the regime Good-Turing
    * exists for. */
  def qGoodTuring(s: SparkSession, dir: String): DataFrame =
    goodTuring(shingleStream(Tables.documents(s, dir)))

  /** Stupid-backoff trigram scoring (Brants et al., EMNLP 2007 — "Large
    * Language Models in Machine Translation") — the round-12 upgrade of
    * [[bigramScore]]'s held-out quality gate from a bigram to the
    * trigram-with-backoff LM the CCNet-style filters actually run:
    *
    *   S(w3|w1,w2) = n123/n12                  if the trigram was seen
    *               = α · n23/n1(w2)            else if the bigram was seen
    *               = α² · (n1(w3)+1)/(N+V)     else (add-1 unigram floor,
    *                                           PINNED so unseen words score
    *                                           finitely and deterministically
    *                                           — Brants leaves the floor
    *                                           open; this is our contract)
    *
    * with α = 0.4 (the published backoff constant). Scores are relative
    * frequencies, not a normalized distribution — the point of stupid
    * backoff is skipping the discounting math at scale. Per-doc output is
    * the mean of round(ln S, 9) over trigram positions, decimal-summed
    * (order-free) and rounded to 6, the q120 recipe.
    *
    * Every branch divides a BIGINT by a BIGINT in one double division with
    * the multiplication order pinned, so the oracle reproduces the IEEE
    * chain bit-for-bit. Model build and plan: [[ngramLm]]. */
  def trigramScore(train: DataFrame, eval: DataFrame, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val lm = ngramLm(train, 3)
    val n2 = lm.tier(2, "n2")
    val n1 = lm.tier(1, "n1")
    val scored = ngrams(withTokens(eval), 3, "doc_id")
      .join(broadcast(lm.tier(3, "n123")), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(n2.withColumnRenamed("n2", "n12")), Seq("w1", "w2"), "left")
      .join(broadcast(n2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("n2").as("n23"))), Seq("w2", "w3"), "left")
      .join(broadcast(n1.select(col("w1").as("w2"), col("n1").as("n1_2"))),
        Seq("w2"), "left")
      .join(broadcast(n1.select(col("w1").as("w3"), col("n1").as("n1_3"))),
        Seq("w3"), "left")
      .crossJoin(broadcast(lm.totals))
    perDocMeanLp(scored,
      when(col("n123").isNotNull,
        col("n123").cast(DoubleType) / col("n12"))
      .when(col("n23").isNotNull,
        (lit(alpha) * col("n23")) / col("n1_2"))
      .otherwise(
        ((lit(alpha) * lit(alpha)) * (coalesce(col("n1_3"), lit(0L)) + lit(1.0)))
          / (col("nn") + col("v")).cast(DoubleType)), "n_trigrams")
  }

  def qTrigramScore(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(trigramScore(_, _))

  /** Stupid-backoff FIVE-gram scoring — [[trigramScore]]'s tier chain
    * extended to the KenLM shape the CCNet-style quality gates actually
    * deploy (a 5-gram LM; Brants et al. 2007 run stupid backoff at
    * exactly this order at web scale):
    *
    *   S(w5|w1..w4) = n12345/n1234                if the 5-gram was seen
    *                = α  · n2345/n234             else if the 4-gram was
    *                = α² · n345/n34               else if the trigram was
    *                = α³ · n45/n1(w4)             else if the bigram was
    *                = α⁴ · (n1(w5)+1)/(N+V)       else (the q122 pinned
    *                                              add-1 unigram floor)
    *
    * with α = 0.4. Same output shape as q120/q122: per-doc mean of
    * round(ln S, 9) over 5-gram positions, decimal-summed, rounded to 6.
    *
    * Each model row carries its backoff denominator (the prefix fusion
    * below). Each backoff tier divides a BIGINT by a BIGINT after one left-to-right α-product — the multiplication order
    * is pinned (α, then (α·α), then ((α·α)·α), then (((α·α)·α)·α)) so the
    * oracle reproduces the IEEE chain bit-for-bit. A seen n-gram
    * guarantees its context count is non-null (the context is a prefix of
    * the seen n-gram), so no branch divides by null. Model build and
    * plan: [[ngramLm]]. */
  def fivegramScore(train: DataFrame, eval: DataFrame, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val lm = ngramLm(train, 5)
    val n5 = lm.tier(5, "n5")
    val n4 = lm.tier(4, "n4")
    val n3 = lm.tier(3, "n3")
    val n2 = lm.tier(2, "n2")
    val n1 = lm.tier(1, "n1")
    // PREFIX-FUSED model tables (round 17 — halves the eval-side join
    // count 9 → 5): every backoff denominator is the PREFIX context of
    // its tier's numerator gram (n5/n4(w1..w4), α·n4/n3(w2w3w4),
    // α²·n3/n2(w3w4), α³·n2/n1(w4)), so each n-gram model row carries its
    // own prefix-context count via ONE train-bounded inner join here
    // (a seen n-gram's prefix is always seen, so inner loses nothing)
    // instead of a second broadcast join against every eval row. Each
    // denominator is only consumed when its numerator hit, so the carried
    // value is exactly sufficient; counts, divisions, and the α chain are
    // bit-identical to the unfused form.
    val n5m = n5.join(broadcast(n4.withColumnRenamed("n4", "n4_ctx")),
      Seq("w1", "w2", "w3", "w4"))
    val n4m = n4.join(broadcast(n3.withColumnRenamed("n3", "n3_ctx")),
      Seq("w1", "w2", "w3"))
    val n3m = n3.join(broadcast(n2.withColumnRenamed("n2", "n2_ctx")),
      Seq("w1", "w2"))
    val n2m = n2.join(broadcast(n1.withColumnRenamed("n1", "n1_ctx")), Seq("w1"))
    val a1 = lit(alpha)
    val a2 = lit(alpha) * lit(alpha)
    val a3 = (lit(alpha) * lit(alpha)) * lit(alpha)
    val a4 = ((lit(alpha) * lit(alpha)) * lit(alpha)) * lit(alpha)
    val scored = ngrams(withTokens(eval), 5, "doc_id")
      .join(broadcast(n5m), Seq("w1", "w2", "w3", "w4", "w5"), "left")
      .join(broadcast(n4m.select(col("w1").as("w2"), col("w2").as("w3"),
        col("w3").as("w4"), col("w4").as("w5"), col("n4").as("n4_hit"),
        col("n3_ctx"))),
        Seq("w2", "w3", "w4", "w5"), "left")
      .join(broadcast(n3m.select(col("w1").as("w3"), col("w2").as("w4"),
        col("w3").as("w5"), col("n3").as("n3_hit"), col("n2_ctx"))),
        Seq("w3", "w4", "w5"), "left")
      .join(broadcast(n2m.select(col("w1").as("w4"), col("w2").as("w5"),
        col("n2").as("n2_hit"), col("n1_ctx").as("n1_4"))),
        Seq("w4", "w5"), "left")
      .join(broadcast(n1.select(col("w1").as("w5"), col("n1").as("n1_5"))),
        Seq("w5"), "left")
      .crossJoin(broadcast(lm.totals))
    perDocMeanLp(scored,
      when(col("n5").isNotNull,
        col("n5").cast(DoubleType) / col("n4_ctx"))
      .when(col("n4_hit").isNotNull,
        (a1 * col("n4_hit")) / col("n3_ctx"))
      .when(col("n3_hit").isNotNull,
        (a2 * col("n3_hit")) / col("n2_ctx"))
      .when(col("n2_hit").isNotNull,
        (a3 * col("n2_hit")) / col("n1_4"))
      .otherwise(
        (a4 * (coalesce(col("n1_5"), lit(0L)) + lit(1.0)))
          / (col("nn") + col("v")).cast(DoubleType)), "n_fivegrams")
  }

  def qFivegramScore(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(fivegramScore(_, _))

  /** Asymmetric shingle containment — quote/subset detection: C(A→B) =
    * |sh(A) ∩ sh(B)| / |sh(A)|. A short document embedded verbatim in a
    * long one scores containment ≈ 1 while its Jaccard is tiny, so this
    * catches exactly the wrapper-page/quotation duplication the
    * symmetric q34/q35 family is blind to (the Lee-et-al substring
    * signal at document granularity).
    *
    * Scale contract: candidate pairs come from the shingle equi-join over
    * [[cappedShingles]], so pair work is ≤ maxDf² per shingle and a viral
    * header never goes quadratic in the corpus. Cardinalities
    * are the CAPPED per-doc counts, making the score "containment over
    * non-boilerplate shingles" — the semantics a dedup pass wants anyway.
    * Shingles are 64-bit hashes (the q34 contract: set identity modulo
    * ~2⁻⁴⁰); the one division per direction rounds to 6. */
  def containmentPairs(docs: DataFrame, tau: Double = 0.9, maxDf: Long = 64L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(maxDf >= 1L, s"maxDf must be >= 1, got $maxDf")
    val sh = graft.core.InternalCaches.persist(
      withHashedShingles(docs).select(col("doc_id"), explode(col("hs")).as("h")))
    val ex = cappedShingles(sh, maxDf)
    val cards = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = sharedKeyPairs(ex, "h")
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_common"))
    bothSides(common, cards, "n")
      .withColumn("cont_a", round(col("n_common").cast(DoubleType) / col("n1"), 6))
      .withColumn("cont_b", round(col("n_common").cast(DoubleType) / col("n2"), 6))
      .filter(col("cont_a") >= tau || col("cont_b") >= tau)
      .select(col("d1"), col("d2"), col("n_common"), col("cont_a"), col("cont_b"))
  }

  def qContainment(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(s, dir))

  /** C4 cleaning-rule battery (Raffel et al. 2020, §2.2 — the heuristic
    * stack applied to Common Crawl before T5 pretraining), as ONE per-row
    * projection emitting each rule's statistic plus the document-level
    * keep flag:
    *
    *   C1 terminal-punctuation line retention — lines ending in '.', '!',
    *      '?' or '"' after trailing-space trim (C4 keeps only such lines;
    *      reported as n_term_lines and the retention ratio)
    *   C2 ≥ `minSentences` sentences per page (sentence count ≈ '.'
    *      marks, leftmost-nonoverlapping replace-and-diff)
    *   C3 no "lorem ipsum" placeholder text
    *   C4 no curly brace '{' (the paper's code-page marker)
    *   C5 "javascript" lines (C4 drops the LINE; reported as a count)
    *   C6 no bad words (configurable list)
    *
    * keep = C2 ∧ C3 ∧ C4 ∧ C6 — C1/C5 are line-level EDITS in the paper,
    * not document drops, so their statistics are what a caller's line
    * filter consumes. Scale shape: the q126/q128 contract — integer
    * counts plus ONE pinned double division, no join, no shuffle, pure
    * codegen'd scan work; embarrassingly parallel at 100 TB. */
  def c4Rules(docs: DataFrame, badWords: Seq[String] = Seq("casino"),
              minSentences: Long = 3L): DataFrame = {
    require(badWords.nonEmpty, "c4Rules needs a non-empty bad-word list")
    require(minSentences >= 1L, s"bad minSentences $minSentences")
    val badPred = badWords.map(w => col("text").contains(w)).reduce(_ || _)
    docs
      .withColumn("ls", split(col("text"), "\n", -1))
      .withColumn("n_lines", size(col("ls")).cast(LongType))
      .withColumn("n_term_lines", expr(
        "size(filter(ls, x -> endswith(rtrim(x), '.') OR endswith(rtrim(x), '!') " +
          "OR endswith(rtrim(x), '?') OR endswith(rtrim(x), '\"')))").cast(LongType))
      .withColumn("n_sentences",
        (length(col("text")) - length(replace(col("text"), lit("."), lit(""))))
          .cast(LongType))
      .withColumn("n_js_lines", expr(
        "size(filter(ls, x -> contains(x, 'javascript')))").cast(LongType))
      .withColumn("has_lorem", col("text").contains("lorem ipsum").cast(LongType))
      .withColumn("has_brace", col("text").contains("{").cast(LongType))
      .withColumn("has_bad", badPred.cast(LongType))
      .withColumn("term_ratio_raw",
        col("n_term_lines").cast(DoubleType) / col("n_lines"))
      .withColumn("keep",
        (col("n_sentences") >= minSentences &&
          col("has_lorem") === 0L && col("has_brace") === 0L &&
          col("has_bad") === 0L).cast(LongType))
      .select(col("doc_id"), col("n_lines"), col("n_term_lines"),
        round(col("term_ratio_raw"), 6).as("term_ratio"),
        col("n_sentences"), col("n_js_lines"),
        col("has_lorem"), col("has_brace"), col("has_bad"), col("keep"))
  }

  /** q129 — C4 rules over a DERIVED corpus: the q128 trick manufactures
    * line structure plus planted rule violations in BOTH engines with the
    * same five leftmost-nonoverlapping replaces (' the ' closes a
    * sentence and opens a line; ' batch ' plants a '{'; ' slow fast '
    * plants "lorem ipsum"; ' spark ' plants a javascript line;
    * ' value table ' plants the bad word). */
  def qC4Rules(s: SparkSession, dir: String): DataFrame =
    c4Rules(Tables.documents(s, dir).withColumn("text",
      replace(replace(replace(replace(replace(col("text"),
        lit(" the "), lit(".\nthe ")),
        lit(" batch "), lit(" {batch ")),
        lit(" slow fast "), lit(" lorem ipsum ")),
        lit(" spark "), lit(" javascript ")),
        lit(" value table "), lit(" casino table "))))

  /** Quality-filter FUNNEL — the per-source survival report every
    * cleaning pipeline publishes (C4 §2.2, Gopher A1, RefinedWeb fig. 2
    * all lead with one): how many documents survive each SUCCESSIVE
    * stage — Gopher word rules → C4 cleaning rules → line-shape rules →
    * exact dedup (canonical = min doc_id per content hash). Each stage
    * count is conditioned on surviving all previous stages, so the
    * columns are monotone non-increasing and the marginal cost of every
    * filter is visible per source — the number that decides filter
    * ORDER in production. A composition gate: the four stage flags come
    * from the audited operators ([[gopherRules]], [[c4Rules]],
    * [[lineRules]], the q33 hash-agg), not re-implementations.
    *
    * Scale shape: each rule op is ONE projection riding its scan; the
    * flag joins are uniform-key (doc_id) shuffle equi-joins; the
    * canonical flag is the q33 md5 hash-agg joined back by the same
    * uniform key; the rollup is source-keyed with map-side combine. At
    * 100 TB a deployment would fuse the three projections into one pass
    * — the operators compose either way; the funnel's joins are the
    * price of reusing the audited implementations unmodified. */
  /** The three per-row rule flags of the funnel over `base` (doc_id,
    * source, text): the audited [[gopherRules]]/[[c4Rules]]/[[lineRules]]
    * projections joined back on the uniform doc_id key. Shared verbatim
    * by the batch funnel and the ingest-time streaming twin
    * ([[graft.streaming.StatefulOps.StreamingFunnel]]), so the two paths
    * cannot drift. */
  private[graft] def funnelRuleFlags(base: DataFrame): DataFrame = {
    val g = gopherRules(base).select(col("doc_id"), col("keep").as("g_keep"))
    val c = c4Rules(base).select(col("doc_id"), col("keep").as("c_keep"))
    val l = lineRules(base).select(col("doc_id"), col("keep").as("l_keep"))
    base.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .join(g, "doc_id").join(c, "doc_id").join(l, "doc_id")
  }

  /** The funnel's source-keyed survival rollup over a per-doc flag frame
    * (source, g_keep, c_keep, l_keep, u_keep) — monotone products, so
    * each stage is conditioned on surviving all previous ones. Shared by
    * the batch funnel and the streaming twin's report. */
  private[graft] def funnelRollup(flags: DataFrame): DataFrame = flags
    .groupBy(col("source"))
    .agg(count(lit(1)).cast(LongType).as("n_docs"),
      sum(col("g_keep")).cast(LongType).as("n_gopher"),
      sum(col("g_keep") * col("c_keep")).cast(LongType).as("n_c4"),
      sum(col("g_keep") * col("c_keep") * col("l_keep")).cast(LongType)
        .as("n_lines"),
      sum(col("g_keep") * col("c_keep") * col("l_keep") * col("u_keep"))
        .cast(LongType).as("n_unique"))

  def filterFunnel(docs: DataFrame): DataFrame = {
    val base = graft.core.InternalCaches.persist(
      docs.select(col("doc_id"), col("source"), col("text")))
    val canon = base
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("cid"))
    funnelRollup(funnelRuleFlags(base)
      .join(canon, "h")
      .withColumn("u_keep", (col("doc_id") === col("cid")).cast(LongType)))
  }

  /** The q183 gate corpus: the q129 derived corpus (so every rule has
    * teeth) plus the q167 re-keyed plants (so the dedup stage genuinely
    * fires). Shared with the streaming-twin spec so both paths replay the
    * identical rows. */
  private[graft] def funnelGateCorpus(s: SparkSession, dir: String): DataFrame = {
    val derived = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("text",
        replace(replace(replace(replace(replace(col("text"),
          lit(" the "), lit(".\nthe ")),
          lit(" batch "), lit(" {batch ")),
          lit(" slow fast "), lit(" lorem ipsum ")),
          lit(" spark "), lit(" javascript ")),
          lit(" value table "), lit(" casino table ")))
    val planted = derived.filter(expr("doc_id % 16 = 1"))
      .select((lit(4L) * (col("doc_id") + lit(1000000000L))).as("doc_id"),
        col("source"), col("text"))
    derived.unionByName(planted)
  }

  def qFilterFunnel(s: SparkSession, dir: String): DataFrame =
    filterFunnel(funnelGateCorpus(s, dir))

  /** DSIR data-selection importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every candidate document by how target-like it is under two hashed
    * bag-of-n-grams models,
    *
    *   log w(x) = Σ_occurrences [ ln p̂_target(b) − ln p̂_raw(b) ]
    *
    * where b is the occurrence's hash bucket (unigrams AND bigrams hashed
    * into `buckets` buckets — the paper's feature space) and each p̂ is the
    * add-1-smoothed bucket frequency (c_b + 1)/(N + B). A pipeline then
    * resamples candidates ∝ exp(log w) — emitting the raw log weight keeps
    * that (and Gumbel top-k) in the caller's hands.
    *
    * The bucket hash is a 31-ary code-point polynomial mod B — chosen over
    * Murmur because BOTH engines can evaluate it exactly (Spark
    * `aggregate` over code points, DuckDB `list_reduce`), so the q130 gate
    * hash-matches end-to-end; acc < B ≤ 2²⁰ and code points < 2²¹ keep the
    * fold inside exact Long range.
    *
    * Scale shape (the q120/q122 contract): both model tables are
    * ≤ B rows by construction — broadcast onto the eval side's feature
    * explode with the 1-row totals frame, so scoring is one eval-corpus
    * scan with zero eval-row shuffles before the per-doc partial-agg sum.
    * Each branch divides a (count+1.0) DOUBLE by a BIGINT total in one
    * pinned division; per-occurrence ln difference rounds to 9, the
    * per-doc decimal sum to 6.
    *
    * Round 16: the per-occurrence hash is the native codegen'd
    * `graft_feats31` ([[graft.functions.Feats31]]) — the earlier nested
    * aggregate-over-code-points HOFs were interpreted per token per
    * character and made q130 the #1 sweep cost (5.1 s), drifting under
    * megamorphic dispatch like quantize_1m did. The kernel folds the
    * identical (acc·31 + cp) % B sequence (bigrams continue the fold
    * through the joining space — no concat allocation), so every bucket
    * id, and therefore the gate hash, is unchanged. */
  def dsirWeights(target: DataFrame, raw: DataFrame, eval: DataFrame,
                  buckets: Int = 10000): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20), s"bad bucket count $buckets")
    graft.functions.GraftFunctions.register(target.sparkSession)
    def feats(docs: DataFrame): DataFrame =
      withTokens(docs).select(col("doc_id"),
        explode(expr(s"graft_feats31(t, $buckets)")).as("b"))
    dsirFromFeats(feats(target), feats(raw), feats(eval), buckets)
  }

  /** Scoring over pre-exploded (doc_id, b) feature frames — split out so
    * the gate can feed all three roles from ONE persisted corpus scan. */
  private def dsirFromFeats(tFeats: DataFrame, rFeats: DataFrame,
                            eFeats: DataFrame, buckets: Int): DataFrame = {
    def bucketCounts(f: DataFrame, cnt: String): DataFrame =
      f.groupBy(col("b")).agg(count(lit(1)).cast(LongType).as(cnt))
    val ct = bucketCounts(tFeats, "ct")
    val cr = bucketCounts(rFeats, "cr")
    val tot = ct.agg(sum(col("ct")).cast(LongType).as("nt"))
      .crossJoin(cr.agg(sum(col("cr")).cast(LongType).as("nr")))
    dsirLogWeights(eFeats
      .join(broadcast(ct), Seq("b"), "left")
      .join(broadcast(cr), Seq("b"), "left")
      .crossJoin(broadcast(tot)), buckets)
  }

  /** DSIR's scoring tail over (doc_id, b) rows already joined to the
    * target/raw bucket counts ct/cr and the totals nt/nr: the per-occurrence
    * log ratio, rounded to 9, summed per doc as decimals, rounded to 6. */
  private def dsirLogWeights(scored: DataFrame, buckets: Int): DataFrame =
    scored
      .withColumn("lp", round(
        log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + lit(buckets.toLong))) -
        log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("nr") + lit(buckets.toLong))), 9))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_feat"),
        round(sum(col("lp").cast(DecimalType(28, 12))).cast(DoubleType), 6)
          .as("dsir_lw"))

  /** q130 — DSIR with the 'en' slice as the target domain and the whole
    * corpus as the raw distribution, scoring every document (the paper's
    * setup: target = formal/domain text, raw = the crawl, candidates =
    * the crawl). Because target ⊂ raw = eval here, ONE persisted
    * tokenize+hash+explode scan feeds all three roles (round 16 — the
    * general form re-scanned the corpus three times); the filtered view
    * IS the target explode, so counts and the gate hash are unchanged. */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val buckets = 10000
    graft.functions.GraftFunctions.register(s)
    val feats = graft.core.InternalCaches.persist(
      withTokens(Tables.documents(s, dir))
        .select(col("doc_id"), (col("lang") === "en").as("is_t"),
          explode(expr(s"graft_feats31(t, $buckets)")).as("b")))
    // FUSED bucket counts (round 20, guide §2.3/§2.4): target ⊂ raw here,
    // so the two per-role aggregations of [[dsirFromFeats]] (ct over the
    // is_t slice, cr over everything) collapse into ONE aggregation over
    // the persisted feature scan — cr counts every row, ct the is_t
    // slice via a conditional sum — probed by ONE broadcast join instead
    // of two, with both totals in one 1-row aggregate. A conditional-sum
    // ct of 0 feeds (0 + 1.0) exactly as the old left-join NULL fed
    // coalesce(ct, 0) + 1.0, and every eval bucket exists in the fused
    // table (eval = raw), so values are bit-identical (OptLab
    // fingerprint + oracle hash-matched). 2 bucket aggregations + 2
    // totals jobs + 3 broadcasts → 1 + 1 + 2.
    val bc = graft.core.InternalCaches.persist(
      feats.groupBy(col("b")).agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).cast(LongType).as("ct"),
        count(lit(1)).cast(LongType).as("cr")))
    val tot = bc.agg(sum(col("ct")).cast(LongType).as("nt"),
      sum(col("cr")).cast(LongType).as("nr"))
    dsirLogWeights(feats.select(col("doc_id"), col("b"))
      .join(broadcast(bc), Seq("b"), "left")
      .crossJoin(broadcast(tot)), buckets)
  }

  /** Feature-hashing bucket health report — the collision audit published
    * before the hashing trick (Weinberger et al. 2009, the
    * vocabulary-free featurization behind every fastText/VW-style
    * quality classifier, and q130's feature space) is trusted at a given
    * width: per bucket, how many distinct token types collide into it,
    * their total occurrence mass, and the SIGNED mass Σ ξ(w)·c(w) the
    * trick actually aggregates — the sign hash is what makes collisions
    * cancel in expectation (the paper's unbiasedness argument), so a
    * signed mass far from zero in a loaded bucket is exactly the
    * collision damage a wider table would avoid.
    *
    * Hashes are cross-engine-exact: h = the q130 31-ary code-point
    * polynomial mod 2²⁰, bucket = h mod B, sign = 1 − 2·((h div B) mod 2)
    * — bucket and sign draw on disjoint bit ranges of h, all integer.
    *
    * Scale shape: ONE corpus scan into the vocab-bounded (token, count)
    * frame (map-side combine), the hash/sign projection rides that
    * bounded frame, and the final rollup has exactly B keys. All-integer
    * output — nothing to pin. */
  def featureHashReport(docs: DataFrame, buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 19), s"bad bucket count $buckets")
    // native graft_hash31 (round 16): identical (acc*31 + cp) % 2^20 fold
    // as the interpreted HOF it replaces — the frame is vocab-bounded so
    // this is consistency with q130's kernel more than a hot-path fix
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val h = s"graft_hash31(w, ${1 << 20})"
    tokenCounts(docs)("c")
      .withColumn("h", expr(h))
      .select(expr(s"h % $buckets").as("b"),
        expr(s"1L - 2L * ((h div $buckets) % 2L)").as("sgn"), col("c"))
      .groupBy(col("b"))
      .agg(count(lit(1)).cast(LongType).as("n_types"),
        sum(col("c")).cast(LongType).as("n_occ"),
        sum(col("sgn") * col("c")).cast(LongType).as("signed_sum"))
  }

  def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    featureHashReport(Tables.documents(s, dir))

  /** Span-level benchmark contamination report — the measurement half of
    * [[decontaminate]] (which only flags membership): for every training
    * document sharing at least one `n`-token shingle with the eval split,
    * report HOW MUCH overlaps, as contiguous spans (Lee et al. 2021's
    * "Deduplicating Training Data ..." measures exactly these token-span
    * overlaps; a pipeline uses them to decide masking vs dropping):
    *
    *   n_matched        matched shingle positions in the doc
    *   n_spans          maximal runs of CONSECUTIVE matched positions
    *   max_span_tokens  longest run in tokens (= run length + n − 1)
    *
    * Shape: positional shingles (sequence → slice → concat_ws), 64-bit
    * xxhash64 semi-join against the DISTINCT eval-shingle set (benchmark-
    * bounded ⇒ broadcast, the q71 contract; same ~2⁻⁴⁰ collision caveat as
    * q34, discharged empirically by the string-shingle oracle), then
    * islands-and-gaps per doc: pos − row_number() over a PER-DOCUMENT
    * window is constant exactly on consecutive runs. The window partitions
    * by doc_id — thousands of independent bounded partitions, never a
    * global sort — and only MATCHED positions (benchmark-overlap-sized,
    * not corpus-sized) enter it. */
  /** POSITIONAL shingle struct array (pos, xxhash64 of the n-token
    * window) — unlike graft_shingles, repeated shingles keep every
    * position, which is what the span operators (q131/q133) align on. */
  private def posShingleExpr(n: Int): Column = expr(
    s"transform(sequence(1, size(t) - $n + 1), i -> " +
      s"struct(CAST(i AS BIGINT) AS pos, " +
      s"xxhash64(concat_ws(' ', slice(t, i, $n))) AS h))")

  def contaminationSpans(docs: DataFrame, evalPred: Column, n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val posShingles = posShingleExpr(n)
    val sh = graft.core.InternalCaches.persist(
      withTokens(docs).withColumn("is_eval", evalPred)
        .filter(size(col("t")) >= n)
        .select(col("doc_id"), col("is_eval"), explode(posShingles).as("g"))
        .select(col("doc_id"), col("is_eval"), col("g.pos"), col("g.h")))
    val evalSh = sh.filter(col("is_eval")).select(col("h")).distinct()
    val matched = sh.filter(!col("is_eval"))
      .join(evalSh, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos")) // one shingle per position — already distinct
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    matched
      .withColumn("grp", col("pos") - row_number().over(byPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).cast(LongType).as("run"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run")).cast(LongType).as("n_matched"),
        count(lit(1)).cast(LongType).as("n_spans"),
        (max(col("run")) + lit((n - 1).toLong)).cast(LongType).as("max_span_tokens"))
  }

  /** q131 — span report against the q71 gate's fixed 32-document eval set,
    * at trigram width (the synthetic corpus' planted near-duplicates give
    * the runs real spread; a production benchmark check runs n = 13 with
    * the identical plan — only the broadcast set size changes). */
  def qContaminationSpans(s: SparkSession, dir: String): DataFrame =
    contaminationSpans(Tables.documents(s, dir), col("doc_id") < 32, n = 3)

  /** Corpus-level duplicated-SPAN pairs — Lee et al. 2021's ExactSubstr
    * dedup signal between every pair of training documents (q131 measures
    * overlap against a fixed benchmark; THIS operator finds verbatim
    * copying inside the corpus itself, the signal doc-level Jaccard
    * (q34/q35) dilutes and per-doc span stats (q83) don't attribute to a
    * pair): for each document pair sharing an aligned run of ≥
    * `minSpanTokens` verbatim tokens, report the alignment count, span
    * count, and longest span.
    *
    * Alignment is the classic DIAGONAL trick: a matched shingle pair at
    * positions (pos1, pos2) lies on diagonal pos1 − pos2, and a verbatim
    * run of length L yields L − n + 1 CONSECUTIVE pos1 values on ONE
    * diagonal — so runs are islands (pos1 − row_number constant) within
    * (d1, d2, diag) groups, and the longest span is max run + n − 1 tokens.
    *
    * Scale shape: the q121 contract end-to-end — positional shingles
    * hashed to 64 bits and capped by [[cappedShingles]] before the pair
    * join, pair work ≤ maxDf²·positions per shingle; the islands window
    * partitions by (pair, diagonal) — bounded by the shorter doc, never
    * global. Spans whose every shingle is boilerplate-capped are invisible
    * by contract (q121's "containment over non-boilerplate shingles"). */
  def duplicatedSpans(docs: DataFrame, n: Int = 3, maxDf: Long = 64L,
                      minSpanTokens: Long = 5L): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(maxDf >= 1L, s"maxDf must be >= 1, got $maxDf")
    require(minSpanTokens >= n, s"minSpanTokens $minSpanTokens < shingle width $n")
    import org.apache.spark.sql.expressions.Window
    val sh = graft.core.InternalCaches.persist(
      withTokens(docs).filter(size(col("t")) >= n)
        .select(col("doc_id"), explode(posShingleExpr(n)).as("g"))
        .select(col("doc_id"), col("g.pos"), col("g.h")))
    val byDiag = Window.partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("pos1"))
    sharedKeyPairs(cappedShingles(sh, maxDf), "h")
      .withColumn("diag", col("pos1") - col("pos2"))
      .withColumn("grp", col("pos1") - row_number().over(byDiag))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(count(lit(1)).cast(LongType).as("run"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(col("run")).cast(LongType).as("n_matched"),
        count(lit(1)).cast(LongType).as("n_spans"),
        (max(col("run")) + lit((n - 1).toLong)).cast(LongType).as("max_span_tokens"))
      .filter(col("max_span_tokens") >= minSpanTokens)
  }

  /** q133 — trigram shingles, the q121 df cap, spans ≥ 5 tokens (the
    * synthetic corpus' planted duplicates carry spans up to ~100 tokens;
    * production ExactSubstr runs minSpanTokens = 50 with the identical
    * plan). */
  def qDuplicatedSpans(s: SparkSession, dir: String): DataFrame =
    duplicatedSpans(Tables.documents(s, dir))

  /** WordPiece-style greedy maximal-munch segmentation (the inference
    * rule of Devlin et al. 2019's tokenizer, unmarked-continuation
    * variant) with a frequency-derived piece vocabulary — the third
    * tokenizer family next to BPE train/apply/infer (q118/q119/q124):
    *
    *   vocab   all substrings of length 2..maxPieceLen whose corpus
    *           occurrence mass ≥ total_tokens/thrDiv, plus EVERY single
    *           character (so segmentation always terminates), derived
    *           from the distinct-word table — the scale-invariant
    *           threshold keeps the vocab shape stable across SF
    *   segment greedy longest-prefix-match per word, longest piece
    *           first; words longer than maxWordLen emit [UNK] (the
    *           deployed-WordPiece long-token rule)
    *   report  corpus-weighted piece histogram (distinct words + total
    *           occurrences), top-K bounded heap
    *
    * Scale shape: ALL work after the one corpus token scan runs on the
    * vocab-BOUNDED distinct-word table. Round 18 — the greedy walk is the
    * native [[graft.functions.GreedyMunch]] kernel in ONE projection: the
    * piece vocabulary is bounded by construction (length-l pieces need
    * corpus mass ≥ total/thrDiv → ≤ ~thrDiv·avgLen entries per length,
    * plus the charset), so it collects to the driver and rides the
    * serialized expression to every task — zero joins, zero per-step
    * checkpoints, zero loop-guard probes. The former formulation ran
    * ≤ maxWordLen dataframe steps of maxPieceLen broadcast joins each
    * (~2 driver round-trips per step — the many-tiny-job shape the
    * round-17 A/B showed this box's scheduler punishes; q134 was the top
    * clean-window sweep cost at ~2.7 s). Same recipe as the q140 Viterbi
    * broadcast-map fold; segmentation output is bit-identical (spec- and
    * gate-asserted). The DuckDB oracle expresses the same greedy walk
    * as a recursive CTE over the identical vocab tables, so the gate
    * hash-matches the full segmentation, not just its shape. */
  def wordpieceSegment(docs: DataFrame, maxPieceLen: Int = 4,
                       maxWordLen: Int = 16, thrDiv: Long = 30L,
                       topK: Int = 50): DataFrame = {
    require(maxPieceLen >= 2, s"maxPieceLen must be >= 2, got $maxPieceLen")
    require(maxWordLen >= 1 && thrDiv >= 1 && topK >= 1,
      s"bad params ($maxWordLen, $thrDiv, $topK)")
    val words = graft.core.InternalCaches.persist(tokenCounts(docs)("cnt"))
    val thr = words.agg(sum(col("cnt")).cast(LongType)).head.getLong(0) / thrDiv
    def subFreq(l: Int): DataFrame =
      words.filter(length(col("w")) >= l)
        .select(col("cnt"), explode(expr(
          s"transform(sequence(1, length(w) - $l + 1), i -> substring(w, i, $l))")).as("s"))
        .groupBy(col("s")).agg(sum(col("cnt")).cast(LongType).as("freq"))
    val vocabs: Map[Int, DataFrame] =
      ((2 to maxPieceLen).map(l =>
        l -> subFreq(l).filter(col("freq") >= thr).select(col("s").as(s"p$l"))) :+
        (1 -> words.select(explode(expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("p1"))
          .distinct())).toMap
    // bounded collects: each p_l table holds pieces with corpus mass
    // ≥ total/thrDiv (≤ ~thrDiv·avgLen rows), p1 is the corpus charset
    val vocabStrings: Seq[String] =
      (2 to maxPieceLen).flatMap(l =>
        vocabs(l).collect().map(_.getString(0)).toSeq) ++
        vocabs(1).collect().map(_.getString(0)).toSeq
    val state = words.filter(length(col("w")) <= maxWordLen)
      .select(col("w"), col("cnt"),
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.GreedyMunch(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("w")),
            vocabStrings, maxPieceLen)).as("pieces"))
    val unk = words.filter(length(col("w")) > maxWordLen)
      .select(col("w"), col("cnt"), array(lit("[UNK]")).as("pieces"))
    state.select(col("w"), col("cnt"), col("pieces")).union(unk)
      .select(col("w"), col("cnt"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece"))
      .agg(countDistinct(col("w")).cast(LongType).as("n_words"),
        sum(col("cnt")).cast(LongType).as("occurrences"))
      .orderBy(col("occurrences").desc, col("piece").asc)
      .limit(topK)
  }

  def qWordpiece(s: SparkSession, dir: String): DataFrame =
    wordpieceSegment(Tables.documents(s, dir))

  /** WordPiece TRAINING (Schuster & Nakajima, ICASSP 2012; the HuggingFace
    * `WordPieceTrainer` rule) — the last tokenizer family to get its
    * trainer (BPE q118, unigram-LM q185): the q118 count→argmax→merge
    * loop, with the argmax scored by LIKELIHOOD GAIN instead of raw pair
    * count. Merging adjacent symbols (a, b) raises a unigram LM's corpus
    * log-likelihood by ≈ cnt(ab)·[ln p(ab) − ln p(a) − ln p(b)], which is
    * monotone in cnt(ab)/(cnt(a)·cnt(b)) — the classic WordPiece score.
    * A high-count pair of two very common symbols (BPE's pick) loses to a
    * lower-count pair of rare symbols that predict each other; the spec
    * plants exactly that corpus and asserts the two trainers diverge.
    *
    * Score pinning: the score is compared as the exact scaled integer
    * floor(cnt(ab)·10¹⁸ / (cnt(a)·cnt(b))) computed exactly in BigInt
    * (the DuckDB oracle: HUGEINT) — cnt(ab) ≤ cnt(a), cnt(b), so the
    * quotient is ≤ 10¹⁸ (fits BIGINT) and both engines truncate the same rational at
    * the same fixed precision: no float enters the argmax. Ties break
    * (score desc, lhs asc, rhs asc). Unigram counts are the
    * corpus-weighted symbol occurrences of the CURRENT segmentation —
    * single-symbol words included (they hold probability mass even though
    * they contribute no pairs).
    *
    * Training is [[mergeLoop]] with this score, so scale shape, the
    * EAGER contract and the anchored-string merge mechanics are
    * [[bpeTrain]]'s; the apply half of the lifecycle is the frozen-table
    * replay [[bpeApplyMerges]] already deployed and gated by q124. */
  def wordpieceTrain(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val e18 = BigInt("1000000000000000000")
    mergeLoop(docs, nMerges) { (cnt, ua, ub) =>
      ((BigInt(cnt) * e18) / (BigInt(ua) * BigInt(ub))).toLong
    }._1.toDF("merge_rank", "lhs", "rhs", "merged", "cnt", "score18")
  }

  def qWordpieceTrain(s: SparkSession, dir: String): DataFrame =
    wordpieceTrain(Tables.documents(s, dir))

  /** q188 — the WordPiece deployed-tokenizer lifecycle over a train/apply
    * corpus split, closing the fourth family's train→apply split exactly
    * as q124 closes BPE's and q186 closes unigram-LM's: train the
    * likelihood-scored merge table ([[wordpieceTrain]]) on the doc_id-even
    * half, segment the doc_id-odd half with the FROZEN table. The apply
    * half IS [[bpeApplyMerges]] — a WordPiece merge table replays by the
    * same sequential rank-order replace chain (a merge's constituents
    * always form strictly earlier), so the deployment machinery is the
    * audited q124 single nested-replace projection unchanged; symbols
    * unseen in training stay character-split, the deployed-tokenizer OOV
    * behavior. Scale shape: training is q187's (one train-half scan +
    * vocab-bounded iterations); apply is one eval-half scan into the
    * vocab-bounded word table + ONE projection. */
  def qWordpieceInference(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir) { (train, eval) =>
      bpeApplyMerges(eval, wordpieceTrain(train).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
    }

  /** Unigram-LM Viterbi segmentation (Kudo, ACL 2018 — the SentencePiece
    * inference rule) — the FOURTH tokenizer family beside BPE
    * train/apply/infer (q118/q119/q124) and WordPiece greedy munch
    * (q134). Where WordPiece commits to the longest prefix locally,
    * unigram-LM picks the GLOBALLY best segmentation: the piece sequence
    * maximizing Σ ln p(piece) under a frozen unigram piece model, found
    * by Viterbi DP over word positions.
    *
    *   vocab   substrings of length 2..maxPieceLen with corpus occurrence
    *           mass ≥ total_tokens/thrDiv, plus EVERY single character
    *           (so a path always exists); p(piece) = mass/Σmass
    *   score   ln p scaled to an INTEGER (round(round(ln,9)·1e9)) so DP
    *           sums are exact longs — float-order ties cannot exist and
    *           the argmax is engine-exact by construction
    *   DP      best(j) over predecessors j−l, l ≤ maxPieceLen; ties →
    *           fewer pieces, then longer final piece (l DESC) — for fixed
    *           l the predecessor state is already unique, so the rule is
    *           a total order
    *   report  top-K words by (cnt DESC, w) with segmentation, piece
    *           count and scaled score; words > maxWordLen emit [UNK]
    *
    * Scale shape: ONE corpus token scan builds the distinct-word table;
    * everything after is vocab-word-bounded. The DP runs as ONE per-word
    * fold against the broadcast piece-model map (see [[viterbiStages]] —
    * round 14 replaced the per-stage broadcast-join formulation, whose
    * ≤ maxWordLen localCheckpoint jobs were pure overhead, with a single
    * projection computing the identical integer DP). The report is a
    * bounded TakeOrderedAndProject heap. The DuckDB oracle unrolls the
    * same DP as materialized per-position CTE stages (the
    * Gonzalez-unroll recipe), so the gate hash-matches the full
    * segmentation. */
  /** The shared Viterbi DP over word positions (q140 inference, q185
    * training e-step, q186 frozen-model apply): segments every word of
    * `words` (w, cnt) of length 1..maxWordLen under the piece model
    * `vocab` (p, l, lp9) and returns (w, cnt, score, np, seq) — the
    * unique best segmentation per word, or no row when no path exists
    * (alphabet-OOV words under a frozen model).
    *
    * Round 14: the DP runs as ONE per-word fold — the bounded piece
    * model collapses to a broadcast map column (alphabet + top-V
    * entries, kBs to MBs at any corpus scale), and each word folds its
    * own positions left-to-right, consulting the map per (position,
    * piece-length) candidate. Same exact-integer lp9 arithmetic, same
    * (score DESC, np ASC, l DESC) tie-break — candidates evaluate in l
    * ASCENDING order and replace on (score, −np) ≥ (ties → the later,
    * longer l wins), which is precisely the old struct-max order, so
    * segmentations are bit-identical to the per-stage broadcast-join
    * formulation this replaces (and to the oracle's unrolled CTE DP).
    * The rewrite removes ~maxWordLen localCheckpoint jobs per DP (the
    * old lineage cut — unnecessary once the DP is a single projection):
    * q140/q185/q186 together dropped from 17.5 s to ~4 s of the gate
    * sweep. Unreachable positions carry a NULL score (the old
    * formulation's absent-row state); any-order equal states cannot
    * exist, so the fold is engine-exact by construction. */
  private def viterbiStages(words: DataFrame, vocab: DataFrame,
                            maxPieceLen: Int, maxWordLen: Int): DataFrame =
    viterbiDp(words, vocab.agg(
      expr("map_from_entries(collect_list(struct(p, lp9)))").as("vm")),
      maxPieceLen, maxWordLen)

  /** The DP fold over a ONE-ROW (vm: MAP<STRING, BIGINT>) frame — split
    * from [[viterbiStages]] (round 20) so the EM loop can feed a
    * driver-built model map directly (a local 1-row frame) instead of
    * re-aggregating a vocab frame into the map once per iteration. The
    * fold itself is unchanged — see the round-14 design note above. */
  private def viterbiDp(words: DataFrame, vmRow: DataFrame,
                        maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val vm = vmRow
    val stT = "STRUCT<s: BIGINT, np: BIGINT, sq: STRING>"
    def pred(idx: String) = s"element_at(acc, $idx)"
    val lp = "try_element_at(vm, substring(w, j - l + 1, l))"
    val dpExpr =
      s"""aggregate(
           sequence(1, length(w)),
           CAST(array(named_struct('s', 0L, 'np', 0L, 'sq', '')) AS ARRAY<$stT>),
           (acc, j) -> concat(acc, array(
             aggregate(
               sequence(1, least($maxPieceLen, j)),
               CAST(named_struct('s', CAST(NULL AS BIGINT),
                 'np', CAST(NULL AS BIGINT), 'sq', CAST(NULL AS STRING)) AS $stT),
               (best, l) -> CASE
                 WHEN ${pred("j - l + 1")}.s IS NULL THEN best
                 WHEN $lp IS NULL THEN best
                 WHEN best.s IS NULL
                   OR ${pred("j - l + 1")}.s + $lp > best.s
                   OR (${pred("j - l + 1")}.s + $lp = best.s
                       AND ${pred("j - l + 1")}.np + 1L <= best.np)
                 THEN named_struct(
                   's', ${pred("j - l + 1")}.s + $lp,
                   'np', ${pred("j - l + 1")}.np + 1L,
                   'sq', CASE WHEN ${pred("j - l + 1")}.sq = ''
                              THEN substring(w, j - l + 1, l)
                              ELSE ${pred("j - l + 1")}.sq || ' ' ||
                                substring(w, j - l + 1, l) END)
                 ELSE best END))))"""
    words.filter(length(col("w")).between(1, maxWordLen))
      .crossJoin(broadcast(vm))
      .withColumn("st", expr(s"element_at($dpExpr, length(w) + 1)"))
      .filter(col("st.s").isNotNull)
      .select(col("w"), col("cnt"), col("st.s").as("score"),
        col("st.np").as("np"), col("st.sq").as("seq"))
  }

  /** Corpus occurrence mass of every substring piece of length
    * 1..maxPieceLen over the (w, cnt) word table — single characters
    * unconditionally (a segmentation path must always exist), longer
    * pieces at mass ≥ total_tokens/thrDiv. Shared q140/q185 seeding. */
  private def seedPieces(words: DataFrame, maxPieceLen: Int,
                         thrDiv: Long): DataFrame = {
    val thr = words.agg(sum(col("cnt")).cast(LongType)).head match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0) / thrDiv
    }
    def subFreq(l: Int): DataFrame =
      words.filter(length(col("w")) >= l)
        .select(col("cnt"), explode(expr(
          s"transform(sequence(1, length(w) - $l + 1), i -> substring(w, i, $l))")).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).cast(LongType).as("freq"))
    (2 to maxPieceLen)
      .map(l => subFreq(l).filter(col("freq") >= thr))
      .foldLeft(subFreq(1))(_ unionByName _)
  }

  /** (p, l, lp9) from a (p, mass) piece table: ln(mass/Σmass) rounded to
    * 9 then scaled to an exact integer — the shared q140/q185 pinning. */
  private def pieceLogProbs(masses: DataFrame, massCol: String): DataFrame = {
    val tm = masses.agg(sum(col(massCol)).cast(LongType).as("tm"))
    masses.crossJoin(broadcast(tm)).select(col("p"),
      length(col("p")).cast(LongType).as("l"),
      lp9Expr(massCol, "tm").as("lp9"))
  }

  /** The engine-side lp9 of integer columns `mass` and `tm`; [[lp9Of]] is
    * its driver-side twin. */
  private[graft] def lp9Expr(mass: String, tm: String): Column =
    expr(s"CAST(round(round(ln(CAST($mass AS DOUBLE) / CAST($tm AS DOUBLE)), 9)" +
      " * 1e9) AS BIGINT)")

  def unigramViterbi(docs: DataFrame, maxPieceLen: Int = 4,
                     maxWordLen: Int = 16, thrDiv: Long = 30L,
                     topK: Int = 100): DataFrame = {
    require(maxPieceLen >= 2 && maxWordLen >= 1 && thrDiv >= 1 && topK >= 1,
      s"bad params ($maxPieceLen, $maxWordLen, $thrDiv, $topK)")
    val words = graft.core.InternalCaches.persist(tokenCounts(docs)("cnt"))
    val kept = seedPieces(words, maxPieceLen, thrDiv)
    val vocab = graft.core.InternalCaches.persist(
      pieceLogProbs(kept, "freq"))
    val seg = viterbiStages(words, vocab, maxPieceLen, maxWordLen)
    val unk = words.filter(length(col("w")) > maxWordLen)
      .select(col("w"), col("cnt"), lit(null).cast(LongType).as("score"),
        lit(1L).as("np"), lit("[UNK]").as("seq"))
    Seq(seg, unk).reduce(_ unionByName _)
      .select(col("w"), col("cnt"), col("np").as("n_pieces"), col("seq"),
        col("score").as("score_lp9"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(topK)
  }

  def qUnigramViterbi(s: SparkSession, dir: String): DataFrame =
    unigramViterbi(Tables.documents(s, dir))

  /** Unigram-LM (SentencePiece) tokenizer TRAINING (Kudo, ACL 2018 §4.2)
    * — the missing half of the fourth tokenizer family: q140 segments
    * under a FROZEN frequency-derived piece model; this trains the model
    * by fixed-iteration hard EM (Viterbi-EM):
    *
    *   seed     substring masses from [[seedPieces]] (single chars
    *            unconditional, longer pieces at mass ≥ tokens/thrDiv) —
    *            the q140 seed, so iteration 0 IS the frozen q140 model
    *   e-step   [[viterbiStages]]: best segmentation of every word of
    *            the (w, cnt) table under the current scaled-integer lp9
    *            model (real SentencePiece uses forward–backward expected
    *            counts over ALL segmentations; the hard-EM variant keeps
    *            every count an exact integer, so the trained table is
    *            bit-identical on any engine — same e-step machinery, MAP
    *            instead of marginal)
    *   m-step   expected piece mass = Σ_w cnt(w) · occurrences(p, seg_w)
    *            — a piece-keyed explode+sum; single characters get +1
    *            smoothing so the alphabet never dies and a path always
    *            exists in the next e-step
    *   prune    multi-char pieces with zero mass vanish, survivors cut
    *            to the top-V by (mass DESC, p ASC) — SentencePiece's
    *            prune-only vocabulary schedule
    *
    * Output: the full trained piece table (piece, l, mass, lp9) after
    * nIters rounds, lp9 from the final masses — the model artifact a
    * q140-style segmenter would load.
    *
    * Scale shape: ONE corpus token scan builds the word table; every
    * later frame is vocab-bounded (words ≤ |vocabulary|, pieces ≤
    * alphabet + V), so iteration cost is corpus-size-INDEPENDENT after
    * the scan — the 1M-doc BIG anchor asserts the flat shape. The model
    * feeds the e-step's broadcast map, the m-step's alphabet, and the
    * final join, so each iteration's masses are eagerly
    * localCheckpointed (the q118 BPE-loop lineage cut — the pitfall
    * frame consumed more than once per iteration). The top-V cut is a
    * bounded-frame sort, never a corpus window. */
  /** lp9 = CAST(round(round(ln(mass/tm), 9) * 1e9) AS BIGINT) — the
    * [[lp9Expr]] pinning evaluated driver-side: Spark's `ln` (the `Log`
    * expression) runs StrictMath.log in both its interpreted and codegen
    * paths, and java.lang.Math.log may differ from it by an ulp — enough
    * to flip a HALF_UP boundary of round(x, 9). The two rounds are
    * [[EngineMath.round]], and the final cast truncates an integral double
    * exactly. TextSpec asserts bit equality with [[lp9Expr]]. */
  private[graft] def lp9Of(mass: Long, tm: Long): Long =
    EngineMath.round(
      EngineMath.round(StrictMath.log(mass.toDouble / tm.toDouble), 9) * 1e9, 0).toLong

  /** The hard-EM loop with a DRIVER-side m-step (round 20, guide §1.2
    * step 1 "fewer passes"/§5 bounded driver work): every frame the old
    * distributed loop shuffled between iterations is VOCAB-BOUNDED by
    * construction (seed pieces ≤ charset + thrDiv-bounded substrings,
    * expected counts ≤ |current vocab|), i.e. the same "bounded collect"
    * class as the BPE/WordPiece per-merge argmax — so the m-step
    * (alphabet +1 smoothing, top-V prune, lp9 model) runs on collected
    * rows and each EM iteration costs exactly ONE distributed job: the
    * e-step fold over the persisted word table plus its piece-count
    * rollup. 32 Spark jobs → ~7 at the q185 gate (the old loop spent
    * per-iteration jobs on map-building aggs, checkpoint materializations
    * and the singles/multi joins over ≤ 90-row frames). Integer
    * arithmetic is exact either way; lp9 and every tie-break replicate
    * the engine ops bit-for-bit ([[lp9Of]], [[EngineMath.utf8Lt]]; code-point
    * lengths, not UTF-16 units). Gate evidence: OptLab fingerprints and
    * oracle hashes identical at sf0.001/0.01/0.1 and sf1.
    * The training corpus is the (w, cnt) table of `docs`' words of
    * length 1..maxWordLen: the over-long tail (q140's [UNK] words)
    * contributes neither seed mass nor counts. Returns the final
    * (piece, mass) model rows. */
  private def unigramMassesDriver(docs: DataFrame, maxPieceLen: Int,
                                  thrDiv: Long, nIters: Int,
                                  vocabV: Int, maxWordLen: Int): Seq[(String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = graft.core.InternalCaches.persist(
      tokenCounts(docs)("cnt").filter(length(col("w")).between(1, maxWordLen)))
    var masses: Seq[(String, Long)] = seedPieces(words, maxPieceLen, thrDiv)
      .select(col("p"), col("freq")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val alphabet = masses.collect {
      case (p, _) if p.codePointCount(0, p.length) == 1 => p }
    for (_ <- 1 to nIters) {
      val tm = masses.map(_._2).sum
      val vm = masses.map { case (p, m) => p -> lp9Of(m, tm) }.toMap
      val ec: Map[String, Long] =
        viterbiDp(words, Seq(Tuple1(vm)).toDF("vm"), maxPieceLen, maxWordLen)
          .select(col("cnt"), explode(split(col("seq"), " ")).as("p"))
          .groupBy(col("p")).agg(sum(col("cnt")).cast(LongType).as("ec"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val singles = alphabet.map(c => (c, ec.getOrElse(c, 0L) + 1L))
      val multi = ec.toSeq
        .filter { case (p, _) => p.codePointCount(0, p.length) >= 2 }
        .sortWith { case ((pa, ea), (pb, eb)) =>
          ea > eb || (ea == eb && EngineMath.utf8Lt(pa, pb)) }
        .take(vocabV)
      masses = singles ++ multi
    }
    masses
  }

  def unigramTrain(docs: DataFrame, maxPieceLen: Int = 4,
                   maxWordLen: Int = 16, thrDiv: Long = 30L,
                   nIters: Int = 3, vocabV: Int = 40): DataFrame = {
    require(maxPieceLen >= 2 && maxWordLen >= 1 && thrDiv >= 1 &&
      nIters >= 1 && vocabV >= 1,
      s"bad params ($maxPieceLen, $maxWordLen, $thrDiv, $nIters, $vocabV)")
    val spark = docs.sparkSession
    import spark.implicits._
    val masses = unigramMassesDriver(docs, maxPieceLen, thrDiv, nIters,
      vocabV, maxWordLen)
    val tm = masses.map(_._2).sum
    masses.map { case (p, m) =>
      (p, p.codePointCount(0, p.length).toLong, m, lp9Of(m, tm)) }
      .toDF("piece", "l", "mass", "lp9")
  }

  def qUnigramTrain(s: SparkSession, dir: String): DataFrame =
    unigramTrain(Tables.documents(s, dir))

  /** Unigram-LM frozen-model inference — the deployment half completing
    * the fourth tokenizer family's train→apply split exactly as
    * q118→q124 completes BPE's: [[unigramTrain]] the piece model on the
    * train half, FREEZE it, and Viterbi-segment the eval half under the
    * trained lp9 scores (q140's DP, but with the EM-trained model in
    * place of the frozen frequency seed). Eval words with no path under
    * the trained model — characters absent from the training alphabet,
    * the deployed-tokenizer OOV case — emit [UNK], as do words over
    * maxWordLen; detection is a doc-keyed anti join of the eval word
    * table against the segmented output, never a per-word driver check.
    *
    * Scale shape: [[unigramTrain]]'s one train-corpus scan + ONE eval
    * scan into the vocab-bounded eval word table; the trained model is a
    * bounded frame consumed via the same broadcast DP joins. */
  def unigramApply(train: DataFrame, eval: DataFrame, maxPieceLen: Int = 4,
                   maxWordLen: Int = 16, thrDiv: Long = 30L, nIters: Int = 3,
                   vocabV: Int = 40, topK: Int = 100): DataFrame = {
    require(topK >= 1, s"bad topK $topK")
    val spark = train.sparkSession
    import spark.implicits._
    // Frozen model straight from the driver-side EM ([[unigramMassesDriver]],
    // round 20): the trained map feeds the eval DP as a local 1-row frame —
    // no per-model aggregation or checkpoint jobs on the apply side.
    val masses = unigramMassesDriver(train, maxPieceLen, thrDiv, nIters,
      vocabV, maxWordLen)
    val tm = masses.map(_._2).sum
    val vm = masses.map { case (p, m) => p -> lp9Of(m, tm) }.toMap
    val words = graft.core.InternalCaches.persist(
      tokenCounts(eval)("cnt").filter(length(col("w")) >= 1))
    val seg = viterbiDp(words, Seq(Tuple1(vm)).toDF("vm"), maxPieceLen, maxWordLen)
    val unk = words
      .join(seg.select(col("w")), Seq("w"), "left_anti")
      .select(col("w"), col("cnt"), lit(null).cast(LongType).as("score"),
        lit(1L).as("np"), lit("[UNK]").as("seq"))
    seg.unionByName(unk)
      .select(col("w"), col("cnt"), col("np").as("n_pieces"), col("seq"),
        col("score").as("score_lp9"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(topK)
  }

  /** Gate: the q120/q141 even/odd corpus split — train on doc_id-even,
    * segment doc_id-odd under the frozen trained model. */
  def qUnigramApply(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(unigramApply(_, _))

  /** DoReMi-style domain reweighting (Xie et al., NeurIPS 2023 — "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * per-domain EXCESS LOSS drives one exponentiated-gradient update of
    * the mixture weights. The proxy/reference pair here is the add-1
    * unigram LM vs the add-1 bigram LM, both trained on the `train` half
    * and scoring the `eval` half — the per-domain gap (how much a better
    * model improves on a worse one) is exactly DoReMi's "learnability"
    * signal, with the q120 broadcast-model plumbing:
    *
    *   excess_k = max(0, L_uni(k) − L_bi(k))  (mean NLL per position)
    *   w'_k ∝ w0_k · exp(η·excess_k),  w0_k = eval-token share
    *
    * Model build and plan: [[ngramLm]]; the per-source rollup ships
    * partial decimal sums only and the update runs on the K-row source
    * table. Floats pinned: per-position ln's round to 9 and sum as
    * decimals; each mean is ONE double division; exp rounds to 9; the
    * normalizer sums K rounded terms as decimals. */
  def doremiWeights(train: DataFrame, eval: DataFrame,
                    eta: Double = 1.0): DataFrame = {
    val dec = DecimalType(28, 12)
    val lm = ngramLm(train, 2)
    val evalTok = graft.core.InternalCaches.persist(
      withTokens(eval).select(col("source"), col("t")))
    val uni = evalTok.select(col("source"), explode(col("t")).as("w1"))
      .join(broadcast(lm.tier(1, "c_w")), Seq("w1"), "left")
      .crossJoin(broadcast(lm.totals))
      .withColumn("lp", round(log(
        (coalesce(col("c_w"), lit(0L)) + lit(1.0)) /
          (col("nn") + col("v")).cast(DoubleType)), 9))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_tok"),
        sum(col("lp").cast(dec)).as("sum_uni"))
    val bi = ngrams(evalTok, 2, "source")
      .join(broadcast(lm.tier(2, "n12")), Seq("w1", "w2"), "left")
      .join(broadcast(lm.histories), Seq("w1"), "left")
      .crossJoin(broadcast(lm.totals))
      .withColumn("lp", round(log(
        (coalesce(col("n12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast(DoubleType)), 9))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_big"),
        sum(col("lp").cast(dec)).as("sum_bi"))
    // perSrc is K rows but its lineage is the two eval scans — persist it
    // (and terms below) so tot/norm/final don't re-run the corpus side,
    // and broadcast the K-row bi onto uni so no sort-merge plans at all
    val perSrc = graft.core.InternalCaches.persist(
      uni.join(broadcast(bi), Seq("source"), "left")
      .withColumn("mean_uni", col("sum_uni").cast(DoubleType) / col("n_tok"))
      .withColumn("mean_bi",
        when(coalesce(col("n_big"), lit(0L)) === 0L, col("mean_uni"))
          .otherwise(col("sum_bi").cast(DoubleType) / col("n_big")))
      .withColumn("excess",
        greatest(lit(0.0), col("mean_bi") - col("mean_uni")))
      .withColumn("boost", round(exp(lit(eta) * col("excess")), 9)))
    val tot = perSrc.agg(sum(col("n_tok")).cast(LongType).as("n_tot"))
    val terms = graft.core.InternalCaches.persist(
      perSrc.crossJoin(broadcast(tot))
      .withColumn("w0",
        col("n_tok").cast(DoubleType) / col("n_tot").cast(DoubleType))
      .withColumn("term", round(col("w0") * col("boost"), 9)))
    val norm = terms.agg(sum(col("term").cast(dec)).as("norm"))
    terms.crossJoin(broadcast(norm))
      .select(col("source"), col("n_tok").as("n_tokens"),
        round(col("mean_uni"), 6).as("mean_lp_uni"),
        round(col("mean_bi"), 6).as("mean_lp_bi"),
        round(col("excess"), 6).as("excess"),
        round(col("w0"), 6).as("weight0"),
        round(col("term") / col("norm").cast(DoubleType), 6).as("weight"))
      .orderBy(col("source"))
  }

  /** Luhn-validated card-number detection — the checksum upgrade of q73's
    * regex-only PII pass: a 16-digit run is only a REAL card number if it
    * passes the Luhn mod-10 check (ISO/IEC 7812), which kills ~90% of the
    * false positives a bare digit-run regex flags (order ids, hashes,
    * timestamps). Per source: candidate runs, Luhn-valid runs, docs
    * carrying at least one valid card, and the validity rate.
    *
    * The checksum is a codegen'd higher-order aggregate over the 16
    * digits (double every second digit from the right, subtract 9 when
    * > 9, sum ≡ 0 mod 10) — pure per-row integer work riding the scan,
    * no join, no UDF; the rollup is one bounded per-source agg. */
  def luhnCards(docs: DataFrame): DataFrame = {
    val digit = (i: String) => s"CAST(substring(c, $i, 1) AS BIGINT)"
    val scored = docs
      .select(col("source"), col("doc_id"),
        explode(expr("regexp_extract_all(text, '[0-9]{16}', 0)")).as("c"))
      .withColumn("luhn_sum", expr(
        s"aggregate(sequence(1, 16), 0L, (acc, i) -> acc + " +
          s"CASE WHEN (16 - i) % 2 = 1 THEN " +
          s"CASE WHEN ${digit("i")} * 2 > 9 THEN ${digit("i")} * 2 - 9 " +
          s"ELSE ${digit("i")} * 2 END ELSE ${digit("i")} END)"))
      .withColumn("valid", when(col("luhn_sum") % 10 === 0L, 1L).otherwise(0L))
    scored.groupBy(col("source"))
      .agg(countDistinct(when(col("valid") === 1L, col("doc_id")))
        .cast(LongType).as("n_docs_hit"),
        count(lit(1)).cast(LongType).as("n_candidates"),
        sum(col("valid")).cast(LongType).as("n_valid"))
      .withColumn("valid_rate",
        round(col("n_valid").cast(DoubleType) /
          col("n_candidates").cast(DoubleType), 6))
      .orderBy(col("source"))
  }

  /** q144 — each doc gets a planted 15-digit base (from its doc_id) with
    * ALL TEN closing digits appended as separate candidate runs; exactly
    * one of the ten passes Luhn, so the expected validity rate is 0.1 by
    * construction and the checksum, not the regex, does the work. */
  def qLuhnPii(s: SparkSession, dir: String): DataFrame = {
    val base = concat(lit("4"),
      lpad((col("doc_id") % 100000000000000L).cast(StringType), 14, "0"))
    val planted = Tables.documents(s, dir).withColumn("text",
      (0 to 9).foldLeft(col("text")) { (acc, d) =>
        concat(acc, lit(" "), base, lit(d.toString))
      })
    luhnCards(planted)
  }

  /** q141 — the q120/q124 corpus split: models trained on the doc_id-even
    * half, the odd half scored per source, η = 1. */
  def qDoremiWeights(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(doremiWeights(_, _))

  /** Gopher REPETITION battery (Rae et al. 2021, Appendix A1.2) — the
    * within-document repetition half of the Gopher filter stack, next to
    * the word-level rules (q126) and line-shape rules (q128). Per doc:
    *
    *   dup_line_frac       (occurrences beyond the first) / n_lines
    *   dup_line_char_frac  chars of those extra occurrences / line chars
    *   top{2,3,4}_frac     chars of the most frequent n-gram × its count
    *                       / total token chars (ties → lexicographically
    *                       smallest n-gram, so the report is
    *                       deterministic)
    *   dup{5..10}_frac     chars of token positions covered by ANY n-gram
    *                       occurring ≥ 2× in the doc / total token chars —
    *                       UNION semantics, so overlapping duplicate
    *                       n-grams never double-count a character
    *
    * plus the conjunctive keep flag at the paper's thresholds (0.30 /
    * 0.20 / 0.20 / 0.18 / 0.16 / 0.15 / 0.14 / 0.13 / 0.12 / 0.11 /
    * 0.10). Lines stand in for the paper's paragraphs too — the corpus
    * has no separate paragraph structure.
    *
    * Tokens split on a whitespace CLASS (empties filtered), so line
    * structure (newlines) never perturbs token n-gram statistics. An
    * n-gram's char length is length(join) − (n−1): join separators out,
    * token chars only.
    *
    * Scale shape: pure per-row work — ONE native compiled kernel call
    * per document ([[graft.functions.GopherRepStats]], round 19) inside
    * WholeStageCodegen, zero joins, zero shuffles; cost is linear in
    * each document's own size (hash n-gram counts + a one-pass interval
    * merge over ascending duplicate starts, all intervals sharing
    * length n). All statistics are exact integers until ONE pinned
    * double division each — bit-identical on every engine and
    * partitioning. The keep flag compares the UNROUNDED divisions. */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    val nsDup = 5 to 10
    // Round 19 — the ENTIRE battery is ONE native kernel call riding the
    // scan ([[graft.functions.GopherRepStats]]): the former formulation
    // was nine interpreted array_sort/aggregate HOF folds per row — the
    // top steady non-profile cost of the whole sweep (2.29 s clean
    // window) — because higher-order functions evaluate as interpreted
    // lambda trees outside codegen. The kernel walks the line hash
    // counts, the per-n n-gram hash counts with the SQL sort's
    // strictly-greater/UTF8-binary tie-break, and the ascending
    // duplicate-starts interval merge as compiled primitive loops, with
    // identical integer outputs (spec- and oracle-hash-asserted at every
    // SF). Zero joins, zero shuffles, one projection in WholeStageCodegen.
    val df = docs
      .withColumn("r", org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.GopherRepStats(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("text")))))
      .withColumn("n_lines", col("r.n_lines"))
      .withColumn("n_dup_lines", col("r.n_dup_lines"))
      .withColumn("dup_line_chars", col("r.dup_line_chars"))
      .withColumn("line_chars", col("r.line_chars"))
      .withColumn("tot_chars", col("r.tot_chars"))
      .withColumn("top2_chars", col("r.top2_chars"))
      .withColumn("top3_chars", col("r.top3_chars"))
      .withColumn("top4_chars", col("r.top4_chars"))
      .withColumn("dup5_chars", col("r.dup5_chars"))
      .withColumn("dup6_chars", col("r.dup6_chars"))
      .withColumn("dup7_chars", col("r.dup7_chars"))
      .withColumn("dup8_chars", col("r.dup8_chars"))
      .withColumn("dup9_chars", col("r.dup9_chars"))
      .withColumn("dup10_chars", col("r.dup10_chars"))
    def frac(num: Column, den: Column): Column =
      when(den > 0L, num.cast(DoubleType) / den).otherwise(lit(0.0))
    val joined = df
      .withColumn("dup_line_frac_raw",
        frac(col("n_dup_lines"), col("n_lines")))
      .withColumn("dup_line_char_frac_raw",
        frac(col("dup_line_chars"), col("line_chars")))
    val withFracs = ((2 to 4).map(n => s"top$n") ++ nsDup.map(n => s"dup$n"))
      .foldLeft(joined)((df, p) =>
        df.withColumn(s"${p}_frac_raw", frac(col(s"${p}_chars"), col("tot_chars"))))
    val bounds = Seq("dup_line_frac_raw" -> 0.30, "dup_line_char_frac_raw" -> 0.20,
      "top2_frac_raw" -> 0.20, "top3_frac_raw" -> 0.18, "top4_frac_raw" -> 0.16,
      "dup5_frac_raw" -> 0.15, "dup6_frac_raw" -> 0.14, "dup7_frac_raw" -> 0.13,
      "dup8_frac_raw" -> 0.12, "dup9_frac_raw" -> 0.11, "dup10_frac_raw" -> 0.10)
    withFracs
      .withColumn("keep",
        bounds.map { case (c, b) => col(c) <= b }.reduce(_ && _).cast(LongType))
      .select(Seq(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        col("dup_line_chars"), col("line_chars"), col("tot_chars"),
        round(col("dup_line_frac_raw"), 6).as("dup_line_frac"),
        round(col("dup_line_char_frac_raw"), 6).as("dup_line_char_frac")) ++
        ((2 to 4).map(n => s"top$n") ++ nsDup.map(n => s"dup$n")).map(p =>
          round(col(s"${p}_frac_raw"), 6).as(s"${p}_frac")) :+
        col("keep"): _*)
  }

  /** q135 — repetition battery over a DERIVED corpus with real repetition
    * spread: the gate tables have no within-doc duplicate 5-grams at all,
    * so the q123-precedent deterministic transform appends each doc's
    * first 37 tokens to itself (full duplication for short docs, partial
    * for long ones — spread across docs AND across n) and then derives
    * duplicate-able line structure by ' table ' → '\ntable\n' (every such
    * token becomes an identical single-token line). Both replaces are the
    * same leftmost-nonoverlapping contract in both engines. */
  def qGopherRepetition(s: SparkSession, dir: String): DataFrame =
    gopherRepetition(Tables.documents(s, dir)
      // the battery is pure per-row work, so parallelism = input splits;
      // the sandbox corpus arrives as ONE parquet split, so the gate
      // spreads rows across cores first (a narrow round-robin exchange a
      // pre-split production input would never need)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("text", concat(col("text"), lit(" "),
        array_join(expr("slice(filter(split(text, '\\\\s+'), x -> x <> ''), 1, 37)"),
          " ")))
      .withColumn("text",
        replace(col("text"), lit(" table "), lit("\ntable\n"))))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document under the [[trigramScore]] LM and split the corpus into
    * head / middle / tail quality buckets at calibration-sample quantile
    * cuts — head = highest mean log-prob = lowest perplexity, the slice
    * CCNet feeds to pretraining first.
    *
    * The cuts come from a BOUNDED calibration sample (`calibPred`), the
    * paper's own setup (CCNet computes its thresholds on one Wikipedia-
    * scored sample, then applies them to every crawl snapshot): the exact
    * `percentile` aggregate collects only the sample — fixed-size at any
    * corpus SF, so the single-reducer sort inside it is bounded by
    * construction — while the corpus-sized scores frame only sees the
    * broadcast 1-row cuts and a projection: zero extra corpus shuffles
    * beyond the scoring operator's own contract. Bucket compares the 6dp
    * score against 6dp-rounded cuts so both engines compare identical
    * doubles; p defaults to exactly-representable quartiles (0.25/0.75 —
    * binary-exact, so both engines' h = p·(n−1) interpolation index
    * arithmetic is identical). */
  def perplexityBuckets(train: DataFrame, eval: DataFrame, calibPred: Column,
                        pLow: Double = 0.25, pHigh: Double = 0.75): DataFrame = {
    require(pLow > 0.0 && pHigh < 1.0 && pLow < pHigh, s"bad cuts ($pLow, $pHigh)")
    val scores = graft.core.InternalCaches.persist(trigramScore(train, eval))
    val cuts = scores.filter(calibPred)
      .agg(round(expr(s"percentile(avg_lp, ${pLow}d)"), 6).as("c_low"),
        round(expr(s"percentile(avg_lp, ${pHigh}d)"), 6).as("c_high"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_lp") >= col("c_high"), lit("head"))
          .when(col("avg_lp") >= col("c_low"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("n_trigrams"), col("avg_lp"), col("bucket"))
  }

  /** q132 — the q122 even/odd train-eval split with a fixed
    * doc_id < 200 calibration sample (≤ 100 eval docs at ANY scale
    * factor — the sample does not grow with the corpus). */
  def qPerplexityBuckets(s: SparkSession, dir: String): DataFrame =
    heldOut(s, dir)(perplexityBuckets(_, _, col("doc_id") < 200))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q165_lexical_diversity" -> (qLexicalDiversity _),
    "q167_split_leakage" -> (qSplitLeakage _),
    "q113_bm25"         -> (qBm25 _),
    "q169_dirichlet_ql" -> (qDirichletQL _),
    "q172_feature_hash" -> (qFeatureHash _),
    "q173_rouge_l" -> (qRougeL _),
    "q177_mrr" -> (qMrr _),
    "q179_jelinek_mercer" -> (qJelinekMercer _),
    "q180_cms_error" -> (qCmsError _),
    "q181_bloom_fpr" -> (qBloomFpr _),
    "q182_temperature_sweep" -> (qTemperatureSweep _),
    "q183_filter_funnel" -> (qFilterFunnel _),
    "q184_packing_sweep" -> (qPackingSweep _),
    "q114_temperature_mix" -> (qTemperatureMix _),
    "q115_pmi_cooc"     -> (qPmiCooc _),
    "q118_bpe_train"    -> (qBpeTrain _),
    "q119_bpe_apply"    -> (qBpeApply _),
    "q120_bigram_score" -> (qBigramScore _),
    "q121_containment"  -> (qContainment _),
    "q122_trigram_score" -> (qTrigramScore _),
    "q123_bpe_unicode"  -> (qBpeUnicode _),
    "q124_bpe_inference" -> (qBpeInference _),
    "q125_rrf_fusion"   -> (qRrfFusion _),
    "q126_gopher_rules" -> (qGopherRules _),
    "q127_fivegram_score" -> (qFivegramScore _),
    "q128_line_rules"   -> (qLineRules _),
    "q129_c4_rules"     -> (qC4Rules _),
    "q130_dsir_weights" -> (qDsirWeights _),
    "q131_contamination_spans" -> (qContaminationSpans _),
    "q132_perplexity_buckets"  -> (qPerplexityBuckets _),
    "q133_duplicated_spans"    -> (qDuplicatedSpans _),
    "q134_wordpiece"           -> (qWordpiece _),
    "q135_gopher_repetition"   -> (qGopherRepetition _),
    "q136_tokenizer_fertility" -> (qTokenizerFertility _),
    "q137_source_kl"           -> (qSourceKl _),
    "q138_corpus_bleu"         -> (qCorpusBleu _),
    "q139_zipf_slope"          -> (qZipfSlope _),
    "q140_unigram_viterbi"     -> (qUnigramViterbi _),
    "q185_unigram_train"       -> (qUnigramTrain _),
    "q186_unigram_apply"       -> (qUnigramApply _),
    "q187_wordpiece_train"     -> (qWordpieceTrain _),
    "q188_wordpiece_inference" -> (qWordpieceInference _),
    "q148_heaps_law"           -> (qHeapsLaw _),
    "q149_minhash_error"       -> (qMinhashError _),
    "q150_paragraph_dedup"     -> (qParagraphDedup _),
    "q154_char_entropy"        -> (qCharEntropy _),
    "q156_kneser_ney"          -> (qKneserNey _),
    "q161_ndcg"                -> (qNdcg _),
    "q162_witten_bell"         -> (qWittenBell _),
    "q157_rm3_expansion"       -> (qRm3 _),
    "q158_good_turing"         -> (qGoodTuring _),
    "q159_oov_rate"            -> (qOovRate _),
    "q160_neg_sampling"        -> (qNegSampling _),
    "q141_doremi_weights"      -> (qDoremiWeights _),
    "q142_edit_verified"       -> (qEditVerified _),
    "q144_luhn_pii"            -> (qLuhnPii _),
    "q145_phrase_search"       -> (qPhraseSearch _),
    "q112_token_budget" -> (qTokenBudget _),
    "q110_snapshot_diff" -> (qSnapshotDiff _),
    "q108_length_buckets" -> (qLengthBuckets _),
    "q109_bpe_pairs"    -> (qBpePairs _),
    "q38_wordcount"     -> (qWordCount _),
    "q39_word_stats"    -> (qWordStats _),
    "q57_tfidf"         -> (qTfIdf _),
    "q58_dedup_components" -> (qDedupComponents _),
    "q63_chunking"      -> (qChunking _),
    "q64_packing"       -> (qPacking _),
    "q65_hash_sample"   -> (qHashSample _),
    "q95_weighted_sample" -> (qWeightedSample _),
    "q99_vocab"         -> (qVocab _),
    "q100_bigram_model" -> (qBigramModel _),
    "q102_phrases"      -> (qPhrases _),
    "q30_token_stats"   -> (qTokenStats _),
    "q31_quality"       -> (qQuality _),
    "q32_langid"        -> (qLangId _),
    "q33_exact_dedup"   -> (qExactDedup _),
    "q34_ngram_jaccard" -> (qNgramJaccard _),
    "q35_minhash_lsh"   -> (qMinHashLsh _),
    "q36_simhash_pairs" -> (qSimHashPairs _),
    "q37_fingerprint"   -> (qFingerprint _),
    "q71_decontaminate" -> (qDecontaminate _),
    "q72_shards"        -> (qShards _),
    "q73_pii_redact"    -> (qPiiRedact _),
    "q74_stratified_sample" -> (qStratifiedSample _),
    "q76_repetition"    -> (qRepetition _),
    "q77_mix_weights"   -> (qMixWeights _),
    "q80_line_dedup"    -> (qLineDedup _),
    "q81_source_quota"  -> (qSourceQuota _),
    "q82_canonical_pick" -> (qCanonicalPick _),
    "q83_dup_ngrams"    -> (qDupNgrams _),
    "q84_inverted_index" -> (qInvertedIndex _),
    "q88_unigram_logprob" -> (qUnigramLogProb _),
    "q104_source_overlap" -> (qSourceOverlap _),
    "q107_novelty"      -> (qNovelty _),
  )

  private val StopListSql = Stopwords.map(w => s"'$w'").mkString(", ")

  /** The q122 stupid-backoff trigram oracle, a val so the q132 perplexity-
    * bucket oracle can wrap the IDENTICAL scoring chain in a CTE — the two
    * gates cannot diverge on the LM. Model CTEs mirror the Spark rollups;
    * every CASE branch pins the same one-multiply-one-divide double chain
    * (explicit DOUBLE casts: DuckDB decimal literals would otherwise run
    * the α products in exact decimal). */
  private val TrigramScoreOracleSql: String =
    """WITH tr AS MATERIALIZED (
           SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0),
         n123 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n123 FROM (
             SELECT unnest(list_transform(range(3, len(t) + 1), i ->
               struct_pack(w1 := t[i - 2], w2 := t[i - 1], w3 := t[i])), recursive := true)
             FROM tr WHERE len(t) >= 3)
           GROUP BY w1, w2, w3),
         n2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2 FROM (
             SELECT unnest(list_transform(range(2, len(t) + 1), i ->
               struct_pack(w1 := t[i - 1], w2 := t[i])), recursive := true)
             FROM tr WHERE len(t) >= 2)
           GROUP BY w1, w2),
         n1 AS (SELECT w, CAST(count(*) AS BIGINT) AS n1
                FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                        CAST(count(DISTINCT w) AS BIGINT) AS v
                 FROM (SELECT unnest(t) AS w FROM tr)),
         ev AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE doc_id % 2 = 1),
         eg AS (SELECT doc_id, w1, w2, w3 FROM (
             SELECT doc_id, unnest(list_transform(range(3, len(t) + 1), i ->
               struct_pack(w1 := t[i - 2], w2 := t[i - 1], w3 := t[i])), recursive := true)
             FROM ev WHERE len(t) >= 3)),
         lp AS (SELECT doc_id,
             round(ln(CASE
               WHEN a.n123 IS NOT NULL THEN CAST(a.n123 AS DOUBLE) / b12.n2
               WHEN b23.n2 IS NOT NULL THEN (CAST(0.4 AS DOUBLE) * b23.n2) / u2.n1
               ELSE ((CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)) *
                     CAST(COALESCE(u3.n1, 0) + 1 AS DOUBLE)) / CAST(t.nn + t.v AS DOUBLE)
             END), 9) AS lp
           FROM eg
           LEFT JOIN n123 a USING (w1, w2, w3)
           LEFT JOIN n2 b12 ON eg.w1 = b12.w1 AND eg.w2 = b12.w2
           LEFT JOIN n2 b23 ON eg.w2 = b23.w1 AND eg.w3 = b23.w2
           LEFT JOIN n1 u2 ON eg.w2 = u2.w
           LEFT JOIN n1 u3 ON eg.w3 = u3.w
           CROSS JOIN tot t)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           round(CAST(sum(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS avg_lp
         FROM lp GROUP BY doc_id"""

  /** The oracles' exact-Jaccard CTE chain (q34, q35, q142, q58, q82):
    * `sh` holds each document's distinct string 3-gram shingles, `card`
    * their count per document and `common` every pair's shared count. */
  private val JaccardOracleChain: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
                FROM tok WHERE len(t) >= 3),
         card AS (SELECT doc_id AS cid, count(*) AS n FROM sh GROUP BY doc_id),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)"""

  /** The BM25 oracles' corpus CTE chain (q113, q125, q157, q161, q177):
    * `tok` the token arrays, `st` the 1-row (n_docs, sum_dl) stats and
    * `ex` one (doc_id, dl, w) row per token occurrence. */
  private val Bm25OracleChain: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(len(t)) AS BIGINT) AS sum_dl FROM tok),
         ex AS (SELECT doc_id, len(t) AS dl, unnest(t) AS w FROM tok)"""

  /** The exact J >= 0.5 pairs: q34's oracle, and q35's (its LSH output
    * equals them on separated corpora, verified at the harness SF). */
  private val JaccardPairsOracle: String =
    s"""WITH $JaccardOracleChain
         SELECT d1, d2, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
         FROM common JOIN card ca ON d1 = ca.cid JOIN card cb ON d2 = cb.cid
         WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5"""

  /** Shared CTE chain for the q58/q82 oracles: the EXACT J >= 0.5 pair
    * graph (LSH's false-negative caveat is q58's documented contract) and
    * its transitive closure — `reach(n, m)` holds every ordered reachable
    * pair. Components follow as least(n, min(m)) per node. */
  private val ComponentsOracleCtes: String =
    s"""WITH RECURSIVE $JaccardOracleChain,
         edges AS (SELECT d1, d2 FROM common
                   JOIN card ca ON d1 = ca.cid JOIN card cb ON d2 = cb.cid
                   WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5),
         und AS (SELECT d1 AS a, d2 AS b FROM edges UNION ALL SELECT d2, d1 FROM edges),
         reach(n, m) AS (
           SELECT a, b FROM und
           UNION
           SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a WHERE r.n <> u.b)"""

  /** The q118 oracle unrolls BPE training as materialized per-iteration
    * CTE stages (the q25 Gonzalez-unroll recipe): stage k counts adjacent
    * symbol pairs of w{k-1}, takes the (cnt desc, a, b) argmax, and
    * applies the ONE anchored string replace — identical leftmost-
    * nonoverlapping semantics to the Spark side's `replace`. */
  private def bpeCtes(nMerges: Int, src: String = "documents"): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH w0 AS MATERIALIZED (
           SELECT freq, ' ' || array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i:i]), '  ') || ' ' AS s
           FROM (SELECT w, CAST(count(*) AS BIGINT) AS freq
                 FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $src)
                 GROUP BY w))"""
    for (k <- 1 to nMerges) {
      sb ++= s""",
         p$k AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             SELECT freq, unnest(list_transform(range(1, len(sy)), i ->
               struct_pack(a := sy[i], b := sy[i + 1])), recursive := true)
             FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM w${k - 1})
             WHERE len(sy) >= 2)
           GROUP BY a, b),
         m$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k
           ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         w$k AS MATERIALIZED (SELECT freq,
           replace(s, ' ' || (SELECT a FROM m$k) || '  ' || (SELECT b FROM m$k) || ' ',
                      ' ' || (SELECT a FROM m$k) || (SELECT b FROM m$k) || ' ') AS s
           FROM w${k - 1})"""
    }
    sb.toString
  }

  private def bpeTrainOracle(nMerges: Int, src: String = "documents"): String =
    bpeCtes(nMerges, src) + (1 to nMerges).map { k =>
      s"""
         SELECT CAST($k AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
                a || b AS merged, cnt FROM m$k"""
    }.mkString("", " UNION ALL", "")

  /** The q187 oracle — the q118 unroll recipe with the per-iteration
    * argmax scored by the exact scaled-integer WordPiece likelihood
    * score18 = cnt(ab)·10¹⁸ // (cnt(a)·cnt(b)), all HUGEINT (the Spark
    * side's DECIMAL(38,0) twin): stage k counts the current
    * segmentation's symbols (u_k) and adjacent pairs (p_k), joins them,
    * takes the (score18 desc, a, b) argmax, and applies the one anchored
    * replace. */
  private def wordpieceTrainOracle(nMerges: Int): String =
    wordpieceCtes(nMerges, "documents") + (1 to nMerges).map { k =>
      s"""
         SELECT CAST($k AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
                a || b AS merged, cnt, score18 FROM m$k"""
    }.mkString("", " UNION ALL", "")

  private def wordpieceCtes(nMerges: Int, src: String): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH w0 AS MATERIALIZED (
           SELECT freq, ' ' || array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i:i]), '  ') || ' ' AS s
           FROM (SELECT w, CAST(count(*) AS BIGINT) AS freq
                 FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $src)
                 GROUP BY w))"""
    for (k <- 1 to nMerges) {
      sb ++= s""",
         u$k AS (SELECT sym, CAST(sum(freq) AS BIGINT) AS c FROM (
             SELECT freq, unnest(string_split(trim(s), '  ')) AS sym FROM w${k - 1})
           GROUP BY sym),
         p$k AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             SELECT freq, unnest(list_transform(range(1, len(sy)), i ->
               struct_pack(a := sy[i], b := sy[i + 1])), recursive := true)
             FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM w${k - 1})
             WHERE len(sy) >= 2)
           GROUP BY a, b),
         m$k AS MATERIALIZED (SELECT p.a AS a, p.b AS b, p.cnt AS cnt,
             CAST((CAST(p.cnt AS HUGEINT) * 1000000000000000000) //
                  (CAST(ua.c AS HUGEINT) * CAST(ub.c AS HUGEINT)) AS BIGINT) AS score18
           FROM p$k p
           JOIN u$k ua ON ua.sym = p.a
           JOIN u$k ub ON ub.sym = p.b
           ORDER BY score18 DESC, a ASC, b ASC LIMIT 1),
         w$k AS MATERIALIZED (SELECT freq,
           replace(s, ' ' || (SELECT a FROM m$k) || '  ' || (SELECT b FROM m$k) || ' ',
                      ' ' || (SELECT a FROM m$k) || (SELECT b FROM m$k) || ' ') AS s
           FROM w${k - 1})"""
    }
    sb.toString
  }

  /** The q188 oracle — the q124 frozen-chain recipe over the WordPiece
    * trainer's CTEs: train-half merge stages (the [[wordpieceCtes]]
    * unroll over the doc_id-even half), then the eval-half word table
    * pushed through the SAME anchored replace chain via scalar
    * subqueries, finished by the corpus-weighted symbol histogram. */
  private def wordpieceInferenceOracle(nMerges: Int, topK: Int): String = {
    val sb = new StringBuilder
    sb ++= wordpieceCtes(nMerges,
      "(SELECT text FROM documents WHERE doc_id % 2 = 0)")
    sb ++= s""",
         e0 AS MATERIALIZED (
           SELECT freq, ' ' || array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i:i]), '  ') || ' ' AS s
           FROM (SELECT w, CAST(count(*) AS BIGINT) AS freq
                 FROM (SELECT unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE doc_id % 2 = 1)
                 GROUP BY w))"""
    for (k <- 1 to nMerges)
      sb ++= s""",
         e$k AS (SELECT freq,
           replace(s, ' ' || (SELECT a FROM m$k) || '  ' || (SELECT b FROM m$k) || ' ',
                      ' ' || (SELECT a FROM m$k) || (SELECT b FROM m$k) || ' ') AS s
           FROM e${k - 1})"""
    sb ++= s"""
         SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           SELECT freq, unnest(string_split(trim(s), '  ')) AS sym FROM e$nMerges)
         WHERE sym <> '' GROUP BY sym
         ORDER BY cnt DESC, sym ASC LIMIT $topK"""
    sb.toString
  }

  /** The q124 oracle: train-half merge CTEs (the q118 unroll over the
    * doc_id-even half), then the eval-half word table pushed through the
    * SAME anchored replace chain via scalar subqueries — the frozen-table
    * inference the Spark side compiles into one nested-replace
    * projection. */
  private def bpeInferenceOracle(nMerges: Int, topK: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeCtes(nMerges, "(SELECT text FROM documents WHERE doc_id % 2 = 0)")
    sb ++= s""",
         e0 AS MATERIALIZED (
           SELECT freq, ' ' || array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i:i]), '  ') || ' ' AS s
           FROM (SELECT w, CAST(count(*) AS BIGINT) AS freq
                 FROM (SELECT unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE doc_id % 2 = 1)
                 GROUP BY w))"""
    for (k <- 1 to nMerges)
      sb ++= s""",
         e$k AS (SELECT freq,
           replace(s, ' ' || (SELECT a FROM m$k) || '  ' || (SELECT b FROM m$k) || ' ',
                      ' ' || (SELECT a FROM m$k) || (SELECT b FROM m$k) || ' ') AS s
           FROM e${k - 1})"""
    sb ++= s"""
         SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           SELECT freq, unnest(string_split(trim(s), '  ')) AS sym FROM e$nMerges)
         WHERE sym <> '' GROUP BY sym
         ORDER BY cnt DESC, sym ASC LIMIT $topK"""
    sb.toString
  }

  /** The q136 oracle: the q124 frozen-chain recipe with the eval word
    * table keyed by (source, w); the final rollup mirrors the operator's
    * integer sums and pinned double divisions. */
  /** q140 oracle — the Viterbi DP unrolled as materialized per-position
    * CTE stages (the Gonzalez-unroll recipe): stage b_j holds the unique
    * best state for every word prefix of length j, chosen by the same
    * (score DESC, np ASC, l DESC) total order the Spark struct-max uses;
    * scores are the identical scaled-integer lp9 longs, so ties are exact
    * on both engines. */
  private def unigramViterbiOracle(maxPieceLen: Int, maxWordLen: Int,
                                   thrDiv: Long, topK: Int): String = {
    val subs = (1 to maxPieceLen).map { l =>
      s"""sub$l AS MATERIALIZED (SELECT substring(w, i, $l) AS p,
             CAST(sum(cnt) AS BIGINT) AS freq
           FROM (SELECT w, cnt, unnest(range(1, len(w) - $l + 2)) AS i
                 FROM words WHERE len(w) >= $l)
           GROUP BY p)"""
    }.mkString(",\n         ")
    val keptUnion = ((2 to maxPieceLen).map(l =>
      s"SELECT p, freq FROM sub$l WHERE freq >= (SELECT thr FROM thr)") :+
      "SELECT p, freq FROM sub1").mkString(" UNION ALL ")
    val stages = (1 to maxWordLen).map { j =>
      val cands = (1 to math.min(maxPieceLen, j)).map { l =>
        s"""SELECT b.w, b.cnt, b.score + v.lp9 AS score, b.np + 1 AS np,
               CASE WHEN b.seq = '' THEN v.p
                    ELSE b.seq || ' ' || v.p END AS seq,
               CAST($l AS BIGINT) AS l
             FROM b${j - l} b JOIN vlp v
               ON v.l = $l AND v.p = substring(b.w, ${j - l + 1}, $l)
             WHERE len(b.w) >= $j"""
      }.mkString(" UNION ALL ")
      s"""b$j AS MATERIALIZED (SELECT w, cnt, score, np, seq FROM ($cands)
           QUALIFY row_number() OVER (PARTITION BY w
             ORDER BY score DESC, np ASC, l DESC) = 1)"""
    }.mkString(",\n         ")
    val fin = (1 to maxWordLen)
      .map(j => s"SELECT w, cnt, score, np, seq FROM b$j WHERE len(w) = $j")
      .mkString(" UNION ALL ")
    s"""WITH words AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         thr AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) // $thrDiv AS thr FROM words),
         $subs,
         vocab AS MATERIALIZED ($keptUnion),
         tm AS MATERIALIZED (SELECT CAST(sum(freq) AS BIGINT) AS tm FROM vocab),
         vlp AS MATERIALIZED (SELECT p, CAST(len(p) AS BIGINT) AS l,
             CAST(round(round(ln(CAST(freq AS DOUBLE) /
               CAST((SELECT tm FROM tm) AS DOUBLE)), 9) * 1e9) AS BIGINT) AS lp9
           FROM vocab),
         b0 AS MATERIALIZED (SELECT w, cnt, CAST(0 AS BIGINT) AS score,
             CAST(0 AS BIGINT) AS np, '' AS seq
           FROM words WHERE len(w) <= $maxWordLen),
         $stages,
         seg AS ($fin UNION ALL
           SELECT w, cnt, NULL AS score, CAST(1 AS BIGINT) AS np,
             '[UNK]' AS seq
           FROM words WHERE len(w) > $maxWordLen)
       SELECT w, cnt, np AS n_pieces, seq, score AS score_lp9
       FROM seg ORDER BY cnt DESC, w ASC LIMIT $topK"""
  }

  /** q185 oracle — the hard-EM training loop unrolled as per-iteration
    * materialized CTE blocks (the q118/q25 unroll recipe): each iteration
    * re-derives the scaled-integer lp9 model from the previous masses,
    * runs the SAME per-position DP unroll as [[unigramViterbiOracle]]
    * (names suffixed by iteration), explodes the winning segmentations
    * into piece expected counts, then rebuilds the mass table (+1
    * alphabet smoothing, top-V multi-char cut by (mass DESC, p ASC)).
    * All masses and DP scores are exact integers, so the trained table
    * hash-matches bit-for-bit. */
  /** One unrolled Viterbi DP block (stages b{tag}_0..b{tag}_maxWordLen
    * over `wordsCte` joined to `vlpCte`) — shared by the q185 e-step
    * unroll and the q186 frozen-model inference unroll. */
  private def unigramDpCtes(tag: String, wordsCte: String, vlpCte: String,
                            maxPieceLen: Int, maxWordLen: Int): String = {
    val sb = new StringBuilder
    sb ++= s""",
         b${tag}_0 AS MATERIALIZED (SELECT w, cnt, CAST(0 AS BIGINT) AS score,
             CAST(0 AS BIGINT) AS np, '' AS seq
           FROM $wordsCte WHERE len(w) <= $maxWordLen)"""
    for (j <- 1 to maxWordLen) {
      val cands = (1 to math.min(maxPieceLen, j)).map { l =>
        s"""SELECT b.w, b.cnt, b.score + v.lp9 AS score, b.np + 1 AS np,
               CASE WHEN b.seq = '' THEN v.p
                    ELSE b.seq || ' ' || v.p END AS seq,
               CAST($l AS BIGINT) AS l
             FROM b${tag}_${j - l} b JOIN $vlpCte v
               ON v.l = $l AND v.p = substring(b.w, ${j - l + 1}, $l)
             WHERE len(b.w) >= $j"""
      }.mkString(" UNION ALL ")
      sb ++= s""",
         b${tag}_$j AS MATERIALIZED (SELECT w, cnt, score, np, seq FROM ($cands)
           QUALIFY row_number() OVER (PARTITION BY w
             ORDER BY score DESC, np ASC, l DESC) = 1)"""
    }
    sb.toString
  }

  /** The q185 EM-training CTE chain (words/seed/v0 → v{nIters}) over
    * `docsSql`, shared by the training oracle and the q186 apply oracle
    * (which trains on the even half, then segments the odd half). */
  private def unigramTrainCtes(maxPieceLen: Int, maxWordLen: Int,
                               thrDiv: Long, nIters: Int, vocabV: Int,
                               docsSql: String): String = {
    val subs = (1 to maxPieceLen).map { l =>
      s"""sub$l AS MATERIALIZED (SELECT substring(w, i, $l) AS p,
             CAST(sum(cnt) AS BIGINT) AS freq
           FROM (SELECT w, cnt, unnest(range(1, len(w) - $l + 2)) AS i
                 FROM words WHERE len(w) >= $l)
           GROUP BY p)"""
    }.mkString(",\n         ")
    val keptUnion = ((2 to maxPieceLen).map(l =>
      s"SELECT p, freq AS mass FROM sub$l WHERE freq >= (SELECT thr FROM thr)") :+
      "SELECT p, freq AS mass FROM sub1").mkString(" UNION ALL ")
    val sb = new StringBuilder
    sb ++= s"""WITH words AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $docsSql)
           WHERE len(w) BETWEEN 1 AND $maxWordLen
           GROUP BY w),
         thr AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) // $thrDiv AS thr FROM words),
         $subs,
         v0 AS MATERIALIZED ($keptUnion)"""
    for (k <- 1 to nIters) {
      sb ++= s""",
         tm$k AS (SELECT CAST(sum(mass) AS BIGINT) AS tm FROM v${k - 1}),
         vlp$k AS MATERIALIZED (SELECT p, CAST(len(p) AS BIGINT) AS l,
             CAST(round(round(ln(CAST(mass AS DOUBLE) /
               CAST((SELECT tm FROM tm$k) AS DOUBLE)), 9) * 1e9) AS BIGINT) AS lp9
           FROM v${k - 1})"""
      sb ++= unigramDpCtes(k.toString, "words", s"vlp$k", maxPieceLen, maxWordLen)
      val segUnion = (1 to maxWordLen)
        .map(j => s"SELECT cnt, seq FROM b${k}_$j WHERE len(w) = $j")
        .mkString(" UNION ALL ")
      sb ++= s""",
         ec$k AS MATERIALIZED (SELECT p, CAST(sum(cnt) AS BIGINT) AS ec
           FROM (SELECT cnt, unnest(string_split(seq, ' ')) AS p
                 FROM ($segUnion))
           GROUP BY p),
         v$k AS MATERIALIZED (
           SELECT a.p, CAST(coalesce(e.ec, 0) + 1 AS BIGINT) AS mass
           FROM (SELECT p FROM v${k - 1} WHERE len(p) = 1) a
             LEFT JOIN ec$k e USING (p)
           UNION ALL
           SELECT p, ec AS mass FROM (
             SELECT p, ec FROM ec$k WHERE len(p) >= 2
             QUALIFY row_number() OVER (ORDER BY ec DESC, p ASC) <= $vocabV))"""
    }
    sb.toString
  }

  private def unigramTrainOracle(maxPieceLen: Int, maxWordLen: Int,
                                 thrDiv: Long, nIters: Int,
                                 vocabV: Int): String =
    unigramTrainCtes(maxPieceLen, maxWordLen, thrDiv, nIters, vocabV,
      "documents") + s""",
         tmf AS (SELECT CAST(sum(mass) AS BIGINT) AS tm FROM v$nIters)
       SELECT p AS piece, CAST(len(p) AS BIGINT) AS l, mass,
         CAST(round(round(ln(CAST(mass AS DOUBLE) /
           CAST((SELECT tm FROM tmf) AS DOUBLE)), 9) * 1e9) AS BIGINT) AS lp9
       FROM v$nIters"""

  /** q186 oracle — the full q185 training chain over the even half,
    * the final trained lp9 model, then ONE more DP unroll over the odd
    * half's word table; words with no completed path (over-length or
    * training-alphabet OOV) fall to [UNK] via the same anti-membership
    * the engine's anti join implements. */
  private def unigramApplyOracle(maxPieceLen: Int, maxWordLen: Int,
                                 thrDiv: Long, nIters: Int, vocabV: Int,
                                 topK: Int): String = {
    val sb = new StringBuilder
    sb ++= unigramTrainCtes(maxPieceLen, maxWordLen, thrDiv, nIters, vocabV,
      "(SELECT text FROM documents WHERE doc_id % 2 = 0)")
    sb ++= s""",
         tmf AS (SELECT CAST(sum(mass) AS BIGINT) AS tm FROM v$nIters),
         vlpf AS MATERIALIZED (SELECT p, CAST(len(p) AS BIGINT) AS l,
             CAST(round(round(ln(CAST(mass AS DOUBLE) /
               CAST((SELECT tm FROM tmf) AS DOUBLE)), 9) * 1e9) AS BIGINT) AS lp9
           FROM v$nIters),
         ew AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
                 WHERE doc_id % 2 = 1)
           WHERE len(w) >= 1
           GROUP BY w)"""
    sb ++= unigramDpCtes("f", "ew", "vlpf", maxPieceLen, maxWordLen)
    val segUnion = (1 to maxWordLen)
      .map(j => s"SELECT w, cnt, score, np, seq FROM bf_$j WHERE len(w) = $j")
      .mkString(" UNION ALL ")
    sb ++= s""",
         seg AS MATERIALIZED ($segUnion)
       SELECT w, cnt, np AS n_pieces, seq, score AS score_lp9 FROM (
         SELECT w, cnt, score, np, seq FROM seg
         UNION ALL
         SELECT w, cnt, NULL AS score, CAST(1 AS BIGINT) AS np, '[UNK]' AS seq
         FROM ew WHERE w NOT IN (SELECT w FROM seg))
       ORDER BY cnt DESC, w ASC LIMIT $topK"""
    sb.toString
  }

  private def fertilityOracle(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeCtes(nMerges, "(SELECT text FROM documents WHERE doc_id % 2 = 0)")
    sb ++= s""",
         e0 AS MATERIALIZED (
           SELECT source, w, freq, ' ' || array_to_string(
             list_transform(range(1, len(w) + 1), i -> w[i:i]), '  ') || ' ' AS s
           FROM (SELECT source, w, CAST(count(*) AS BIGINT) AS freq
                 FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE doc_id % 2 = 1)
                 GROUP BY source, w))"""
    for (k <- 1 to nMerges)
      sb ++= s""",
         e$k AS (SELECT source, w, freq,
           replace(s, ' ' || (SELECT a FROM m$k) || '  ' || (SELECT b FROM m$k) || ' ',
                      ' ' || (SELECT a FROM m$k) || (SELECT b FROM m$k) || ' ') AS s
           FROM e${k - 1})"""
    sb ++= s""",
         seg AS (SELECT source, w, freq,
           CAST(len(list_filter(string_split(trim(s), '  '), x -> x <> '')) AS BIGINT) AS k
           FROM e$nMerges),
         agg AS (SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS n_occ,
           CAST(sum(freq * k) AS BIGINT) AS pieces_occ,
           CAST(sum(freq * len(w)) AS BIGINT) AS chars_occ,
           CAST(coalesce(sum(CASE WHEN k >= 2 THEN freq END), 0) AS BIGINT) AS split_occ
           FROM seg GROUP BY source)
         SELECT source, n_words, n_occ, pieces_occ, chars_occ, split_occ,
           round(CAST(pieces_occ AS DOUBLE) / n_occ, 6) AS fertility,
           round(CAST(chars_occ AS DOUBLE) / pieces_occ, 6) AS chars_per_piece,
           round(CAST(split_occ AS DOUBLE) / n_occ, 6) AS split_rate
         FROM agg ORDER BY source"""
    sb.toString
  }

  /** The q119 oracle re-derives the merge chain (same CTEs) and counts
    * symbols straight off the final anchored strings. */
  private def bpeApplyOracle(nMerges: Int, topK: Int): String =
    bpeCtes(nMerges) + s"""
         SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           SELECT freq, unnest(string_split(trim(s), '  ')) AS sym FROM w$nMerges)
         WHERE sym <> '' GROUP BY sym
         ORDER BY cnt DESC, sym ASC LIMIT $topK"""

  val oracles: Map[String, String] = Map(
    // q165: one (source, token) count frame, one rollup; Σc² in HUGEINT
    // (Spark: DECIMAL(38,0)) so both engines cast the same exact integer
    // to DOUBLE, then the identical three pinned divisions
    "q165_lexical_diversity" ->
      """WITH c AS (
           SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY source, w),
         agg AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             sum(CAST(c AS HUGEINT) * c) AS s2
           FROM c GROUP BY source)
         SELECT source, n_tokens, n_types, n_hapax,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) AS hapax_frac,
           round(10000.0 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) AS yule_k
         FROM agg""",
    // q167: the derived corpus plants doc_id%16=1 train docs as re-keyed
    // eval duplicates; STRING 8-gram shingles stand in for the engine's
    // 64-bit hashes (the q71 empirical-discharge convention)
    "q167_split_leakage" ->
      """WITH d0 AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT 4 * (doc_id + 1000000000) AS doc_id, source, text
           FROM documents WHERE doc_id % 16 = 1),
         d AS MATERIALIZED (
           SELECT doc_id, source, text, string_split(text, ' ') AS t,
             doc_id % 4 = 0 AS ev
           FROM d0),
         th AS (SELECT DISTINCT md5(text) AS hh FROM d WHERE NOT ev),
         ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
           FROM d WHERE ev AND md5(text) IN (SELECT hh FROM th)
           GROUP BY source),
         sh AS (SELECT doc_id, source, ev, unnest(list_transform(
             range(1, greatest(len(t) - 7, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
           FROM d WHERE len(t) >= 8),
         ts AS (SELECT DISTINCT g FROM sh WHERE NOT ev),
         nr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_near FROM (
             SELECT DISTINCT doc_id, source FROM sh
             WHERE ev AND g IN (SELECT g FROM ts))
           GROUP BY source),
         ev_n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_eval
           FROM d WHERE ev GROUP BY source)
         SELECT e.source, e.n_eval,
           CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near,
           round(CAST(coalesce(ex.n_exact, 0) AS DOUBLE)
             / CAST(e.n_eval AS DOUBLE), 6) AS exact_rate,
           round(CAST(coalesce(nr.n_near, 0) AS DOUBLE)
             / CAST(e.n_eval AS DOUBLE), 6) AS near_rate
         FROM ev_n e LEFT JOIN ex ON ex.source = e.source
           LEFT JOIN nr ON nr.source = e.source""",
    "q118_bpe_train" -> bpeTrainOracle(8),
    "q119_bpe_apply" -> bpeApplyOracle(8, 20),
    // q123: the SAME unrolled training oracle over the transliterated
    // (non-ASCII) corpus — nested replace() is engine-identical
    "q123_bpe_unicode" -> bpeTrainOracle(8,
      "(SELECT replace(replace(replace(text, 'a', 'ä'), 'e', 'é'), 'o', 'ø') AS text FROM documents)"),
    "q124_bpe_inference" -> bpeInferenceOracle(8, 20),
    "q136_tokenizer_fertility" -> fertilityOracle(8),
    // q137: the same algebraic absent-mass fold — ln rounds to 9,
    // per-term contribs round to 9 and sum as decimals, the K-row finish
    // is the identical double chain; kl sums the UNROUNDED kl_absent
    "q140_unigram_viterbi" -> unigramViterbiOracle(4, 16, 30L, 100),
    "q185_unigram_train" -> unigramTrainOracle(4, 16, 30L, 3, 40),
    "q186_unigram_apply" -> unigramApplyOracle(4, 16, 30L, 3, 40, 100),
    // q187: the q118 unroll with the argmax on the exact scaled-integer
    // likelihood score (HUGEINT // twin of the Spark DECIMAL div) — no
    // float enters the merge choice on either engine
    "q187_wordpiece_train" -> wordpieceTrainOracle(8),
    // q188: q187's train-half unroll + the q124 frozen replace chain
    "q188_wordpiece_inference" -> wordpieceInferenceOracle(8, 20),
    // q141: add-1 unigram/bigram means from decimal sums of round-9 lns;
    // excess/boost from UNROUNDED means; K-term normalizer decimal-summed
    // q145: GROUND-TRUTH positional scan — the Spark side must reproduce
    // it from the serve-path posting rows; phrase ties lexicographic
    "q145_phrase_search" ->
      """WITH tok AS MATERIALIZED (SELECT doc_id,
           string_split(text, ' ') AS t FROM documents),
         bg AS MATERIALIZED (SELECT doc_id, w1, w2 FROM (
           SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
           FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                 FROM tok WHERE len(t) >= 2))),
         ph AS (SELECT w1, w2 FROM (
             SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2)
           ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 3),
         occ AS (SELECT b.w1, b.w2, doc_id, CAST(count(*) AS BIGINT) AS o
           FROM bg b JOIN ph USING (w1, w2) GROUP BY b.w1, b.w2, doc_id)
         SELECT w1 || ' ' || w2 AS phrase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(o) AS BIGINT) AS n_occurrences
         FROM occ GROUP BY phrase ORDER BY phrase""",
    // q144: same planted 10-candidate battery; the Luhn sum is the same
    // integer HOF on both engines, // never appears (all-integer mod)
    "q144_luhn_pii" ->
      """WITH planted AS (SELECT source, doc_id,
           text || ' ' || b || '0 ' || b || '1 ' || b || '2 ' || b || '3 ' ||
             b || '4 ' || b || '5 ' || b || '6 ' || b || '7 ' || b || '8 ' ||
             b || '9' AS text
           FROM (SELECT source, doc_id, text,
                   '4' || lpad(CAST(doc_id % 100000000000000 AS VARCHAR),
                               14, '0') AS b
                 FROM documents)),
         cand AS (SELECT source, doc_id,
             unnest(regexp_extract_all(text, '[0-9]{16}')) AS c
           FROM planted),
         scored AS (SELECT source, doc_id,
             CASE WHEN list_sum(list_transform(range(1, 17), i ->
               CASE WHEN (16 - i) % 2 = 1 THEN
                 CASE WHEN CAST(c[i] AS BIGINT) * 2 > 9
                      THEN CAST(c[i] AS BIGINT) * 2 - 9
                      ELSE CAST(c[i] AS BIGINT) * 2 END
               ELSE CAST(c[i] AS BIGINT) END)) % 10 = 0
             THEN 1 ELSE 0 END AS valid
           FROM cand)
         SELECT source,
           CAST(count(DISTINCT CASE WHEN valid = 1 THEN doc_id END) AS BIGINT)
             AS n_docs_hit,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(valid) AS BIGINT) AS n_valid,
           round(CAST(sum(valid) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS valid_rate
         FROM scored GROUP BY source ORDER BY source""",
    // q142: the q35 exact-Jaccard candidate twin + byte-safe levenshtein
    // over ASCII-folded 256-char prefixes; the sim filter compares the
    // ROUNDED value on both engines
    "q142_edit_verified" ->
      raw"""WITH $JaccardOracleChain,
         cand AS (SELECT d1, d2,
             CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
           FROM common JOIN card ca ON d1 = ca.cid JOIN card cb ON d2 = cb.cid
           WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5),
         txt AS (SELECT doc_id,
             regexp_replace(substring(text, 1, 256),
                            '[^\x00-\x7F]', '?', 'g') AS p
           FROM documents),
         scored AS (SELECT d1, d2, jaccard,
             CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev_dist,
             round(CAST(1 AS DOUBLE) -
               CAST(levenshtein(a.p, b.p) AS DOUBLE) /
               CAST(greatest(len(a.p), len(b.p)) AS DOUBLE), 6) AS lev_sim
           FROM cand JOIN txt a ON d1 = a.doc_id JOIN txt b ON d2 = b.doc_id)
         SELECT d1, d2, jaccard, lev_dist, lev_sim
         FROM scored WHERE lev_sim >= 0.4""",
    "q141_doremi_weights" ->
      """WITH tr AS MATERIALIZED (SELECT string_split(text, ' ') AS t
           FROM documents WHERE doc_id % 2 = 0),
         cw AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS c_w
           FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
         tv AS (SELECT CAST(sum(c_w) AS BIGINT) AS t_all,
             CAST(count(*) AS BIGINT) AS v FROM cw),
         n12 AS MATERIALIZED (SELECT w1, w2,
             CAST(count(*) AS BIGINT) AS n12
           FROM (SELECT t[i - 1] AS w1, t[i] AS w2
                 FROM (SELECT t, unnest(range(2, len(t) + 1)) AS i
                       FROM tr WHERE len(t) >= 2))
           GROUP BY w1, w2),
         n1 AS MATERIALIZED (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1
           FROM n12 GROUP BY w1),
         ev AS MATERIALIZED (SELECT source, string_split(text, ' ') AS t
           FROM documents WHERE doc_id % 2 = 1),
         uni AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
             sum(CAST(round(ln(
               CAST(coalesce(c_w, 0) + 1 AS DOUBLE) /
               CAST((SELECT t_all FROM tv) + (SELECT v FROM tv) AS DOUBLE)),
               9) AS DECIMAL(28, 12))) AS sum_uni
           FROM (SELECT source, unnest(t) AS w FROM ev)
           LEFT JOIN cw USING (w) GROUP BY source),
         bi AS (SELECT source, CAST(count(*) AS BIGINT) AS n_big,
             sum(CAST(round(ln(
               CAST(coalesce(n12, 0) + 1 AS DOUBLE) /
               CAST(coalesce(n1, 0) + (SELECT v FROM tv) AS DOUBLE)),
               9) AS DECIMAL(28, 12))) AS sum_bi
           FROM (SELECT source, t[i - 1] AS w1, t[i] AS w2
                 FROM (SELECT source, t, unnest(range(2, len(t) + 1)) AS i
                       FROM ev WHERE len(t) >= 2))
           LEFT JOIN n12 USING (w1, w2) LEFT JOIN n1 USING (w1)
           GROUP BY source),
         per AS (SELECT u.source, n_tok,
             CAST(sum_uni AS DOUBLE) / n_tok AS mean_uni,
             CASE WHEN coalesce(n_big, 0) = 0
                  THEN CAST(sum_uni AS DOUBLE) / n_tok
                  ELSE CAST(sum_bi AS DOUBLE) / n_big END AS mean_bi
           FROM uni u LEFT JOIN bi b ON u.source = b.source),
         per2 AS (SELECT source, n_tok, mean_uni, mean_bi,
             greatest(0.0, mean_bi - mean_uni) AS excess,
             round(exp(CAST(1.0 AS DOUBLE) *
               greatest(0.0, mean_bi - mean_uni)), 9) AS boost
           FROM per),
         tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_tot FROM per2),
         terms AS (SELECT source, n_tok, mean_uni, mean_bi, excess,
             CAST(n_tok AS DOUBLE) /
               CAST((SELECT n_tot FROM tot) AS DOUBLE) AS w0,
             round(CAST(n_tok AS DOUBLE) /
               CAST((SELECT n_tot FROM tot) AS DOUBLE) * boost, 9) AS term
           FROM per2),
         nrm AS (SELECT sum(CAST(term AS DECIMAL(28, 12))) AS norm FROM terms)
       SELECT source, n_tok AS n_tokens,
         round(mean_uni, 6) AS mean_lp_uni,
         round(mean_bi, 6) AS mean_lp_bi,
         round(excess, 6) AS excess,
         round(w0, 6) AS weight0,
         round(term / CAST((SELECT norm FROM nrm) AS DOUBLE), 6) AS weight
       FROM terms ORDER BY source""",
    // q139: rank ties broken lexicographically (total order); ln's round
    // 9, per-rank products round 9 and decimal-sum; slope/intercept/R²
    // are one double chain each (intercept uses the UNROUNDED slope)
    "q139_zipf_slope" ->
      """WITH f AS (SELECT source, w, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           GROUP BY source, w),
         r AS (SELECT source, freq,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY freq DESC, w ASC) AS BIGINT) AS rank
           FROM f QUALIFY rank <= 1000),
         xy AS (SELECT source, freq, rank,
             round(ln(CAST(rank AS DOUBLE)), 9) AS x,
             round(ln(CAST(freq AS DOUBLE)), 9) AS y FROM r),
         s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
             CAST(max(CASE WHEN rank = 1 THEN freq END) AS BIGINT) AS top_freq,
             sum(CAST(x AS DECIMAL(28, 12))) AS sx,
             sum(CAST(y AS DECIMAL(28, 12))) AS sy,
             sum(CAST(round(x * y, 9) AS DECIMAL(28, 12))) AS sxy,
             sum(CAST(round(x * x, 9) AS DECIMAL(28, 12))) AS sxx,
             sum(CAST(round(y * y, 9) AS DECIMAL(28, 12))) AS syy
           FROM xy GROUP BY source),
         fin AS (SELECT source, n_ranks, top_freq,
             CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
             CAST(n_ranks AS DOUBLE) * CAST(syy AS DOUBLE) -
               CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
           FROM s)
         SELECT source, n_ranks, top_freq,
           CASE WHEN n_ranks < 2 THEN NULL
                ELSE round(num / denx, 6) END AS slope,
           CASE WHEN n_ranks < 2 THEN NULL
                ELSE round((syd - (num / denx) * sxd) /
                           CAST(n_ranks AS DOUBLE), 6) END AS intercept,
           CASE WHEN n_ranks < 2 OR deny = 0.0 THEN NULL
                ELSE round(num * num / (denx * deny), 6) END AS r2
         FROM fin ORDER BY source""",
    // q148: global token positions = row_number over (doc_id, p) per
    // source — provably equal to the engine's two-level prefix sum, since
    // the (doc_id, position) order key is unique and dense; the decile
    // checkpoints, ln round-9, decimal regression sums, and the guarded
    // round-6 finish mirror the q139 fit exactly
    "q148_heaps_law" ->
      """WITH tok AS MATERIALIZED (
           SELECT source, doc_id, generate_subscripts(t, 1) AS p, unnest(t) AS w
           FROM (SELECT source, doc_id,
                   list_transform(range(1, greatest(len(t0) - 2, 1) + 1),
                     i -> array_to_string(list_slice(t0, i, i + 2), ' ')) AS t
                 FROM (SELECT source, doc_id, string_split(text, ' ') AS t0
                       FROM documents))),
         gp AS MATERIALIZED (
           SELECT source, w,
             row_number() OVER (PARTITION BY source ORDER BY doc_id, p) AS gpos
           FROM tok),
         fst AS MATERIALIZED (
           SELECT source, w, CAST(min(gpos) AS BIGINT) AS first_pos
           FROM gp GROUP BY source, w),
         tot AS MATERIALIZED (
           SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
           FROM tok GROUP BY source),
         voc AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab
                 FROM fst GROUP BY source),
         cps AS (SELECT source, n_tokens, k,
             greatest(CAST(1 AS BIGINT), CAST((k * n_tokens) // 10 AS BIGINT)) AS ck
           FROM tot, unnest(range(1, 11)) AS u(k)),
         vk AS (SELECT f.source, c.k, c.ck, CAST(count(*) AS BIGINT) AS v
           FROM fst f JOIN cps c
             ON c.source = f.source AND f.first_pos <= c.ck
           GROUP BY f.source, c.k, c.ck),
         xy AS (SELECT source,
             round(ln(CAST(ck AS DOUBLE)), 9) AS x,
             round(ln(CAST(v AS DOUBLE)), 9) AS y FROM vk),
         s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_points,
             sum(CAST(x AS DECIMAL(28, 12))) AS sx,
             sum(CAST(y AS DECIMAL(28, 12))) AS sy,
             sum(CAST(round(x * y, 9) AS DECIMAL(28, 12))) AS sxy,
             sum(CAST(round(x * x, 9) AS DECIMAL(28, 12))) AS sxx,
             sum(CAST(round(y * y, 9) AS DECIMAL(28, 12))) AS syy
           FROM xy GROUP BY source),
         fin AS (SELECT source, n_points,
             CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
             CAST(n_points AS DOUBLE) * CAST(syy AS DOUBLE) -
               CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
           FROM s)
         SELECT f.source, t.n_tokens, v.vocab, f.n_points,
           CASE WHEN f.n_points < 2 OR f.denx = 0.0 THEN NULL
                ELSE round(f.num / f.denx, 6) + 0.0 END AS beta,
           CASE WHEN f.n_points < 2 OR f.denx = 0.0 THEN NULL
                ELSE round((f.syd - (f.num / f.denx) * f.sxd) /
                           CAST(f.n_points AS DOUBLE), 6) + 0.0 END AS intercept,
           CASE WHEN f.n_points < 2 OR f.deny = 0.0 OR f.denx = 0.0 THEN NULL
                ELSE round(f.num * f.num / (f.denx * f.deny), 6) + 0.0 END AS r2
         FROM fin f JOIN tot t ON t.source = f.source
                    JOIN voc v ON v.source = f.source
         ORDER BY f.source""",
    // q138: same derived candidate (drop 7th, UNK 11th); clip join keyed
    // (doc_id, n, g); every p_n is ONE double division of BIGINT sums,
    // ln/exp round 9, fixed 4-term mean, final product round 6
    // q173: the q138 derived pairs on the doc_id % 10 slice; the LCS DP
    // as a recursive CTE over candidate position i, each step ONE
    // list_transform of the previous row (the prefix-max form has no
    // within-row dependency), all-integer until the three divisions
    "q173_rouge_l" ->
      """WITH RECURSIVE base AS (SELECT source, doc_id,
           string_split(text, ' ') AS r,
           list_transform(
             list_filter(range(1, len(string_split(text, ' ')) + 1),
                         i -> i % 7 <> 0),
             i -> CASE WHEN i % 11 = 0 THEN 'UNK'
                       ELSE string_split(text, ' ')[i] END) AS c
           FROM documents WHERE doc_id % 10 = 0),
         dp AS (
           SELECT source, doc_id, r, c, len(r) AS n, len(c) AS m, 0 AS i,
             list_transform(range(0, len(r) + 1), x -> CAST(0 AS BIGINT)) AS row
           FROM base
           UNION ALL
           SELECT source, doc_id, r, c, n, m, i + 1,
             list_transform(range(0, n + 1), j ->
               CASE WHEN j = 0 THEN CAST(0 AS BIGINT) ELSE
                 greatest(row[j + 1],
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, j + 1), k ->
                       CASE WHEN r[k] = c[i + 1] THEN row[k] + 1
                            ELSE CAST(0 AS BIGINT) END)),
                     (a, b) -> greatest(a, b)))
               END) AS row
           FROM dp WHERE i < m),
         lcs AS (SELECT source, row[n + 1] AS lcs, n, m
           FROM dp WHERE i = m),
         agg AS (SELECT source, CAST(sum(lcs) AS BIGINT) AS lcs_sum,
             CAST(sum(n) AS BIGINT) AS ref_tokens,
             CAST(sum(m) AS BIGINT) AS cand_tokens
           FROM lcs GROUP BY source),
         pr AS (SELECT source, lcs_sum, ref_tokens, cand_tokens,
             CASE WHEN ref_tokens > 0
               THEN CAST(lcs_sum AS DOUBLE) / CAST(ref_tokens AS DOUBLE)
               ELSE 0.0 END AS r_raw,
             CASE WHEN cand_tokens > 0
               THEN CAST(lcs_sum AS DOUBLE) / CAST(cand_tokens AS DOUBLE)
               ELSE 0.0 END AS p_raw
           FROM agg)
         SELECT source, lcs_sum, ref_tokens, cand_tokens,
           round(r_raw, 6) AS rouge_r, round(p_raw, 6) AS rouge_p,
           CASE WHEN r_raw + p_raw > 0.0
             THEN round(2.0 * p_raw * r_raw / (p_raw + r_raw), 6)
             ELSE 0.0 END AS rouge_f
         FROM pr""",
    "q138_corpus_bleu" ->
      """WITH base AS (SELECT source AS grp, doc_id,
           string_split(text, ' ') AS r,
           list_transform(
             list_filter(range(1, len(string_split(text, ' ')) + 1),
                         i -> i % 7 <> 0),
             i -> CASE WHEN i % 11 = 0 THEN 'UNK'
                       ELSE string_split(text, ' ')[i] END) AS c
           FROM documents),
         lens AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(c)) AS BIGINT) AS c_len,
             CAST(sum(len(r)) AS BIGINT) AS r_len
           FROM base GROUP BY grp),
         cg AS (SELECT grp, doc_id, n,
             array_to_string(list_slice(c, i, i + n - 1), ' ') AS g,
             CAST(count(*) AS BIGINT) AS c_c
           FROM (SELECT grp, doc_id, c, n,
                   unnest(range(1, len(c) - n + 2)) AS i
                 FROM base, unnest([1, 2, 3, 4]) AS u(n)
                 WHERE len(c) >= n)
           GROUP BY grp, doc_id, n, g),
         rg AS (SELECT doc_id, n,
             array_to_string(list_slice(r, i, i + n - 1), ' ') AS g,
             CAST(count(*) AS BIGINT) AS c_r
           FROM (SELECT doc_id, r, n,
                   unnest(range(1, len(r) - n + 2)) AS i
                 FROM base, unnest([1, 2, 3, 4]) AS u(n)
                 WHERE len(r) >= n)
           GROUP BY doc_id, n, g),
         byn AS (SELECT grp, n,
             CAST(sum(least(c_c, coalesce(c_r, 0))) AS BIGINT) AS m,
             CAST(sum(c_c) AS BIGINT) AS tot
           FROM cg LEFT JOIN rg USING (doc_id, n, g)
           GROUP BY grp, n),
         wide AS (SELECT grp,
             CAST(coalesce(max(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1,
             CAST(coalesce(max(CASE WHEN n = 1 THEN tot END), 0) AS BIGINT) AS t1,
             CAST(coalesce(max(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2,
             CAST(coalesce(max(CASE WHEN n = 2 THEN tot END), 0) AS BIGINT) AS t2,
             CAST(coalesce(max(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3,
             CAST(coalesce(max(CASE WHEN n = 3 THEN tot END), 0) AS BIGINT) AS t3,
             CAST(coalesce(max(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4,
             CAST(coalesce(max(CASE WHEN n = 4 THEN tot END), 0) AS BIGINT) AS t4
           FROM byn GROUP BY grp),
         fin AS (SELECT l.grp, l.n_docs, l.c_len, l.r_len,
             w.m1, w.t1, w.m2, w.t2, w.m3, w.t3, w.m4, w.t4,
             CASE WHEN l.c_len >= l.r_len THEN 1.0
                  ELSE round(exp(1.0 - CAST(l.r_len AS DOUBLE) /
                                 CAST(l.c_len AS DOUBLE)), 9) END AS bp
           FROM lens l JOIN wide w USING (grp))
         SELECT grp AS source, n_docs, c_len, r_len,
           m1, t1, m2, t2, m3, t3, m4, t4,
           round(CAST(m1 AS DOUBLE) / t1, 6) AS p1,
           round(CAST(m4 AS DOUBLE) / t4, 6) AS p4,
           bp,
           CASE WHEN m1 = 0 OR m2 = 0 OR m3 = 0 OR m4 = 0 THEN 0.0
                ELSE round(bp * round(exp(
                  (round(ln(CAST(m1 AS DOUBLE) / CAST(t1 AS DOUBLE)), 9) +
                   round(ln(CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE)), 9) +
                   round(ln(CAST(m3 AS DOUBLE) / CAST(t3 AS DOUBLE)), 9) +
                   round(ln(CAST(m4 AS DOUBLE) / CAST(t4 AS DOUBLE)), 9)) /
                  CAST(4 AS DOUBLE)), 9), 6) END AS bleu
         FROM fin ORDER BY source""",
    "q137_source_kl" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
           FROM documents),
         cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM tok GROUP BY w),
         tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS t_all,
                        CAST(count(*) AS BIGINT) AS v_all FROM cw),
         lnq AS (SELECT w, round(ln(CAST(c_w + 1 AS DOUBLE) /
             CAST((SELECT t_all FROM tot) + (SELECT v_all FROM tot) AS DOUBLE)),
             9) AS lnq FROM cw),
         lall AS (SELECT sum(CAST(lnq AS DECIMAL(28, 12))) AS l_all FROM lnq),
         csw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
                 FROM tok GROUP BY source, w),
         ts AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS t_s,
                       CAST(count(*) AS BIGINT) AS v_s FROM csw GROUP BY source),
         pres AS (SELECT source,
             sum(CAST(round(p_sw * (round(ln(p_sw), 9) - lnq), 9)
                 AS DECIMAL(28, 12))) AS kl_present_dec,
             sum(CAST(lnq AS DECIMAL(28, 12))) AS l_s
           FROM (SELECT c.source,
                   CAST(c.c_sw + 1 AS DOUBLE) /
                     CAST(t.t_s + (SELECT v_all FROM tot) AS DOUBLE) AS p_sw,
                   l.lnq
                 FROM csw c JOIN ts t USING (source) JOIN lnq l USING (w))
           GROUP BY source),
         fin AS (SELECT p.source, t.t_s, t.v_s, p.kl_present_dec,
             (1.0 / CAST(t.t_s + (SELECT v_all FROM tot) AS DOUBLE)) *
             (CAST((SELECT v_all FROM tot) - t.v_s AS DOUBLE) *
               round(ln(1.0 / CAST(t.t_s + (SELECT v_all FROM tot) AS DOUBLE)), 9)
              - CAST(l.l_all - p.l_s AS DOUBLE)) AS kl_absent_raw
           FROM pres p JOIN ts t USING (source), lall l)
         SELECT source, t_s AS n_tokens, v_s AS n_types,
           round(CAST(kl_present_dec AS DOUBLE), 6) AS kl_present,
           round(kl_absent_raw, 6) + 0.0 AS kl_absent,
           round(CAST(kl_present_dec AS DOUBLE) + kl_absent_raw, 6) + 0.0 AS kl
         FROM fin ORDER BY source""",
    // q126: per-row integer counts + one DOUBLE division per ratio; the
    // keep CASE compares the UNROUNDED division (identical IEEE chain);
    // '...' counted by leftmost-nonoverlap replace-and-diff (integer //
    // equals Spark's truncating cast for non-negative counts)
    "q126_gopher_rules" ->
      s"""WITH base AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
         st AS (SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS sum_wlen,
           CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
             + CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
           CAST(len(list_filter(t, x -> regexp_matches(x, '\\p{L}'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(t, x -> x IN ($StopListSql))) AS BIGINT) AS n_stop
         FROM base)
         SELECT doc_id, n_words,
           round(CAST(sum_wlen AS DOUBLE) / n_words, 6) AS mean_wlen,
           round(CAST(n_symbols AS DOUBLE) / n_words, 6) AS symbol_ratio,
           round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_ratio,
           n_stop,
           CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
             AND CAST(sum_wlen AS DOUBLE) / n_words >= 3.0
             AND CAST(sum_wlen AS DOUBLE) / n_words <= 10.0
             AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1
             AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
             AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM st""",
    // q125: the lexical CTE chain is q113's verbatim at CANDIDATE depth
    // 4*k = 40 (the round-13 candidateDepth contract — fusion sees deeper
    // lists than the served top-10); the semantic side is the q40
    // cosine-rank recipe pinned to query vec 0 at the same depth; ranks
    // fuse as one DOUBLE-cast division per side (DuckDB decimal literals
    // would otherwise fuse in exact decimal), absent ranks marked 0
    "q125_rrf_fusion" ->
      s"""WITH $Bm25OracleChain,
         tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, w AS tok,
                       CAST(count(*) AS BIGINT) AS tf
                FROM ex WHERE w IN ('vector', 'join', 'scan')
                GROUP BY doc_id, dl, w),
         dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         sc AS (SELECT doc_id,
                  round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                    * ((tf * (1.2 + 1.0)) /
                       (tf + 1.2 * ((1.0 - 0.75) +
                          0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))), 9) AS score
                FROM tf JOIN dfq USING (tok) CROSS JOIN st),
         lexbase AS (SELECT doc_id,
                round(CAST(sum(CAST(score AS DECIMAL(28,12))) AS DOUBLE), 6) AS bm25
              FROM sc GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id ASC LIMIT 40),
         lex AS (SELECT doc_id, CAST(row_number() OVER
                  (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS r_lex FROM lexbase),
         sem AS (SELECT nid AS doc_id, CAST(rk AS BIGINT) AS r_sem FROM (
             SELECT b.vec_id AS nid, row_number() OVER
               (ORDER BY round(${graft.ops.Embeddings.CosSql}, 6) DESC, b.vec_id ASC) AS rk
             FROM embeddings a JOIN embeddings b
               ON a.vec_id = 0 AND a.vec_id <> b.vec_id) t
           WHERE rk <= 40)
         SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           COALESCE(l.r_lex, 0) AS r_lex,
           COALESCE(s.r_sem, 0) AS r_sem,
           round((CASE WHEN l.r_lex IS NULL THEN 0.0
                       ELSE CAST(1 AS DOUBLE) / (60 + l.r_lex) END)
               + (CASE WHEN s.r_sem IS NULL THEN 0.0
                       ELSE CAST(1 AS DOUBLE) / (60 + s.r_sem) END), 9) AS rrf
         FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
         ORDER BY rrf DESC, doc_id ASC LIMIT 10""",
    // q122: stupid-backoff trigram — model CTEs mirror the Spark rollups;
    // every CASE branch pins the same one-multiply-one-divide double
    // chain (explicit DOUBLE casts: DuckDB decimal literals would
    // otherwise run the α products in exact decimal)
    "q122_trigram_score" -> TrigramScoreOracleSql,
    // q127: the q122 unroll at 5-gram order — four backoff tiers plus the
    // pinned add-1 floor; every α-product is a left-to-right chain of
    // explicit DOUBLE casts mirroring the Spark lit() chain exactly
    "q127_fivegram_score" ->
      """WITH tr AS MATERIALIZED (
           SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0),
         n5 AS (SELECT w1, w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS n5 FROM (
             SELECT unnest(list_transform(range(5, len(t) + 1), i ->
               struct_pack(w1 := t[i - 4], w2 := t[i - 3], w3 := t[i - 2],
                           w4 := t[i - 1], w5 := t[i])), recursive := true)
             FROM tr WHERE len(t) >= 5)
           GROUP BY w1, w2, w3, w4, w5),
         n4 AS (SELECT w1, w2, w3, w4, CAST(count(*) AS BIGINT) AS n4 FROM (
             SELECT unnest(list_transform(range(4, len(t) + 1), i ->
               struct_pack(w1 := t[i - 3], w2 := t[i - 2], w3 := t[i - 1],
                           w4 := t[i])), recursive := true)
             FROM tr WHERE len(t) >= 4)
           GROUP BY w1, w2, w3, w4),
         n3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n3 FROM (
             SELECT unnest(list_transform(range(3, len(t) + 1), i ->
               struct_pack(w1 := t[i - 2], w2 := t[i - 1], w3 := t[i])), recursive := true)
             FROM tr WHERE len(t) >= 3)
           GROUP BY w1, w2, w3),
         n2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2 FROM (
             SELECT unnest(list_transform(range(2, len(t) + 1), i ->
               struct_pack(w1 := t[i - 1], w2 := t[i])), recursive := true)
             FROM tr WHERE len(t) >= 2)
           GROUP BY w1, w2),
         n1 AS (SELECT w, CAST(count(*) AS BIGINT) AS n1
                FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                        CAST(count(DISTINCT w) AS BIGINT) AS v
                 FROM (SELECT unnest(t) AS w FROM tr)),
         ev AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE doc_id % 2 = 1),
         eg AS (SELECT doc_id, w1, w2, w3, w4, w5 FROM (
             SELECT doc_id, unnest(list_transform(range(5, len(t) + 1), i ->
               struct_pack(w1 := t[i - 4], w2 := t[i - 3], w3 := t[i - 2],
                           w4 := t[i - 1], w5 := t[i])), recursive := true)
             FROM ev WHERE len(t) >= 5)),
         lp AS (SELECT doc_id,
             round(ln(CASE
               WHEN h5.n5 IS NOT NULL THEN CAST(h5.n5 AS DOUBLE) / c4.n4
               WHEN h4.n4 IS NOT NULL THEN
                 (CAST(0.4 AS DOUBLE) * h4.n4) / c3.n3
               WHEN h3.n3 IS NOT NULL THEN
                 ((CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)) * h3.n3) / c2.n2
               WHEN h2.n2 IS NOT NULL THEN
                 (((CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
                   * h2.n2) / u4.n1
               ELSE ((((CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
                      * CAST(0.4 AS DOUBLE)) *
                     CAST(COALESCE(u5.n1, 0) + 1 AS DOUBLE)) / CAST(t.nn + t.v AS DOUBLE)
             END), 9) AS lp
           FROM eg
           LEFT JOIN n5 h5 USING (w1, w2, w3, w4, w5)
           LEFT JOIN n4 c4 ON eg.w1 = c4.w1 AND eg.w2 = c4.w2
                          AND eg.w3 = c4.w3 AND eg.w4 = c4.w4
           LEFT JOIN n4 h4 ON eg.w2 = h4.w1 AND eg.w3 = h4.w2
                          AND eg.w4 = h4.w3 AND eg.w5 = h4.w4
           LEFT JOIN n3 c3 ON eg.w2 = c3.w1 AND eg.w3 = c3.w2 AND eg.w4 = c3.w3
           LEFT JOIN n3 h3 ON eg.w3 = h3.w1 AND eg.w4 = h3.w2 AND eg.w5 = h3.w3
           LEFT JOIN n2 c2 ON eg.w3 = c2.w1 AND eg.w4 = c2.w2
           LEFT JOIN n2 h2 ON eg.w4 = h2.w1 AND eg.w5 = h2.w2
           LEFT JOIN n1 u4 ON eg.w4 = u4.w
           LEFT JOIN n1 u5 ON eg.w5 = u5.w
           CROSS JOIN tot t)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fivegrams,
           round(CAST(sum(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS avg_lp
         FROM lp GROUP BY doc_id""",
    // q128: the SAME two leftmost-nonoverlapping replaces derive the
    // multi-line corpus; per-row integer line counts + one DOUBLE
    // division per ratio; the keep CASE compares the unrounded chain
    "q128_line_rules" ->
      """WITH lined AS (SELECT doc_id,
           replace(replace(text, ' the ', chr(10) || '- the '),
                   ' table ', '...' || chr(10) || ' table ') AS text
         FROM documents),
         base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
         st AS (SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(list_filter(ls, x -> starts_with(ltrim(x), '- ')
             OR starts_with(ltrim(x), '• ')
             OR starts_with(ltrim(x), '* '))) AS BIGINT) AS n_bullet,
           CAST(len(list_filter(ls, x -> ends_with(rtrim(x), '...')
             OR ends_with(rtrim(x), '…'))) AS BIGINT) AS n_ellipsis
         FROM base)
         SELECT doc_id, n_lines, n_bullet, n_ellipsis,
           round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_ratio,
           round(CAST(n_ellipsis AS DOUBLE) / n_lines, 6) AS ellipsis_ratio,
           CAST(CASE WHEN CAST(n_bullet AS DOUBLE) / n_lines > 0.9
                       OR CAST(n_ellipsis AS DOUBLE) / n_lines > 0.3
                THEN 0 ELSE 1 END AS BIGINT) AS keep
         FROM st""",
    // q129: the SAME five leftmost-nonoverlapping replaces derive the
    // corpus; per-row integer counts + ONE double division; the keep CASE
    // mirrors the operator's document-level conjunction
    "q129_c4_rules" ->
      """WITH der AS (SELECT doc_id,
           replace(replace(replace(replace(replace(text,
             ' the ', '.' || chr(10) || 'the '),
             ' batch ', ' {batch '),
             ' slow fast ', ' lorem ipsum '),
             ' spark ', ' javascript '),
             ' value table ', ' casino table ') AS text
         FROM documents),
         base AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM der),
         st AS (SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(list_filter(ls, x -> ends_with(rtrim(x), '.')
             OR ends_with(rtrim(x), '!') OR ends_with(rtrim(x), '?')
             OR ends_with(rtrim(x), '"'))) AS BIGINT) AS n_term_lines,
           CAST(len(text) - len(replace(text, '.', '')) AS BIGINT) AS n_sentences,
           CAST(len(list_filter(ls, x -> contains(x, 'javascript'))) AS BIGINT) AS n_js_lines,
           CAST(CASE WHEN contains(text, 'lorem ipsum') THEN 1 ELSE 0 END AS BIGINT) AS has_lorem,
           CAST(CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS BIGINT) AS has_brace,
           CAST(CASE WHEN contains(text, 'casino') THEN 1 ELSE 0 END AS BIGINT) AS has_bad
         FROM base)
         SELECT doc_id, n_lines, n_term_lines,
           round(CAST(n_term_lines AS DOUBLE) / n_lines, 6) AS term_ratio,
           n_sentences, n_js_lines, has_lorem, has_brace, has_bad,
           CAST(CASE WHEN n_sentences >= 3 AND has_lorem = 0 AND has_brace = 0
                       AND has_bad = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM st""",
    // q130: the bucket hash is the same 31-ary code-point polynomial mod
    // 10000 (list_reduce with a prepended 0 accumulator ≡ Spark's
    // aggregate with 0L init); add-1 bucket models mirror the operator;
    // per-occurrence ln difference rounds to 9, per-doc decimal sum to 6
    "q130_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         feat AS (SELECT doc_id, lang, unnest(list_concat(t,
             CASE WHEN len(t) >= 2 THEN list_transform(range(2, len(t) + 1),
               i -> t[i - 1] || ' ' || t[i]) ELSE [] END)) AS f
           FROM tok),
         fb AS MATERIALIZED (SELECT doc_id, lang,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(f) + 1), i -> CAST(ascii(f[i]) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 10000) AS b
           FROM feat),
         ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM fb WHERE lang = 'en' GROUP BY b),
         cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY b),
         tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS nt,
                        (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS nr),
         lp AS (SELECT doc_id,
             round(ln((COALESCE(ct, 0) + 1.0) / (nt + 10000))
                 - ln((COALESCE(cr, 0) + 1.0) / (nr + 10000)), 9) AS lp
           FROM fb LEFT JOIN ct USING (b) LEFT JOIN cr USING (b) CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
           round(CAST(sum(CAST(lp AS DECIMAL(28,12))) AS DOUBLE), 6) AS dsir_lw
         FROM lp GROUP BY doc_id""",
    // q183: the q126/q129/q128 rule statistics verbatim over the funnel
    // corpus (q129 derives + q167 plants), md5 canonical, conditional sums
    "q183_filter_funnel" ->
      s"""WITH d0 AS (SELECT doc_id, source,
           replace(replace(replace(replace(replace(text,
             ' the ', '.' || chr(10) || 'the '),
             ' batch ', ' {batch '),
             ' slow fast ', ' lorem ipsum '),
             ' spark ', ' javascript '),
             ' value table ', ' casino table ') AS text
         FROM documents),
         fc AS MATERIALIZED (
           SELECT doc_id, source, text FROM d0
           UNION ALL
           SELECT 4 * (doc_id + 1000000000), source, text
           FROM d0 WHERE doc_id % 16 = 1),
         gb AS (SELECT doc_id, text, string_split(text, ' ') AS t,
                  string_split(text, chr(10)) AS ls
           FROM fc),
         gf AS (SELECT doc_id,
           CAST(CASE WHEN len(t) >= 50 AND len(t) <= 100000
             AND CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
               / len(t) >= 3.0
             AND CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
               / len(t) <= 10.0
             AND CAST(CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
               + CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
                 AS DOUBLE) / len(t) <= 0.1
             AND CAST(len(list_filter(t, x -> regexp_matches(x, '\\p{L}')))
                 AS DOUBLE) / len(t) >= 0.8
             AND len(list_filter(t, x -> x IN ($StopListSql))) >= 2
             THEN 1 ELSE 0 END AS BIGINT) AS g_keep,
           CAST(CASE WHEN len(text) - len(replace(text, '.', '')) >= 3
             AND NOT contains(text, 'lorem ipsum')
             AND NOT contains(text, '{')
             AND NOT contains(text, 'casino')
             THEN 1 ELSE 0 END AS BIGINT) AS c_keep,
           CAST(CASE WHEN NOT (
               CAST(len(list_filter(ls, x -> starts_with(ltrim(x), '- ')
                 OR starts_with(ltrim(x), '• ') OR starts_with(ltrim(x), '* ')))
                 AS DOUBLE) / len(ls) > 0.9
               OR CAST(len(list_filter(ls, x -> ends_with(rtrim(x), '...')
                 OR ends_with(rtrim(x), '…'))) AS DOUBLE) / len(ls) > 0.3)
             THEN 1 ELSE 0 END AS BIGINT) AS l_keep
           FROM gb),
         cn AS (SELECT md5(text) AS h, min(doc_id) AS cid FROM fc GROUP BY 1),
         uf AS (SELECT f.doc_id,
             CAST(CASE WHEN f.doc_id = cn.cid THEN 1 ELSE 0 END AS BIGINT)
               AS u_keep
           FROM fc f JOIN cn ON cn.h = md5(f.text))
         SELECT f.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(g_keep) AS BIGINT) AS n_gopher,
           CAST(sum(g_keep * c_keep) AS BIGINT) AS n_c4,
           CAST(sum(g_keep * c_keep * l_keep) AS BIGINT) AS n_lines,
           CAST(sum(g_keep * c_keep * l_keep * u_keep) AS BIGINT) AS n_unique
         FROM fc f JOIN gf ON gf.doc_id = f.doc_id
           JOIN uf ON uf.doc_id = f.doc_id
         GROUP BY f.source""",
    // q182: the q114 integer-mass recipe at each grid point; every
    // exponent composed from correctly-rounded sqrts, no libm pow
    "q182_temperature_sweep" ->
      """WITH t AS (SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         g(alpha) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                             (CAST(0.75 AS DOUBLE)), (CAST(1.0 AS DOUBLE))),
         s AS (SELECT alpha, source, n_tokens,
             CASE alpha
               WHEN 0.25 THEN CAST(floor(sqrt(sqrt(
                 CAST(n_tokens AS DOUBLE) * 1000000000000.0))) AS BIGINT)
               WHEN 0.5 THEN CAST(floor(sqrt(
                 CAST(n_tokens AS DOUBLE) * 1000000.0)) AS BIGINT)
               WHEN 0.75 THEN CAST(floor(sqrt(
                 (CAST(n_tokens AS DOUBLE) * 10000.0) *
                 sqrt(CAST(n_tokens AS DOUBLE) * 10000.0))) AS BIGINT)
               ELSE n_tokens
             END AS s_scaled
           FROM t CROSS JOIN g),
         tot AS (SELECT alpha, CAST(sum(s_scaled) AS BIGINT) AS s_total
           FROM s GROUP BY alpha)
         SELECT s.alpha, source, n_tokens, s_scaled,
           CASE WHEN s_total > 0
             THEN round(CAST(s_scaled AS DOUBLE) / s_total, 9) ELSE 0.0 END
             AS weight,
           CASE WHEN s_total > 0
             THEN CAST((1000000 * s_scaled) // s_total AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS alloc_tokens
         FROM s JOIN tot USING (alpha)""",
    // q181: the bit array rebuilt from the same affine family over md5
    // strings; membership = all k buckets present; exact anti-joined
    // non-member ground truth
    "q181_bloom_fpr" ->
      """WITH mh AS MATERIALIZED (
           SELECT DISTINCT md5(text) AS s FROM documents WHERE doc_id % 2 = 0),
         ph AS MATERIALIZED (SELECT s,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(s) + 1),
                 j -> CAST(ascii(s[j]) AS BIGINT))),
               (acc, ch) -> (acc * 31 + ch) % 1048576) AS h
           FROM mh),
         ds AS (SELECT unnest(range(0, 4)) AS i),
         bits AS MATERIALIZED (SELECT DISTINCT
             (((2 * i + 1) * h + (1000 * i + 7)) % 1048573) % 1024 AS b
           FROM ph CROSS JOIN ds),
         pr AS MATERIALIZED (
           SELECT DISTINCT md5(text) AS s FROM documents WHERE doc_id % 2 = 1),
         npr AS MATERIALIZED (
           SELECT s FROM pr WHERE s NOT IN (SELECT s FROM mh)),
         nph AS (SELECT s,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(s) + 1),
                 j -> CAST(ascii(s[j]) AS BIGINT))),
               (acc, ch) -> (acc * 31 + ch) % 1048576) AS h
           FROM npr),
         fp AS (SELECT CAST(count(*) AS BIGINT) AS n_false_pos FROM (
             SELECT s FROM (
               SELECT n.s,
                 (((2 * ds.i + 1) * n.h + (1000 * ds.i + 7)) % 1048573) % 1024 AS b
               FROM nph n CROSS JOIN ds) t
             WHERE b IN (SELECT b FROM bits)
             GROUP BY s HAVING count(*) = 4))
         SELECT CAST(1024 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k_hashes,
           (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           (SELECT CAST(count(*) AS BIGINT) FROM npr) AS n_probes,
           n_false_pos,
           CASE WHEN (SELECT count(*) FROM npr) > 0
             THEN round(CAST(n_false_pos AS DOUBLE)
               / CAST((SELECT count(*) FROM npr) AS DOUBLE), 6)
             ELSE 0.0 END AS fpr
         FROM fp""",
    // q180: the whole CMS is rebuilt cell-for-cell from the q149 affine
    // hash family — estimates hash-match, not just the exact side
    "q180_cms_error" ->
      """WITH tc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         hh AS MATERIALIZED (SELECT w, c,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(w) + 1),
                 j -> CAST(ascii(w[j]) AS BIGINT))),
               (acc, ch) -> (acc * 31 + ch) % 1048576) AS h
           FROM tc),
         ds AS (SELECT unnest(range(0, 4)) AS i),
         cells AS MATERIALIZED (SELECT i AS d,
             (((2 * i + 1) * h + (1000 * i + 7)) % 1048573) % 16 AS b,
             CAST(sum(c) AS BIGINT) AS cell
           FROM hh CROSS JOIN ds GROUP BY 1, 2),
         top AS (SELECT w, c FROM tc ORDER BY c DESC, w ASC LIMIT 20),
         tb AS (SELECT t.w, t.c, ds.i,
             (((2 * ds.i + 1) * hh.h + (1000 * ds.i + 7)) % 1048573) % 16 AS b
           FROM top t JOIN hh ON hh.w = t.w CROSS JOIN ds)
         SELECT tb.w, tb.c AS exact, CAST(min(cell) AS BIGINT) AS est,
           CAST(min(cell) - tb.c AS BIGINT) AS overcount
         FROM tb JOIN cells ON cells.d = tb.i AND cells.b = tb.b
         GROUP BY tb.w, tb.c""",
    // q172: the q130 list_reduce polynomial mod 2^20, bucket/sign from
    // disjoint bit ranges, all-integer rollup
    "q172_feature_hash" ->
      """WITH tc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         hb AS (SELECT c,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(w) + 1),
                 i -> CAST(ascii(w[i]) AS BIGINT))),
               (acc, ch) -> (acc * 31 + ch) % 1048576) AS h
           FROM tc)
         SELECT h % 64 AS b, CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_occ,
           CAST(sum((1 - 2 * ((h // 64) % 2)) * c) AS BIGINT) AS signed_sum
         FROM hb GROUP BY b""",
    // q131: string shingles stand in for the Spark side's xxhash64 (the
    // q34/q71 recipe); islands-and-gaps via pos - row_number() per doc
    "q131_contamination_spans" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, i AS pos, concat_ws(' ', t[i], t[i+1], t[i+2]) AS s
                FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                      FROM tok WHERE len(t) >= 3)),
         ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 32),
         matched AS (SELECT doc_id, pos FROM sh
                     WHERE doc_id >= 32 AND s IN (SELECT s FROM ev)),
         isl AS (SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM matched),
         runs AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run
                  FROM isl GROUP BY doc_id, grp)
         SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_matched,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(run) + 2 AS BIGINT) AS max_span_tokens
         FROM runs GROUP BY doc_id""",
    // q133: string shingles stand in for the Spark side's xxhash64 (the
    // q34/q121 recipe); diagonal islands via p1 - row_number() within
    // (pair, p1 - p2) groups
    "q133_duplicated_spans" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, i AS pos, concat_ws(' ', t[i], t[i+1], t[i+2]) AS s
                FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                      FROM tok WHERE len(t) >= 3)),
         keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
                  WHERE df <= 64),
         ex AS (SELECT doc_id, pos, s FROM sh WHERE s IN (SELECT s FROM keep)),
         pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id),
         isl AS (SELECT d1, d2, p1 - p2 AS diag, p1,
             p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1) AS grp
           FROM pairs),
         runs AS (SELECT d1, d2, diag, grp, CAST(count(*) AS BIGINT) AS run
                  FROM isl GROUP BY d1, d2, diag, grp)
         SELECT d1, d2, CAST(sum(run) AS BIGINT) AS n_matched,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(run) + 2 AS BIGINT) AS max_span_tokens
         FROM runs GROUP BY d1, d2
         HAVING max(run) + 2 >= 5""",
    // q134: the greedy maximal-munch walk as a recursive CTE over the
    // IDENTICAL frequency-derived vocab tables (longest-first COALESCE =
    // the operator's piece choice); integer threshold tot//30 both sides
    "q134_wordpiece" ->
      """WITH RECURSIVE tok AS (SELECT string_split(text, ' ') AS t FROM documents),
         words AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
                   FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) // 30 AS thr FROM words),
         v4 AS (SELECT s AS p FROM (SELECT substring(w, i, 4) AS s,
                  CAST(sum(cnt) AS BIGINT) AS freq
                  FROM (SELECT w, cnt, unnest(range(1, len(w) - 2)) AS i
                        FROM words WHERE len(w) >= 4) GROUP BY s)
                WHERE freq >= (SELECT thr FROM tot)),
         v3 AS (SELECT s AS p FROM (SELECT substring(w, i, 3) AS s,
                  CAST(sum(cnt) AS BIGINT) AS freq
                  FROM (SELECT w, cnt, unnest(range(1, len(w) - 1)) AS i
                        FROM words WHERE len(w) >= 3) GROUP BY s)
                WHERE freq >= (SELECT thr FROM tot)),
         v2 AS (SELECT s AS p FROM (SELECT substring(w, i, 2) AS s,
                  CAST(sum(cnt) AS BIGINT) AS freq
                  FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i
                        FROM words WHERE len(w) >= 2) GROUP BY s)
                WHERE freq >= (SELECT thr FROM tot)),
         v1 AS (SELECT DISTINCT substring(w, i, 1) AS p
                FROM (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM words)),
         seg AS (
           SELECT w, cnt, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS pieces
           FROM words WHERE len(w) <= 16
           UNION ALL
           SELECT w, cnt, pos + len(piece), list_append(pieces, piece)
           FROM (SELECT s.w, s.cnt, s.pos, s.pieces,
                   COALESCE(a4.p, a3.p, a2.p, a1.p) AS piece
                 FROM seg s
                 LEFT JOIN v4 a4 ON a4.p = substring(s.w, CAST(s.pos AS INT), 4)
                 LEFT JOIN v3 a3 ON a3.p = substring(s.w, CAST(s.pos AS INT), 3)
                 LEFT JOIN v2 a2 ON a2.p = substring(s.w, CAST(s.pos AS INT), 2)
                 LEFT JOIN v1 a1 ON a1.p = substring(s.w, CAST(s.pos AS INT), 1)
                 WHERE s.pos <= len(s.w))),
         fin AS (SELECT w, cnt, pieces FROM seg WHERE pos > len(w)
                 UNION ALL
                 SELECT w, cnt, ['[UNK]'] FROM words WHERE len(w) > 16)
         SELECT piece, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
           CAST(sum(cnt) AS BIGINT) AS occurrences
         FROM (SELECT w, cnt, unnest(pieces) AS piece FROM fin)
         GROUP BY piece ORDER BY occurrences DESC, piece ASC LIMIT 50""",
    // q135: same derived corpus (append-37-tokens then line split), same
    // integer statistics; the per-(doc, n) argmax ties break by smallest
    // n-gram via QUALIFY (≡ the operator's min(struct(-cnt, ng)));
    // n-gram char length = len(join) - (n - 1); dup coverage is the
    // DISTINCT (doc, n, pos) union joined to token lengths
    "q135_gopher_repetition" ->
      ("""WITH der0 AS (SELECT doc_id,
           text || ' ' || array_to_string(list_slice(
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''),
             1, 37), ' ') AS text FROM documents),
         der AS (SELECT doc_id,
           replace(text, ' table ', chr(10) || 'table' || chr(10)) AS text
           FROM der0),
         base AS (SELECT doc_id, string_split(text, chr(10)) AS ls,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
           FROM der),
         scal AS (SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines,
           CAST(list_sum(list_transform(ls, x -> len(x))) AS BIGINT) AS line_chars,
           CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS tot_chars
           FROM base),
         dlc AS (SELECT doc_id,
           CAST(sum((cnt - 1) * clen) AS BIGINT) AS dup_line_chars
           FROM (SELECT doc_id, line, count(*) AS cnt,
                   CAST(len(line) AS BIGINT) AS clen
                 FROM (SELECT doc_id, unnest(ls) AS line FROM base)
                 GROUP BY doc_id, line)
           WHERE cnt >= 2 GROUP BY doc_id),
         topng AS (SELECT doc_id, n,
             CAST(cnt * (len(ng) - (n - 1)) AS BIGINT) AS chars
           FROM (SELECT doc_id, n, ng, count(*) AS cnt
                 FROM (SELECT doc_id, n,
                         array_to_string(list_slice(t, i, i + n - 1), ' ') AS ng
                       FROM (SELECT doc_id, t, n,
                               unnest(range(1, len(t) - n + 2)) AS i
                             FROM base, unnest([2, 3, 4]) AS u(n)
                             WHERE len(t) >= n))
                 GROUP BY doc_id, n, ng)
           QUALIFY row_number() OVER (PARTITION BY doc_id, n
                                      ORDER BY cnt DESC, ng ASC) = 1),
         topw AS (SELECT doc_id,
           CAST(coalesce(sum(CASE WHEN n = 2 THEN chars END), 0) AS BIGINT) AS top2_chars,
           CAST(coalesce(sum(CASE WHEN n = 3 THEN chars END), 0) AS BIGINT) AS top3_chars,
           CAST(coalesce(sum(CASE WHEN n = 4 THEN chars END), 0) AS BIGINT) AS top4_chars
           FROM topng GROUP BY doc_id),
         pos AS (SELECT doc_id, n, i,
             array_to_string(list_slice(t, i, i + n - 1), ' ') AS ng
           FROM (SELECT doc_id, t, n, unnest(range(1, len(t) - n + 2)) AS i
                 FROM base, unnest([5, 6, 7, 8, 9, 10]) AS u(n)
                 WHERE len(t) >= n)),
         dupkeys AS (SELECT doc_id, n, ng FROM pos
           GROUP BY doc_id, n, ng HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT p.doc_id, p.n, CAST(pp AS BIGINT) AS pos
           FROM pos p JOIN dupkeys k
             ON p.doc_id = k.doc_id AND p.n = k.n AND p.ng = k.ng,
           unnest(range(p.i, p.i + p.n)) AS u(pp)),
         toklen AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             CAST(len(t[i]) AS BIGINT) AS tl
           FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM base)),
         dupw AS (SELECT c.doc_id,""" +
        (5 to 10).map(n =>
          s"\n           CAST(coalesce(sum(CASE WHEN c.n = $n THEN tl END), 0) AS BIGINT) AS dup${n}_chars")
          .mkString(",") +
        """
           FROM cov c JOIN toklen tl ON c.doc_id = tl.doc_id AND c.pos = tl.pos
           GROUP BY c.doc_id),
         fr AS (SELECT s.doc_id, s.n_lines, s.n_dup_lines,
           coalesce(d.dup_line_chars, 0) AS dup_line_chars,
           s.line_chars, s.tot_chars,
           CASE WHEN s.n_lines > 0
                THEN CAST(s.n_dup_lines AS DOUBLE) / s.n_lines
                ELSE 0.0 END AS dup_line_frac_raw,
           CASE WHEN s.line_chars > 0
                THEN CAST(coalesce(d.dup_line_chars, 0) AS DOUBLE) / s.line_chars
                ELSE 0.0 END AS dup_line_char_frac_raw,""" +
        ((2 to 4).map(n => s"top$n") ++ (5 to 10).map(n => s"dup$n")).map(p =>
          s"""
           CASE WHEN s.tot_chars > 0
                THEN CAST(coalesce(${p}_chars, 0) AS DOUBLE) / s.tot_chars
                ELSE 0.0 END AS ${p}_frac_raw""").mkString(",") +
        """
           FROM scal s LEFT JOIN dlc d USING (doc_id)
           LEFT JOIN topw USING (doc_id) LEFT JOIN dupw USING (doc_id))
         SELECT doc_id, n_lines, n_dup_lines, dup_line_chars, line_chars,
           tot_chars,
           round(dup_line_frac_raw, 6) AS dup_line_frac,
           round(dup_line_char_frac_raw, 6) AS dup_line_char_frac,""" +
        ((2 to 4).map(n => s"top$n") ++ (5 to 10).map(n => s"dup$n")).map(p =>
          s"\n           round(${p}_frac_raw, 6) AS ${p}_frac").mkString(",") +
        """,
           CAST(CASE WHEN dup_line_frac_raw <= 0.30
                      AND dup_line_char_frac_raw <= 0.20
                      AND top2_frac_raw <= 0.20 AND top3_frac_raw <= 0.18
                      AND top4_frac_raw <= 0.16 AND dup5_frac_raw <= 0.15
                      AND dup6_frac_raw <= 0.14 AND dup7_frac_raw <= 0.13
                      AND dup8_frac_raw <= 0.12 AND dup9_frac_raw <= 0.11
                      AND dup10_frac_raw <= 0.10
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM fr"""),
    // q132: the q122 scoring chain VERBATIM (shared val) wrapped as a CTE;
    // quantile_cont at binary-exact 0.25/0.75 over the fixed calibration
    // sample, cuts rounded to 6 before the bucket comparison
    "q132_perplexity_buckets" ->
      s"""WITH sc AS ($TrigramScoreOracleSql),
         cuts AS (SELECT round(quantile_cont(avg_lp, 0.25), 6) AS c_low,
                         round(quantile_cont(avg_lp, 0.75), 6) AS c_high
                  FROM sc WHERE doc_id < 200)
         SELECT doc_id, n_trigrams, avg_lp,
           CASE WHEN avg_lp >= c_high THEN 'head'
                WHEN avg_lp >= c_low THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM sc CROSS JOIN cuts""",
    // q121: string shingles stand in for the Spark side's 64-bit hashes
    // (identical counts modulo the documented ~2^-40 collision bound, the
    // q34/q58 recipe); the df cap and capped cardinalities mirror the
    // operator exactly
    "q121_containment" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
                FROM tok WHERE len(t) >= 3),
         keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
                  WHERE df <= 64),
         ex AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM keep)),
         cards AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY doc_id),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_common
                    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT d1, d2, n_common,
           round(CAST(n_common AS DOUBLE) / ca.n, 6) AS cont_a,
           round(CAST(n_common AS DOUBLE) / cb.n, 6) AS cont_b
         FROM common JOIN cards ca ON ca.doc_id = d1 JOIN cards cb ON cb.doc_id = d2
         WHERE round(CAST(n_common AS DOUBLE) / ca.n, 6) >= 0.9
            OR round(CAST(n_common AS DOUBLE) / cb.n, 6) >= 0.9""",
    // q120: add-1 smoothed bigram scoring — model CTEs mirror the q100
    // cascade; the ln chain and decimal per-doc means mirror the Spark
    // expressions parenthesis-for-parenthesis
    "q120_bigram_score" ->
      """WITH tr AS MATERIALIZED (
           SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0),
         n12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM (
             SELECT unnest(list_transform(range(2, len(t) + 1), i ->
               struct_pack(w1 := t[i - 1], w2 := t[i])), recursive := true)
             FROM tr WHERE len(t) >= 2)
           GROUP BY w1, w2),
         n1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM n12 GROUP BY w1),
         vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                FROM (SELECT unnest(t) AS w FROM tr)),
         ev AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE doc_id % 2 = 1),
         eb AS (SELECT doc_id, w1, w2 FROM (
             SELECT doc_id, unnest(list_transform(range(2, len(t) + 1), i ->
               struct_pack(w1 := t[i - 1], w2 := t[i])), recursive := true)
             FROM ev WHERE len(t) >= 2)),
         lp AS (SELECT doc_id,
                  round(ln((COALESCE(n12, 0) + 1.0) /
                    CAST(COALESCE(n1, 0) + v AS DOUBLE)), 9) AS lp
                FROM eb LEFT JOIN n12 USING (w1, w2)
                        LEFT JOIN n1 USING (w1) CROSS JOIN vv)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS avg_lp
         FROM lp GROUP BY doc_id""",
    // q113: the BM25 double chain mirrors the Spark expression
    // parenthesis-for-parenthesis (idf, then tf·(k1+1) over the length-
    // normalized denominator), per-term round 9, per-doc decimal sum
    // (order-free) rounded to 6, ties by doc_id
    "q113_bm25" ->
      s"""WITH $Bm25OracleChain,
         tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, w AS tok,
                       CAST(count(*) AS BIGINT) AS tf
                FROM ex WHERE w IN ('vector', 'join', 'scan')
                GROUP BY doc_id, dl, w),
         dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         sc AS (SELECT doc_id,
                  round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                    * ((tf * (1.2 + 1.0)) /
                       (tf + 1.2 * ((1.0 - 0.75) +
                          0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))), 9) AS score
                FROM tf JOIN dfq USING (tok) CROSS JOIN st)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
                round(CAST(sum(CAST(score AS DECIMAL(28,12))) AS DOUBLE), 6) AS bm25
         FROM sc GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id ASC LIMIT 10""",
    // q169: the q113 posting chain with the Dirichlet decomposition —
    // matched-term ln(1 + tf/μp) round-9 decimal sums + the 1-row
    // Σ ln(μp) constant − |Q|·ln(dl + μ)
    "q169_dirichlet_ql" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         st AS (SELECT CAST(sum(len(t)) AS BIGINT) AS tot FROM tok),
         ex AS (SELECT doc_id, len(t) AS dl, unnest(t) AS w FROM tok),
         tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, w AS tok,
                       CAST(count(*) AS BIGINT) AS tf
                FROM ex WHERE w IN ('vector', 'join', 'scan')
                GROUP BY doc_id, dl, w),
         mupc AS (SELECT tok,
                  round(2000.0 * CAST(sum(tf) AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                    AS mupc
                FROM tf CROSS JOIN st GROUP BY tok, tot),
         cq AS (SELECT CAST(sum(CAST(round(ln(mupc), 9) AS DECIMAL(28,12)))
                  AS DOUBLE) AS cq FROM mupc),
         sc AS (SELECT doc_id, dl,
                  round(ln(1.0 + CAST(tf AS DOUBLE) / mupc), 9) AS term_s
                FROM tf JOIN mupc USING (tok))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
           round(CAST(sum(CAST(term_s AS DECIMAL(28,12))) AS DOUBLE) + cq
             - 3.0 * round(ln(CAST(dl AS DOUBLE) + 2000.0), 9), 6) AS ql
         FROM sc CROSS JOIN cq GROUP BY doc_id, dl, cq
         ORDER BY ql DESC, doc_id ASC LIMIT 10""",
    // q114: integer scaled masses, exact integer normalizer, one double
    // division per row, integer div allocation
    "q114_temperature_mix" ->
      """WITH t AS (SELECT source,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
         s AS (SELECT source, n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) * 1000000.0)) AS BIGINT) AS s_scaled
               FROM t),
         tot AS (SELECT CAST(sum(s_scaled) AS BIGINT) AS s_total FROM s)
         SELECT source, n_tokens, s_scaled,
           CASE WHEN s_total > 0
             THEN round(CAST(s_scaled AS DOUBLE) / s_total, 9) ELSE 0.0 END AS weight,
           CASE WHEN s_total > 0
             THEN CAST((1000000 * s_scaled) // s_total AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS alloc_tokens
         FROM s CROSS JOIN tot""",
    // q115: positional self-join on 1 <= Δpos <= 3 reproduces the Spark
    // nested-transform pair generation; least/greatest canonicalization,
    // the pinned ((c12·N)·N)/((c1·c2)·Np) double chain, ln, round 9
    "q115_pmi_cooc" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         pos AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w FROM tok),
         pr AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
                FROM pos a JOIN pos b ON a.doc_id = b.doc_id
                  AND b.pos > a.pos AND b.pos <= a.pos + 3),
         c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pr GROUP BY w1, w2),
         uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY w),
         tot AS (SELECT (SELECT CAST(sum(c12) AS BIGINT) FROM c12) AS n_pairs,
                        (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_tok)
         SELECT w1, w2, c12,
           round(ln(((CAST(c12 AS DOUBLE) * n_tok) * n_tok) /
                    ((CAST(u1.c AS DOUBLE) * u2.c) * n_pairs)), 9) AS pmi
         FROM c12 JOIN uni u1 ON u1.w = c12.w1 JOIN uni u2 ON u2.w = c12.w2
         CROSS JOIN tot WHERE c12 >= 5""",
    // q112: all-integer water-filling — feasibility prefix, uniform caps,
    // div remainder unallocated
    "q112_token_budget" ->
      """WITH t AS (SELECT source, CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
         r AS (SELECT source, n_tokens,
                 CAST(row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS BIGINT) AS rn,
                 CAST(sum(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pfx,
                 CAST(count(*) OVER () AS BIGINT) AS kk
               FROM t),
         ks AS (SELECT CAST(COALESCE(max(rn), 0) AS BIGINT) AS kstar,
                  CAST(COALESCE(max(pfx), 0) AS BIGINT) AS pk
                FROM r WHERE pfx + (kk - rn) * n_tokens <= 15000)
         SELECT source, n_tokens, rn > kstar AS capped,
           CAST(CASE WHEN rn > kstar THEN least(n_tokens, (15000 - pk) // (kk - kstar))
                ELSE n_tokens END AS BIGINT) AS allocated
         FROM r CROSS JOIN ks""",
    // q110: same overlapping mod-3 snapshot split, keyed by content hash
    "q110_snapshot_diff" ->
      """WITH a AS (SELECT DISTINCT source, md5(text) AS h FROM documents
                    WHERE doc_id % 3 != 0),
         b AS (SELECT DISTINCT source, md5(text) AS h FROM documents
               WHERE doc_id % 3 != 1),
         j AS (SELECT coalesce(a.source, b.source) AS source,
                 CASE WHEN a.h IS NULL THEN 1 ELSE 0 END AS added,
                 CASE WHEN b.h IS NULL THEN 1 ELSE 0 END AS removed
               FROM a FULL OUTER JOIN b ON a.source = b.source AND a.h = b.h)
         SELECT source, CAST(sum(added) AS BIGINT) AS n_added,
           CAST(sum(removed) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN added = 0 AND removed = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
         FROM j GROUP BY source""",
    // q108: all-integer bucket arithmetic — (n_tok - 1) div 32
    "q108_length_buckets" ->
      """WITH d AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents)
         SELECT (n_tok - 1) // 32 AS bucket, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
         FROM d GROUP BY 1""",
    // q109: 2-char windows within words, top-20 by (count desc, pair asc)
    "q109_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         p AS (SELECT unnest(list_transform(range(1, length(w)),
                 i -> substr(w, CAST(i AS INT), 2))) AS pair
               FROM w WHERE length(w) >= 2)
         SELECT pair, count(*) AS cnt FROM p GROUP BY pair
         ORDER BY cnt DESC, pair ASC LIMIT 20""",
    // q104: string shingles instead of the engine's 64-bit hashes — set-
    // identical modulo ~2^-64 collisions (the q34 contract)
    "q104_source_overlap" ->
      """WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT source, unnest(list_distinct(list_transform(range(1, len(t) - 1),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
                FROM tok WHERE len(t) >= 3),
         sets AS (SELECT DISTINCT source, s FROM sh),
         card AS (SELECT source, count(*) AS n FROM sets GROUP BY source),
         inter AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_inter
                   FROM sets a JOIN sets b ON a.s = b.s AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT s1, s2, ca.n AS n1, cb.n AS n2, n_inter,
           CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard
         FROM inter JOIN card ca ON ca.source = s1 JOIN card cb ON cb.source = s2""",
    "q107_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
                FROM tok WHERE len(t) >= 3),
         dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
         SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
         FROM sh JOIN dfreq USING (s) GROUP BY doc_id""",
    "q38_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
         GROUP BY word""",
    "q39_word_stats" ->
      """SELECT count(DISTINCT word) AS n_distinct, count(*) AS n_words,
         CAST(sum(length(word)) AS DOUBLE) / count(*) AS avg_len
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t""",
    "q30_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
         CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS sum_bpe,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""",
    "q31_quality" ->
      s"""SELECT doc_id,
          len(string_split(text, ' ')) AS n_tok,
          len(list_filter(string_split(text, ' '), x -> x IN ($StopListSql))) AS n_stop,
          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
          n_chars,
          CAST(len(list_filter(string_split(text, ' '), x -> x IN ($StopListSql))) AS DOUBLE)
            / len(string_split(text, ' ')) AS stop_ratio,
          CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_tok_len
          FROM documents""",
    "q32_langid" ->
      """WITH scored AS (SELECT doc_id, lang AS label,
           len(list_filter(string_split(text,' '), x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','est'))) AS s_fr,
           len(list_filter(string_split(text,' '), x -> x IN ('el','la','y','es'))) AS s_es,
           len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist'))) AS s_de
         FROM documents)
         SELECT label,
           CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS pred,
           count(*) AS n
         FROM scored GROUP BY 1, 2""",
    "q33_exact_dedup" ->
      """WITH groups AS (SELECT md5(text) AS h, min(doc_id) AS canonical_id, count(*) AS n_copies
           FROM documents GROUP BY md5(text))
         SELECT n_copies, count(*) AS n_groups, min(canonical_id) AS min_canonical
         FROM groups GROUP BY n_copies""",
    "q34_ngram_jaccard" -> JaccardPairsOracle,
    // rolling fingerprint verified via HUGEINT modular reduce (fresh hash
    // of each 8-gram equals the rolling form by modular identity)
    "q37_fingerprint" ->
      """WITH f AS (SELECT doc_id, text,
           CAST(list_reduce(
             list_prepend(CAST(0 AS HUGEINT), list_transform(regexp_split_to_array(text, ''), c -> CAST(ascii(c) AS HUGEINT))),
             (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) AS fp_full
           FROM documents)
         SELECT doc_id, fp_full,
           CASE WHEN length(text) >= 8 THEN
             CAST(list_min(list_transform(range(1, length(text) - 6),
               i -> list_reduce(
                 list_prepend(CAST(0 AS HUGEINT), list_transform(regexp_split_to_array(substr(text, CAST(i AS INT), 8), ''), c -> CAST(ascii(c) AS HUGEINT))),
                 (acc, x) -> (acc * 257 + x) % 2305843009213693951))) AS BIGINT)
           ELSE fp_full END AS fp_win
         FROM f""",
    "q63_chunking" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         chunks AS (
           SELECT doc_id,
             unnest(range(0, CAST(floor((len(t) - 1) / 24.0) AS INT) + 1)) AS chunk_idx,
             t
           FROM tok)
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(t[chunk_idx * 24 + 1 : least(chunk_idx * 24 + 32, len(t))]) AS INT) AS chunk_len,
           md5(array_to_string(t[chunk_idx * 24 + 1 : least(chunk_idx * 24 + 32, len(t))], ' ')) AS chunk_hash
         FROM chunks""",
    "q64_packing" ->
      """WITH d AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
         r AS (SELECT lang, doc_id, n_tok,
                 sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
               FROM d)
         SELECT lang, CAST(floor((running - n_tok) / 8192.0) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
         FROM r GROUP BY 1, 2""",
    "q65_hash_sample" ->
      """SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE md5(text) < '1a' GROUP BY lang""",
    // q184: the q64 running sum once, all grid sizes reduced in the same
    // group-keyed aggregate, one fill division per cell
    "q184_packing_sweep" ->
      """WITH d AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok
           FROM documents),
         r AS (SELECT lang, doc_id, n_tok,
                 sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
               FROM d),
         w AS (SELECT lang,
             CAST(max(floor((running - n_tok) / 1024.0)) + 1 AS BIGINT) AS b1024,
             CAST(max(floor((running - n_tok) / 2048.0)) + 1 AS BIGINT) AS b2048,
             CAST(max(floor((running - n_tok) / 4096.0)) + 1 AS BIGINT) AS b4096,
             CAST(max(floor((running - n_tok) / 8192.0)) + 1 AS BIGINT) AS b8192,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens
           FROM r GROUP BY lang),
         u AS (SELECT lang, n_docs, total_tokens,
             unnest([{'bin_size': CAST(1024 AS BIGINT), 'n_bins': b1024},
                     {'bin_size': CAST(2048 AS BIGINT), 'n_bins': b2048},
                     {'bin_size': CAST(4096 AS BIGINT), 'n_bins': b4096},
                     {'bin_size': CAST(8192 AS BIGINT), 'n_bins': b8192}],
                    recursive := true)
           FROM w)
         SELECT lang, bin_size, n_docs, total_tokens, n_bins,
           round(CAST(total_tokens AS DOUBLE)
             / CAST(n_bins * bin_size AS DOUBLE), 6) AS fill
         FROM u""",
    "q102_phrases" ->
      """WITH tt AS (SELECT string_split(text, ' ') AS t FROM documents),
         u AS (SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM tt) GROUP BY w),
         nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
         px AS (SELECT unnest(range(2, len(t) + 1)) AS i, t FROM tt WHERE len(t) >= 2),
         pr AS (SELECT t[i-1] AS w1, t[i] AS w2 FROM px),
         cb AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2
                HAVING count(*) > 5)
         SELECT cb.w1, cb.w2, cb.c12, u1.c AS c1, u2.c AS c2,
           round(CAST((cb.c12 - 5) * nn.n AS DOUBLE)
                 / CAST(u1.c * u2.c AS DOUBLE), 6) AS score
         FROM cb JOIN u u1 ON u1.w = cb.w1
                 JOIN u u2 ON u2.w = cb.w2
                 CROSS JOIN nn""",
    "q100_bigram_model" ->
      """WITH tt AS (SELECT string_split(text, ' ') AS t FROM documents
                     WHERE len(string_split(text, ' ')) >= 2),
         px AS (SELECT unnest(range(2, len(t) + 1)) AS i, t FROM tt),
         pr AS (SELECT t[i-1] AS w1, t[i] AS w2 FROM px),
         cb AS (SELECT w1, w2, count(*) AS n12 FROM pr GROUP BY w1, w2),
         cu AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM cb GROUP BY w1)
         SELECT cb.w1, cb.w2, cb.n12, cu.n1,
           round(CAST(cb.n12 AS DOUBLE) / CAST(cu.n1 AS DOUBLE), 6) AS cond_p
         FROM cb JOIN cu ON cb.w1 = cu.w1""",
    "q99_vocab" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         c AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok),
         v AS (SELECT tok, freq FROM c ORDER BY freq DESC, tok ASC LIMIT 20)
         SELECT row_number() OVER (ORDER BY freq DESC, tok ASC) AS id, tok, freq
         FROM v""",
    // q95: same 52-bit content-hash uniform, A-ES priority ln(u)/w rounded
    // to 9 (the cross-engine ln recipe); ties broken by doc_id in BOTH
    // engines so the top-K boundary is deterministic
    "q95_weighted_sample" ->
      """SELECT doc_id, lang, n_chars,
           round(ln((CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) + 1)
                    / 4503599627370496.0) / CAST(n_chars AS DOUBLE), 9) AS skey
         FROM documents
         ORDER BY skey DESC, doc_id ASC LIMIT 64""",
    "q71_decontaminate" ->
      """WITH sp AS (SELECT doc_id, lang, string_split(text, ' ') AS t,
                       doc_id < 32 AS is_eval
                     FROM documents),
         sh AS (SELECT doc_id, lang, is_eval,
                  unnest(list_distinct(list_transform(range(1, len(t) - 11),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5],
                                   t[i+6], t[i+7], t[i+8], t[i+9], t[i+10], t[i+11], t[i+12])))) AS s
                FROM sp WHERE len(t) >= 13),
         ev AS (SELECT DISTINCT s FROM sh WHERE is_eval),
         contam AS (SELECT DISTINCT doc_id, lang FROM sh
                    WHERE NOT is_eval AND s IN (SELECT s FROM ev)),
         tr AS (SELECT lang, count(*) AS n_train FROM sp WHERE NOT is_eval GROUP BY lang),
         cc AS (SELECT lang, count(*) AS n_contaminated FROM contam GROUP BY lang)
         SELECT tr.lang, n_train, COALESCE(n_contaminated, 0) AS n_contaminated
         FROM tr LEFT JOIN cc ON tr.lang = cc.lang""",
    "q72_shards" ->
      """SELECT doc_id, substr(md5(text), 1, 2) AS shard,
           row_number() OVER (PARTITION BY substr(md5(text), 1, 2)
                              ORDER BY md5(text) ASC, doc_id ASC) AS pos
         FROM documents""",
    "q73_pii_redact" ->
      s"""WITH planted AS (SELECT lang,
            text || ' contact user' || doc_id || '@mail.example.com or +1 555-123-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS text
          FROM documents),
          red AS (SELECT lang,
            regexp_replace(
              regexp_replace(text, '$EmailRe', '[EMAIL]', 'g'),
              '$PhoneRe', '[PHONE]', 'g') AS text
          FROM planted)
          SELECT lang, count(*) AS n_docs,
            CAST(sum(length(text)) AS BIGINT) AS sum_len,
            CAST(sum((length(text) - length(replace(text, '[EMAIL]', ''))) / 7) AS BIGINT) AS n_emails,
            CAST(sum((length(text) - length(replace(text, '[PHONE]', ''))) / 7) AS BIGINT) AS n_phones
          FROM red GROUP BY lang""",
    "q74_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_sampled,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM documents
          WHERE substr(md5(text), 1, 8) < $stratOracleCase
          GROUP BY lang""",
    "q76_repetition" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         big AS (SELECT doc_id, lang,
           CAST(len(t) - 1 AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1]))) AS BIGINT) AS n_distinct_bigrams,
           CAST(len(t) AS BIGINT) AS n_tok
           FROM tok WHERE len(t) >= 2),
         tt AS (SELECT doc_id, max(c) AS max_tok_cnt FROM (
           SELECT doc_id, w, count(*) AS c FROM (
             SELECT doc_id, unnest(t) AS w FROM tok WHERE len(t) >= 2) GROUP BY doc_id, w)
           GROUP BY doc_id)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
           CAST(sum(n_distinct_bigrams) AS BIGINT) AS sum_distinct_bigrams,
           CAST(sum(max_tok_cnt) AS BIGINT) AS sum_max_tok,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok
         FROM big JOIN tt USING (doc_id) GROUP BY lang""",
    "q77_mix_weights" ->
      """WITH per_source AS (SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
         FROM documents GROUP BY source),
         m AS (SELECT min(tok) AS min_tok FROM per_source)
         SELECT source, n_docs, tok,
           CAST(min_tok AS DOUBLE) / tok AS keep_rate
         FROM per_source CROSS JOIN m""",
    // lines are fixed 2-token segments; hot = top-25 by (cnt desc, line
    // asc) — the same fully-deterministic order the Spark top-K reduction
    // cuts, so the boilerplate sets agree exactly
    "q80_line_dedup" ->
      """WITH tok AS MATERIALIZED (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         lines AS MATERIALIZED (
           SELECT doc_id, i AS pos,
                  array_to_string(list_slice(t, i*2+1, i*2+2), ' ') AS line
           FROM tok, LATERAL unnest(
             generate_series(0, CAST(ceil(len(t)/2.0) AS BIGINT) - 1)) AS u(i)),
         hot AS MATERIALIZED (
           SELECT line FROM (SELECT line, count(*) AS cnt FROM lines
                             GROUP BY line ORDER BY cnt DESC, line ASC
                             LIMIT 25) t),
         kept AS (SELECT l.doc_id, l.pos, l.line
                  FROM lines l ANTI JOIN hot h USING (line))
         SELECT s.doc_id, s.n_lines_doc, coalesce(k.n_kept, 0) AS n_kept,
                coalesce(k.text_dedup, '') AS text_dedup
         FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_doc
               FROM lines GROUP BY doc_id) s
         LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                           string_agg(line, ' ' ORDER BY pos) AS text_dedup
                    FROM kept GROUP BY doc_id) k USING (doc_id)""",
    // the naive single-window rank — the Spark side's two-level ranking
    // must equal it row-for-row
    "q81_source_quota" ->
      """SELECT source, rk, doc_id FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(text), doc_id) AS rk
           FROM documents) t
         WHERE rk <= 15""",
    "q57_tfidf" ->
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
         df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, tf.word, tf, df,
           round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) AS tfidf
         FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
         WHERE round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) >= 3.0""",
    "q58_dedup_components" ->
      s"""$ComponentsOracleCtes
         SELECT n AS doc_id, least(n, min(m)) AS comp FROM reach GROUP BY n""",
    // canonical pick rides the SAME component CTEs plus a per-component
    // rank by (n_tok desc, doc_id asc) — the naive window IS the oracle;
    // the Spark side partitions its window by comp (clusters are small by
    // dedup semantics, never corpus-sized)
    "q82_canonical_pick" ->
      s"""$ComponentsOracleCtes,
         comp AS (SELECT n AS doc_id, least(n, min(m)) AS comp
                  FROM reach GROUP BY n),
         lens AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                  FROM documents)
         SELECT comp, doc_id, n_tok, rk = 1 AS canonical FROM (
           SELECT c.comp, c.doc_id, l.n_tok,
             row_number() OVER (PARTITION BY c.comp
               ORDER BY l.n_tok DESC, c.doc_id ASC) AS rk
           FROM comp c JOIN lens l USING (doc_id)) t""",
    // q83: same md5 span keys as the Spark side (md5 proven cross-engine
    // by q63's chunk hashes); list_distinct AFTER the md5 transform
    // mirrors array_distinct over the transformed array
    "q83_dup_ngrams" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS MATERIALIZED (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 6),
             i -> md5(array_to_string(list_slice(t, i, i + 7), ' '))))) AS g
           FROM tok WHERE len(t) >= 8),
         df AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
         SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         FROM sh s JOIN df d USING (g)
         GROUP BY s.doc_id
         HAVING sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) > 0""",
    // q84: generate_subscripts aligns with unnest (the q42 pattern);
    // positions re-sorted inside string_agg exactly like the Spark
    // aggregate's array_sort
    "q84_inverted_index" ->
      """WITH p AS (
           SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS token
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
         SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf,
                string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
         FROM p GROUP BY token, doc_id""",
    // q88: per-token ln as a scalar (q57's cross-engine shape) rounded to
    // 9 digits, per-doc mean over exact decimal sums (q42 pattern, order-
    // free); the division and final round mirror the Spark expression
    "q88_unigram_logprob" ->
      """WITH w AS MATERIALIZED (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         lp AS (SELECT doc_id, round(ln(CAST(cnt AS DOUBLE) / total), 9) AS lp
                FROM w JOIN c USING (word) CROSS JOIN t)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                round(CAST(sum(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS avg_logprob
         FROM lp GROUP BY doc_id""",
    // q36 simhash: the oracle regenerates every simhash bit in SQL — the
    // per-token Karp-Rabin hash as a HUGEINT modular fold (the q37
    // pattern), the per-bit ±1 majority vote via a range(60) cross join,
    // and the hamming filter directly on all pairs (banding is exact for
    // hamming <= 3 by pigeonhole, so the band join and the all-pairs
    // filter produce the same set).
    "q36_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         h AS (SELECT doc_id, CAST((list_reduce(
                 list_prepend(CAST(0 AS HUGEINT), list_transform(regexp_split_to_array(w, ''), c -> CAST(ascii(c) AS HUGEINT))),
                 (acc, x) -> (acc * 257 + x) % 2305843009213693951)
                 * 2004640138488879447) % 2305843009213693951 AS BIGINT) AS hv
               FROM tok),
         bits AS (SELECT doc_id, b,
                    sum(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS acc
                  FROM h CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
         sim AS (SELECT doc_id,
                   CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
                 FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS d1, b.doc_id AS d2,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    // q159: vocab = top-500 shingles of the even half (freq desc, shingle
    // asc — the engine's bounded-heap order); OOV measured on the odd half
    "q159_oov_rate" ->
      """WITH sh AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_transform(
             range(1, greatest(len(t0) - 2, 1) + 1),
             i -> array_to_string(list_slice(t0, i, i + 2), ' '))) AS w
           FROM (SELECT doc_id, source, string_split(text, ' ') AS t0
                 FROM documents)),
         voc AS MATERIALIZED (
           SELECT w FROM (
             SELECT w, CAST(count(*) AS BIGINT) AS freq
             FROM sh WHERE doc_id % 2 = 0 GROUP BY w)
           ORDER BY freq DESC, w ASC LIMIT 500)
         SELECT s.source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS BIGINT), 6) AS oov_rate
         FROM sh s LEFT JOIN voc v ON v.w = s.w
         WHERE s.doc_id % 2 = 1
         GROUP BY s.source
         ORDER BY s.source""",
    // q160: the same shingle stream; mass = floor(sqrt(freq*sqrt(freq))
    // * 1e6) — two correctly-rounded sqrts, bit-identical both engines;
    // exact integer normalizer, one round-6 division
    "q160_neg_sampling" ->
      """WITH f AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE)
               * sqrt(CAST(count(*) AS DOUBLE))) * 1000000.0) AS BIGINT) AS s_scaled
           FROM (SELECT unnest(list_transform(
                   range(1, greatest(len(t0) - 2, 1) + 1),
                   i -> array_to_string(list_slice(t0, i, i + 2), ' '))) AS w
                 FROM (SELECT string_split(text, ' ') AS t0 FROM documents))
           GROUP BY w),
         tot AS (SELECT CAST(sum(s_scaled) AS BIGINT) AS s_total FROM f)
         SELECT w, freq, s_scaled,
           round(CAST(s_scaled AS DOUBLE) / CAST(s_total AS DOUBLE), 6) AS prob
         FROM f CROSS JOIN tot
         ORDER BY freq DESC, w ASC LIMIT 50""",
    // q158: the q148 shingle derivation; count-of-counts, the N_{r+1}
    // self-lookup and the Chen-Goodman discount all mirror; integer
    // until the two round-6 divisions
    "q158_good_turing" ->
      """WITH tok AS (
           SELECT source, list_transform(range(1, greatest(len(t0) - 2, 1) + 1),
             i -> array_to_string(list_slice(t0, i, i + 2), ' ')) AS t
           FROM (SELECT source, string_split(text, ' ') AS t0 FROM documents)),
         f AS (SELECT source, w, CAST(count(*) AS BIGINT) AS r
               FROM (SELECT source, unnest(t) AS w FROM tok)
               GROUP BY source, w),
         cc AS MATERIALIZED (
           SELECT source, r, CAST(count(*) AS BIGINT) AS n_r
           FROM f WHERE r <= 11 GROUP BY source, r),
         d AS (SELECT source,
             round(CAST(sum(CASE WHEN r = 1 THEN n_r END) AS DOUBLE) /
               CAST(sum(CASE WHEN r = 1 THEN n_r END)
                 + 2 * sum(CASE WHEN r = 2 THEN n_r END) AS DOUBLE), 6) AS kn_discount
           FROM cc GROUP BY source)
         SELECT c.source, c.r, c.n_r,
           CAST(coalesce(n2.n_r, 0) AS BIGINT) AS n_r_plus1,
           round(CAST(c.r + 1 AS DOUBLE) * coalesce(n2.n_r, 0)
             / CAST(c.n_r AS DOUBLE), 6) AS r_star,
           d.kn_discount
         FROM cc c
         LEFT JOIN cc n2 ON n2.source = c.source AND n2.r = c.r + 1
         LEFT JOIN d ON d.source = c.source
         WHERE c.r <= 10
         ORDER BY c.source, c.r""",
    // q157: pass 1 is the q113 recipe; the relevance model runs over the
    // 5 feedback docs only; term weights round 9 (matching the engine's
    // pre-collect rounding); pass 2 mirrors the q113 chain with the
    // weight multiplied OUTSIDE the idf*tfpart product, same assoc
    "q157_rm3_expansion" ->
      s"""WITH $Bm25OracleChain,
         tf1 AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, w AS tok,
                        CAST(count(*) AS BIGINT) AS tf
                 FROM ex WHERE w IN ('vector', 'join', 'scan')
                 GROUP BY doc_id, dl, w),
         dfq1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY tok),
         sc1 AS (SELECT doc_id,
                   round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * ((tf * (1.2 + 1.0)) /
                        (tf + 1.2 * ((1.0 - 0.75) +
                           0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))), 9) AS score
                 FROM tf1 JOIN dfq1 USING (tok) CROSS JOIN st),
         fb AS MATERIALIZED (
           SELECT doc_id, round(CAST(sum(CAST(score AS DECIMAL(28,12))) AS DOUBLE), 6) AS bm25
           FROM sc1 GROUP BY doc_id
           ORDER BY bm25 DESC, doc_id ASC LIMIT 5),
         fbtot AS (SELECT sum(CAST(bm25 AS DECIMAL(28,12))) AS tot FROM fb),
         wdt AS (SELECT doc_id, bm25 / CAST(tot AS DOUBLE) AS wd
                 FROM fb CROSS JOIN fbtot),
         rmagg AS (SELECT e.w, wdt.wd, e.dl, CAST(count(*) AS BIGINT) AS tfw
                   FROM ex e JOIN wdt ON wdt.doc_id = e.doc_id
                   GROUP BY e.doc_id, wdt.wd, e.dl, e.w),
         rmc AS (SELECT w,
                   sum(CAST(round(wd * (CAST(tfw AS DOUBLE) / dl), 9)
                     AS DECIMAL(28,12))) AS prs
                 FROM rmagg
                 WHERE w NOT IN ('vector', 'join', 'scan')
                 GROUP BY w),
         etop AS MATERIALIZED (
           SELECT w, prs FROM rmc ORDER BY prs DESC, w ASC LIMIT 5),
         etot AS (SELECT sum(prs) AS etot FROM etop),
         qw AS MATERIALIZED (
           SELECT w, round(0.4 * (CAST(prs AS DOUBLE) / CAST(etot AS DOUBLE)), 9) AS qw
           FROM etop CROSS JOIN etot
           UNION ALL
           SELECT unnest(['vector', 'join', 'scan']) AS w, round(0.6 / 3, 9) AS qw),
         tf2 AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, w AS tok,
                        CAST(count(*) AS BIGINT) AS tf
                 FROM ex WHERE w IN (SELECT w FROM qw)
                 GROUP BY doc_id, dl, w),
         df2 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY tok),
         sc2 AS (SELECT doc_id,
                   round(q.qw * (ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * ((tf * (1.2 + 1.0)) /
                        (tf + 1.2 * ((1.0 - 0.75) +
                           0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl))))), 9) AS score
                 FROM tf2 JOIN df2 USING (tok) JOIN qw q ON q.w = tf2.tok
                 CROSS JOIN st)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
                round(CAST(sum(CAST(score AS DECIMAL(28,12))) AS DOUBLE), 6) AS rm3
         FROM sc2 GROUP BY doc_id
         ORDER BY rm3 DESC, doc_id ASC LIMIT 10""",
    // q156: model tables from the even half, eval on the odd half; the
    // CASE chain and every cast/association mirror the operator exactly;
    // ln round 9, per-doc decimal mean round 6
    // q161: nDCG@10 + AP@10 — the scoring CTE is the q113 per-term chain,
    // rankings pin (score desc, doc_id) / (rel desc, doc_id) tie-breaks,
    // gains are CASE integers (no pow), discounts/precisions round to 9
    // and sum as decimals, finals round to 6
    // q177: the q161 scoring CTEs cut to the binary-relevance top-k;
    // rr as max of round-9 reciprocals (monotone in rank)
    "q177_mrr" ->
      s"""WITH $Bm25OracleChain,
         tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, w AS term,
                       CAST(count(*) AS BIGINT) AS tf
                FROM ex WHERE w IN ('vector', 'join', 'scan')
                GROUP BY doc_id, dl, w),
         dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         sc AS (SELECT term, doc_id,
                  round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                    * ((tf * (1.2 + 1.0)) /
                       (tf + 1.2 * ((1.0 - 0.75) +
                          0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))), 9) AS score,
                  CASE WHEN tf >= 2 THEN CAST(1 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS relb
                FROM tf JOIN dfq USING (term) CROSS JOIN st),
         sys AS (SELECT term, relb, rk FROM (
             SELECT term, relb, CAST(row_number() OVER (
                 PARTITION BY term ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
             FROM sc) WHERE rk <= 10)
         SELECT term, CAST(sum(relb) AS BIGINT) AS n_rel_topk,
           CAST(coalesce(min(CASE WHEN relb = 1 THEN rk END), 0) AS BIGINT)
             AS first_rel_rank,
           coalesce(max(CASE WHEN relb = 1
             THEN round(1.0 / CAST(rk AS DOUBLE), 9) END), 0.0) AS rr
         FROM sys GROUP BY term""",
    "q161_ndcg" ->
      s"""WITH $Bm25OracleChain,
         tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, w AS term,
                       CAST(count(*) AS BIGINT) AS tf
                FROM ex WHERE w IN ('vector', 'join', 'scan')
                GROUP BY doc_id, dl, w),
         dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         sc AS (SELECT term, doc_id,
                  round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                    * ((tf * (1.2 + 1.0)) /
                       (tf + 1.2 * ((1.0 - 0.75) +
                          0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))), 9) AS score,
                  CAST(least(tf, 3) AS BIGINT) AS rel,
                  CASE WHEN tf >= 2 THEN CAST(1 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS relb
                FROM tf JOIN dfq USING (term) CROSS JOIN st),
         sys AS (SELECT term, doc_id, rel, relb, rk FROM (
             SELECT term, doc_id, rel, relb, CAST(row_number() OVER (
                 PARTITION BY term ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
             FROM sc) WHERE rk <= 10),
         dcg AS (SELECT term, sum(CAST(round(
               (CASE rel WHEN 1 THEN 1.0 WHEN 2 THEN 3.0 ELSE 7.0 END)
                 / ln(CAST(rk + 1 AS DOUBLE)), 9) AS DECIMAL(28, 12))) AS dcg_d
             FROM sys GROUP BY term),
         ideal AS (SELECT term, rel, rk FROM (
             SELECT term, rel, CAST(row_number() OVER (
                 PARTITION BY term ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS rk
             FROM sc) WHERE rk <= 10),
         idcg AS (SELECT term, sum(CAST(round(
               (CASE rel WHEN 1 THEN 1.0 WHEN 2 THEN 3.0 ELSE 7.0 END)
                 / ln(CAST(rk + 1 AS DOUBLE)), 9) AS DECIMAL(28, 12))) AS idcg_d
             FROM ideal GROUP BY term),
         nrel AS (SELECT term, CAST(sum(relb) AS BIGINT) AS n_rel
             FROM sc GROUP BY term),
         apc AS (SELECT term, relb, rk, CAST(sum(relb) OVER (
               PARTITION BY term ORDER BY rk ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM sys),
         ap AS (SELECT term, sum(CASE WHEN relb = 1
               THEN CAST(round(CAST(cum AS DOUBLE) / CAST(rk AS DOUBLE), 9)
                         AS DECIMAL(28, 12))
               ELSE CAST(0.0 AS DECIMAL(28, 12)) END) AS ap_d
             FROM apc GROUP BY term)
         SELECT term, n_rel,
           round(CAST(dcg_d AS DOUBLE), 6) AS dcg,
           round(CAST(idcg_d AS DOUBLE), 6) AS idcg,
           round(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6) AS ndcg,
           CASE WHEN n_rel > 0
             THEN round(CAST(ap_d AS DOUBLE) / CAST(least(n_rel, 10) AS DOUBLE), 6)
             ELSE 0.0 END AS ap
         FROM dcg JOIN idcg USING (term) JOIN nrel USING (term)
           JOIN ap USING (term)""",
    // q162: Witten–Bell — the q156 CTE scaffold with a unigram-count table
    // in place of the continuation table; λ and 1−λ are spelled as the two
    // explicit c1+n1f ratios so both engines run the identical double chain
    // q179: the q162 CTE skeleton with the fixed λ/1−λ literal mix —
    // both weights pinned, unseen histories fall to the add-1 unigram
    "q179_jelinek_mercer" ->
      """WITH tr AS MATERIALIZED (
           SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0),
         bg AS MATERIALIZED (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
             SELECT t[i - 1] AS w1, t[i] AS w2 FROM (
               SELECT t, unnest(range(2, len(t) + 1)) AS i FROM tr
               WHERE len(t) >= 2))
           GROUP BY w1, w2),
         n1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
         uni AS (SELECT w AS w2, CAST(count(*) AS BIGINT) AS cu
             FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
         tot AS (SELECT CAST(sum(cu) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS v FROM uni),
         ev AS (SELECT doc_id, t[i - 1] AS w1, t[i] AS w2 FROM (
             SELECT doc_id, t, unnest(range(2, len(t) + 1)) AS i FROM (
               SELECT doc_id, string_split(text, ' ') AS t FROM documents
               WHERE doc_id % 2 = 1)
             WHERE len(t) >= 2)),
         j AS (SELECT e.doc_id, bg.c12, n1.c1, uni.cu, tot.nn, tot.v
           FROM ev e LEFT JOIN bg ON bg.w1 = e.w1 AND bg.w2 = e.w2
           LEFT JOIN n1 ON n1.w1 = e.w1
           LEFT JOIN uni ON uni.w2 = e.w2
           CROSS JOIN tot),
         lp AS (SELECT doc_id, round(ln(
             CASE WHEN c1 IS NULL
               THEN (coalesce(cu, 0) + 1.0) / CAST(nn + v AS DOUBLE)
               ELSE CAST(0.7 AS DOUBLE)
                   * (CAST(coalesce(c12, 0) AS DOUBLE) / CAST(c1 AS DOUBLE))
                 + CAST(0.3 AS DOUBLE)
                   * ((coalesce(cu, 0) + 1.0) / CAST(nn + v AS DOUBLE))
             END), 9) AS lp
           FROM j)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(lp AS DECIMAL(28, 12))) AS DOUBLE)
             / count(*), 6) AS avg_lp
         FROM lp GROUP BY doc_id""",
    "q162_witten_bell" ->
      """WITH tr AS MATERIALIZED (
           SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0),
         bg AS MATERIALIZED (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
             SELECT t[i - 1] AS w1, t[i] AS w2 FROM (
               SELECT t, unnest(range(2, len(t) + 1)) AS i FROM tr
               WHERE len(t) >= 2))
           GROUP BY w1, w2),
         n1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1f FROM bg GROUP BY w1),
         uni AS (SELECT w AS w2, CAST(count(*) AS BIGINT) AS cu
             FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
         tot AS (SELECT CAST(sum(cu) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS v FROM uni),
         ev AS (SELECT doc_id, t[i - 1] AS w1, t[i] AS w2 FROM (
             SELECT doc_id, t, unnest(range(2, len(t) + 1)) AS i FROM (
               SELECT doc_id, string_split(text, ' ') AS t FROM documents
               WHERE doc_id % 2 = 1)
             WHERE len(t) >= 2)),
         j AS (SELECT e.doc_id, bg.c12, n1.c1, n1.n1f, uni.cu, tot.nn, tot.v
           FROM ev e LEFT JOIN bg ON bg.w1 = e.w1 AND bg.w2 = e.w2
           LEFT JOIN n1 ON n1.w1 = e.w1
           LEFT JOIN uni ON uni.w2 = e.w2
           CROSS JOIN tot),
         lp AS (SELECT doc_id, round(ln(
             CASE WHEN c1 IS NULL
               THEN (coalesce(cu, 0) + 1.0) / CAST(nn + v AS DOUBLE)
               ELSE (CAST(c1 AS DOUBLE) / CAST(c1 + n1f AS DOUBLE))
                   * (CAST(coalesce(c12, 0) AS DOUBLE) / CAST(c1 AS DOUBLE))
                 + (CAST(n1f AS DOUBLE) / CAST(c1 + n1f AS DOUBLE))
                   * ((coalesce(cu, 0) + 1.0) / CAST(nn + v AS DOUBLE))
             END), 9) AS lp
           FROM j)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(lp AS DECIMAL(28, 12))) AS DOUBLE)
             / count(*), 6) AS avg_lp
         FROM lp GROUP BY doc_id""",
    "q156_kneser_ney" ->
      """WITH tr AS MATERIALIZED (
           SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0),
         bg AS MATERIALIZED (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
             SELECT t[i - 1] AS w1, t[i] AS w2 FROM (
               SELECT t, unnest(range(2, len(t) + 1)) AS i FROM tr
               WHERE len(t) >= 2))
           GROUP BY w1, w2),
         n1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1f FROM bg GROUP BY w1),
         nb AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bg GROUP BY w2),
         tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM bg) AS t_types,
             (SELECT CAST(count(DISTINCT w) AS BIGINT)
              FROM (SELECT unnest(t) AS w FROM tr)) AS v),
         ev AS (SELECT doc_id, t[i - 1] AS w1, t[i] AS w2 FROM (
             SELECT doc_id, t, unnest(range(2, len(t) + 1)) AS i FROM (
               SELECT doc_id, string_split(text, ' ') AS t FROM documents
               WHERE doc_id % 2 = 1)
             WHERE len(t) >= 2)),
         j AS (SELECT e.doc_id, bg.c12, n1.c1, n1.n1f, nb.n1b, tot.t_types, tot.v
           FROM ev e LEFT JOIN bg ON bg.w1 = e.w1 AND bg.w2 = e.w2
           LEFT JOIN n1 ON n1.w1 = e.w1
           LEFT JOIN nb ON nb.w2 = e.w2
           CROSS JOIN tot),
         lp AS (SELECT doc_id, round(ln(
             CASE WHEN c1 IS NULL
               THEN (coalesce(n1b, 0) + 1.0) / CAST(t_types + v AS DOUBLE)
               ELSE greatest(CAST(coalesce(c12, 0) AS DOUBLE) - 0.75, 0.0)
                   / CAST(c1 AS DOUBLE)
                 + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
                   * ((coalesce(n1b, 0) + 1.0) / CAST(t_types + v AS DOUBLE))
             END), 9) AS lp
           FROM j)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(lp AS DECIMAL(28, 12))) AS DOUBLE)
             / count(*), 6) AS avg_lp
         FROM lp GROUP BY doc_id""",
    // q154: the same sorted-distinct fold — list_sort(list_distinct) on
    // this ASCII corpus orders identically to array_sort, each term
    // rounds to 9, the fold is left-to-right in that order, finish 6;
    // empty docs short-circuit to exact 0.0 (mirrors the engine's guard)
    "q154_char_entropy" ->
      """SELECT doc_id,
           CAST(len(text) AS BIGINT) AS text_len,
           CAST(len(list_distinct(list_transform(range(1, len(text) + 1),
             i -> text[i]))) AS BIGINT) AS n_distinct,
           CASE WHEN len(text) = 0 THEN 0.0 ELSE
           round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list_distinct(list_transform(range(1, len(text) + 1),
               i -> text[i]))),
               c -> round((CAST(len(list_filter(list_transform(range(1, len(text) + 1),
                 i -> text[i]), x -> x = c)) AS DOUBLE) / len(text))
                 * ln((CAST(len(list_filter(list_transform(range(1, len(text) + 1),
                 i -> text[i]), x -> x = c)) AS DOUBLE) / len(text))), 9))),
             (a, x) -> a + x), 6) END AS entropy
         FROM documents""",
    // q150: same non-overlapping 4-token chunk derivation; df is
    // count(DISTINCT doc_id) per chunk string (md5 keying on the Spark
    // side is identity-preserving), fraction = one pinned division
    "q150_paragraph_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         occ AS MATERIALIZED (
           SELECT doc_id, unnest(list_transform(
             range(1, CAST(ceil(len(t) / 4.0) AS BIGINT) + 1),
             i -> array_to_string(list_slice(t, (i - 1) * 4 + 1, (i - 1) * 4 + 4), ' '))) AS para
           FROM tok),
         dfreq AS (SELECT para, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                   FROM occ GROUP BY para)
         SELECT o.doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
           CAST(sum(len(o.para)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN d.df >= 2 THEN len(o.para) ELSE 0 END) AS BIGINT) AS dup_chars,
           round(CAST(sum(CASE WHEN d.df >= 2 THEN len(o.para) ELSE 0 END) AS DOUBLE)
             / CAST(sum(len(o.para)) AS BIGINT), 6) AS dup_char_fraction,
           CAST(CASE WHEN CAST(sum(CASE WHEN d.df >= 2 THEN len(o.para) ELSE 0 END) AS DOUBLE)
             / CAST(sum(len(o.para)) AS BIGINT) <= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM occ o JOIN dfreq d ON d.para = o.para
         GROUP BY o.doc_id""",
    // q149: candidates + exact side are the q35 all-pairs Jaccard recipe;
    // the estimator side recomputes the SAME 16 affine-over-31-ary-poly
    // min-hashes (exact integer folds in both engines), n_agree/16 is an
    // exact binary double, abs_err rounds the difference of identical
    // raw doubles
    "q149_minhash_error" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS MATERIALIZED (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
           FROM tok WHERE len(t) >= 3),
         card AS (SELECT doc_id AS cid, count(*) AS n FROM sh GROUP BY doc_id),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
         pairs AS (SELECT d1, d2, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
                   FROM common JOIN card ca ON d1 = ca.cid
                               JOIN card cb ON d2 = cb.cid
                   WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5),
         ph AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len(s) + 1), j -> CAST(ascii(s[j]) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1048576) AS h
           FROM sh),
         sig AS MATERIALIZED (
           SELECT doc_id, i,
             CAST(min(((2 * i + 1) * h + (1000 * i + 7)) % 1048573) AS BIGINT) AS mh
           FROM ph, unnest(range(0, 16)) AS u(i) GROUP BY doc_id, i),
         agr AS (SELECT p.d1, p.d2,
             CAST(count(*) FILTER (WHERE sa.mh = sb.mh) AS BIGINT) AS n_agree
           FROM pairs p
           JOIN sig sa ON sa.doc_id = p.d1
           JOIN sig sb ON sb.doc_id = p.d2 AND sb.i = sa.i
           GROUP BY p.d1, p.d2)
         SELECT p.d1, p.d2, p.jaccard, a.n_agree,
           CAST(a.n_agree AS DOUBLE) / 16.0 AS est_jaccard,
           round(abs(CAST(a.n_agree AS DOUBLE) / 16.0 - p.jaccard), 6) AS abs_err
         FROM pairs p JOIN agr a ON a.d1 = p.d1 AND a.d2 = p.d2""",
    "q35_minhash_lsh" -> JaccardPairsOracle,
  )
}
