package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.functions.EngineMath
import graft.plans.TopK

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * - Brute-force cosine top-k: the correctness baseline. Declarative
  *   (crossJoin pruned by a broadcast of the small query side, ranked per
  *   query by the bounded-heap [[graft.plans.TopK.ranked]] primitive
  *   through [[cosineTopK]]), all math in codegen'd array expressions —
  *   no UDFs.
  * - LSH (random hyperplane) bucketed ANN: the 100 TB path — candidates come
  *   from a bucket equi-join instead of the full cross product.
  * - Label centroids via exact decimal sums (order-independent → identical
  *   across partitionings and engines).
  *
  * Dot products run in double after an explicit element cast: zip_with
  * multiplies exactly, aggregate folds left-to-right — deterministic
  * regardless of Spark's physical plan because the fold is per-row.
  */
object Embeddings {

  /** Native codegen'd dot product (graft.functions.DotProduct) — identical
    * left-to-right double accumulation to the HOF form, ~20× faster on
    * pairwise joins. Callers must GraftFunctions.register the session. */
  private def dotExpr(aCol: String, bCol: String): Column =
    expr(s"graft_dot($aCol, $bCol)")

  private def normExpr(aCol: String): Column =
    sqrt(expr(s"graft_dot($aCol, $aCol)"))

  /** Vector norm precomputed once per row: the pairwise joins below then do
    * a single dot product per pair instead of three array aggregations —
    * same IEEE operations as the oracle's dot/(sqrt(naa)*sqrt(nbb)), just
    * not recomputed per pair. */
  private def withNorm(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.withColumn("nrm", normExpr("embedding"))
  }

  /** The one cosine ranking kernel behind every per-query vector search:
    * the bounded query side (qid, qv, qn) broadcasts onto the candidates
    * (nid, nv, nn) under `on`, sim = round(dot / (qn·nn), 6), and
    * [[graft.plans.TopK.ranked]] keeps the top k per query by (sim desc,
    * nid asc), so at most k rows per query per partition cross the
    * exchange. Output: qid, rk (int), nid, `keep`…, sim. */
  private[ops] def cosineTopK(q: DataFrame, cand: DataFrame, on: Column, k: Int,
                              keep: String*): DataFrame = {
    val scored = broadcast(q).join(cand, on)
      .select((Seq(col("qid"), col("nid")) ++ keep.map(col) :+
        round(dotExpr("qv", "nv") / (col("qn") * col("nn")), 6).as("sim")): _*)
    TopK.ranked(scored, Seq("qid"), Seq(TopK.desc("sim"), TopK.asc("nid")), k, "rk")
      .select((Seq(col("qid"), col("rk"), col("nid")) ++ keep.map(col) :+ col("sim")): _*)
  }

  /** Brute-force cosine top-k neighbors for a bounded query set.
    * The query side is tiny → broadcast; ranking ties broken by vec_id. */
  def bruteForceKnn(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val n = withNorm(emb)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val cand = n.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"))
    cosineTopK(q, cand, col("qid") =!= col("nid"), k)
  }

  /** All-pairs cosine near-duplicates above a threshold, as a *block outer
    * product* (the DIMSUM / columnSimilarities shape): vectors are hashed
    * into `nBlocks` disjoint blocks, the tiny (bi, bj) block-pair table is
    * equi-joined to the block table on each side (two hash joins — NO
    * BroadcastNestedLoopJoin, no per-pair row materialization), and each
    * block pair runs a primitive-array dot loop. Work is the same O(n²·d)
    * flops as the semantics demand, but the constant is ~50× better than a
    * pair-per-row join (one UnsafeRow per *result*, not per candidate), and
    * memory per task is two blocks — the caller sizes nBlocks so a block
    * fits an executor, which is the standard scale-out for exact all-pairs.
    *
    * Exact by construction — this corpus has pair similarities densely
    * spanning any threshold (measured: closest pairs 0.39989 / 0.40001
    * around 0.4), so *no* probabilistic candidate scheme (hyperplane LSH
    * banding included) can reproduce the exact output; LSH remains the
    * right trade for high-threshold near-dup and top-k ([[annKnn]]).
    *
    * Numerics: elements are cast to double up front and accumulated left to
    * right — bit-identical to graft_dot on the float arrays — and the final
    * round/threshold run as Spark expressions on the raw double, so results
    * hash-match the previous cartesian formulation and the DuckDB oracle.
    */
  def cosineNearDup(emb: DataFrame, threshold: Double, nBlocks: Int = 0,
                    targetRowsPerBlock: Int = 65536): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // nBlocks <= 0 ⇒ auto-size from the corpus: the kernel's memory
    // contract is "two blocks per task", so a FIXED block count would make
    // each task hold 100× more vectors on a 100× corpus and OOM exactly
    // where the operator is meant to shine. The sizing count sizes blocks
    // to <= targetRowsPerBlock rows (64k rows × 64 dims ≈ 33 MB/block),
    // with a floor that keeps nb(nb+1)/2 block pairs >= the cluster's
    // parallelism so small corpora still use every core. Output is
    // block-count-invariant (proven in EmbeddingsSpec), so sizing is
    // purely a physical decision.
    // On the auto path the count is NOT free: it runs the input's whole
    // upstream. That full pass is spent deliberately — it materializes an
    // INTERNAL persisted projection (never the caller's frame, which must
    // not gain a cache entry as a hidden side effect), so the block build
    // reads the cache instead of re-running the upstream a second time.
    // The projection is registered with InternalCaches for scoped release.
    val src = {
      val projected = emb.select(col("vec_id"), col("embedding"))
      if (nBlocks > 0) projected
      else graft.core.InternalCaches.persist(projected)
    }
    val nb = if (nBlocks > 0) nBlocks else {
      val n = src.count()
      val byMem = math.ceil(n.toDouble / targetRowsPerBlock).toInt
      val p = spark.sparkContext.defaultParallelism
      val byPar = math.ceil((math.sqrt(8.0 * p + 1) - 1) / 2).toInt
      math.max(1, math.max(byMem, byPar))
    }
    val vecs = src.select(
        col("vec_id").cast(LongType),
        col("embedding").cast(ArrayType(DoubleType)))
      .as[(Long, Array[Double])]
    // splitmix64: block id independent of id structure
    val blocks = vecs
      .groupByKey { case (id, _) =>
        java.lang.Long.remainderUnsigned(graft.functions.BitMix.splitmix64(id), nb.toLong).toInt }
      .mapGroups { (bid, it) =>
        val rows = it.toArray.sortBy(_._1)
        val n = rows.length
        val dim = rows(0)._2.length
        val mat = new Array[Double](n * dim)
        val nrm = new Array[Double](n)
        var i = 0
        while (i < n) {
          val v = rows(i)._2
          System.arraycopy(v, 0, mat, i * dim, dim)
          // same left-to-right accumulation as graft_dot(embedding, embedding)
          var s = 0.0; var j = 0
          while (j < dim) { s += v(j) * v(j); j += 1 }
          nrm(i) = math.sqrt(s)
          i += 1
        }
        (bid, rows.map(_._1), mat, nrm)
      }
      .toDF("bid", "ids", "mat", "nrm")
    // block-pair table built distributively (range × range, tiny in bytes):
    // at auto-sized nb a billion-vector corpus has ~15k blocks → ~1.2e8
    // pairs, far too many tuples to materialize as a driver-local Seq
    val bids = spark.range(nb.toLong).select(col("id").cast(IntegerType).as("bid"))
    val blockPairs = bids.select(col("bid").as("bi"))
      .crossJoin(bids.select(col("bid").as("bj")))
      .filter(col("bi") <= col("bj"))
    val paired = blockPairs
      .join(blocks.select(col("bid").as("bi"), col("ids").as("ids1"),
        col("mat").as("mat1"), col("nrm").as("nrm1")), "bi")
      .join(blocks.select(col("bid").as("bj"), col("ids").as("ids2"),
        col("mat").as("mat2"), col("nrm").as("nrm2")), "bj")
      .as[(Int, Int, Array[Long], Array[Double], Array[Double],
           Array[Long], Array[Double], Array[Double])]
    // emit raw (unrounded) sims; margin covers round-half-up at 6 decimals
    val margin = 1e-6
    val t = threshold
    val rawPairs = paired.flatMap { case (bi, bj, ids1, mat1, nrm1, ids2, mat2, nrm2) =>
      val n1 = ids1.length; val n2 = ids2.length
      val dim = if (n1 > 0) mat1.length / n1 else 0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < n1) {
        var j = if (bi == bj) i + 1 else 0
        while (j < n2) {
          var s = 0.0; var k = 0; val o1 = i * dim; val o2 = j * dim
          while (k < dim) { s += mat1(o1 + k) * mat2(o2 + k); k += 1 }
          val raw = s / (nrm1(i) * nrm2(j))
          if (raw >= t - margin) {
            val (d1, d2) = if (ids1(i) < ids2(j)) (ids1(i), ids2(j)) else (ids2(j), ids1(i))
            out += ((d1, d2, raw))
          }
          j += 1
        }
        i += 1
      }
      out
    }.toDF("d1", "d2", "raw")
    rawPairs
      .withColumn("sim", round(col("raw"), 6))
      .filter(col("sim") >= threshold)
      .select(col("d1"), col("d2"), col("sim"))
  }

  /** The pair-per-row cartesian formulation — test-only oracle for
    * [[cosineNearDup]] (identical output, quadratic row materialization). */
  private[graft] def cosineNearDupBruteForce(emb: DataFrame, threshold: Double): DataFrame = {
    val n = withNorm(emb)
    val a = n.select(col("vec_id").as("d1"), col("embedding").as("v1"), col("nrm").as("n1"))
    val b = n.select(col("vec_id").as("d2"), col("embedding").as("v2"), col("nrm").as("n2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("sim", round(dotExpr("v1", "v2") / (col("n1") * col("n2")), 6))
      .filter(col("sim") >= threshold)
      .select(col("d1"), col("d2"), col("sim"))
  }

  /** Deterministic random hyperplanes (seeded driver RNG, broadcast as
    * literals): 16 sign bits → LSH bucket id. */
  def lshBuckets(emb: DataFrame, nPlanes: Int = 16, dim: Int = 64, seed: Long = 42L): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val rng = new scala.util.Random(seed)
    val planes = Array.fill(nPlanes, dim)(rng.nextGaussian())
    val bucketBits = (0 until nPlanes).map { p =>
      val planeArr = s"array(${planes(p).map(v => s"CAST($v AS DOUBLE)").mkString(",")})"
      expr(s"CASE WHEN graft_dot(embedding, $planeArr) >= 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    }
    emb.withColumn("bucket", bucketBits.reduce(_ + _))
  }

  /** ANN top-k via LSH buckets: candidates share a bucket (multi-probe with
    * the full bucket only — recall traded for a bucket equi-join that scales;
    * brute-force above is the exactness baseline). */
  def annKnn(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val bucketed = withNorm(lshBuckets(emb, nPlanes = 8))
    val q = bucketed.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("bucket").as("qb"), col("nrm").as("qn"))
    val cand = bucketed.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("bucket").as("nb"), col("nrm").as("nn"))
    cosineTopK(q, cand, col("qb") === col("nb") && col("qid") =!= col("nid"), k)
  }

  /** Triangle participation counts on the cosine similarity graph — the
    * graph-analytics pass over near-dup edges: a vector in many triangles
    * sits inside a dense near-duplicate clique (template spam, mirrored
    * content), which pairwise counts alone can't distinguish from many
    * independent coincidental matches. Classic MapReduce triangle enumeration
    * (Suri & Vassilvitskii, WWW'11): edges oriented low-id → high-id, so
    * each triangle a<b<c is produced exactly once by joining (a,b)⋈(b,c)
    * and closing with (a,c).
    *
    * Scale shape: the expensive part is the EDGE LIST, delegated to
    * [[cosineNearDup]]'s block outer product; the triangle step is two
    * equi-joins on a similarity graph that thresholding keeps sparse. The
    * known cost is the pivot join's deg² fan-out on hub nodes — the
    * standard mitigation at extreme skew (not needed at this graph's
    * density, asserted in EmbeddingsSpec) is degree-ordering the edges
    * before the pivot, which this formulation composes with directly. The
    * edge frame is consumed three times → internal scoped persist. */
  def cosineTriangles(emb: DataFrame, threshold: Double = 0.4): DataFrame =
    triangleCounts(graft.core.InternalCaches.persist(
      cosineNearDup(emb, threshold).select(col("d1"), col("d2"))))

  /** The pure graph step: per-node triangle counts over a low-id → high-id
    * oriented edge list `(d1 < d2)`. Two hash equi-joins, no nested loop —
    * plan-asserted in isolation (PlanContractSpec) because inside [[
    * cosineTriangles]] the cached edge subtree's rendering shadows the
    * triangle plan. */
  private[graft] def triangleCounts(edges: DataFrame): DataFrame = {
    val tri = edges.select(col("d1").as("a"), col("d2").as("b"))
      .join(edges.select(col("d1").as("b"), col("d2").as("c")), "b")
      .join(edges.select(col("d1").as("a"), col("d2").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).cast(LongType).as("n_tri"))
  }

  def qTriangles(s: SparkSession, dir: String): DataFrame =
    cosineTriangles(Tables.embeddings(s, dir), 0.4)

  /** Broadcast linear-model inference — the fastText/logistic-regression
    * quality-classifier shape (DCLM, FineWeb-Edu): score every vector
    * against a model small enough to ship inside the plan as a literal.
    * margin = w·x + b via the codegen'd graft_dot; no shuffle exists until
    * whatever aggregation the caller adds. The keep decision thresholds
    * the UNROUNDED margin: sigmoid is monotone, so "p >= 0.5" IS
    * "margin >= 0", which keeps the gate's hash path free of
    * transcendentals (exp is the one libm call a cross-engine contract
    * can't pin to the ulp); the knife-edge (a fold landing on exactly
    * ±0.0) would fail the gate VISIBLY, never silently — same contract as
    * the q43 LSH sign test. The reported margin is rounded to 6 for the
    * oracle compare.
    *
    * At 100 TB this is a pure map stage: the model is O(dim) bytes
    * carried by the plan, the scan prunes to (embedding, label), and
    * predicate/column pruning still reach parquet because nothing here
    * is a UDF barrier. */
  def classifierScores(emb: DataFrame, weights: Array[Double], bias: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val w = weights.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
    val raw = expr(s"graft_dot(embedding, $w)") + lit(bias)
    emb.withColumn("margin", round(raw, 6))
      .withColumn("keep", (raw >= 0.0).cast(IntegerType))
  }

  /** Seeded stand-in model for the q93 gate: 64 gaussian weights. A real
    * classifier would arrive as a trained array — the execution shape is
    * identical. */
  private[graft] def q93Model: (Array[Double], Double) = {
    val rng = new scala.util.Random(202L)
    (Array.fill(64)(rng.nextGaussian() * 0.25), 0.05)
  }

  /** Gate: per-(label, keep) survival report — the "how much of each
    * source passes the quality filter" table every corpus run produces. */
  def qClassifier(s: SparkSession, dir: String): DataFrame = {
    val (w, b) = q93Model
    classifierScores(Tables.embeddings(s, dir), w, b)
      .groupBy(col("label"), col("keep"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        round(sum(col("margin").cast(DecimalType(28, 12))).cast(DoubleType) /
          count(lit(1)), 6).as("avg_margin"))
  }

  /** Classifier CALIBRATION report (reliability diagram) — the evaluation
    * every quality-filter deployment runs before trusting its keep
    * threshold: sigmoid scores bucketed into 10 probability bins; per bin
    * the mean predicted probability vs the empirical positive rate, and
    * their gap (the per-bin ECE contribution). A well-calibrated filter
    * has mean_p ≈ pos_rate in every bin; a miscalibrated one keeps
    * low-quality docs it is confident about. The binary target is the
    * deterministic label parity (the gate corpus carries no human labels;
    * a real run joins its eval labels in unchanged).
    *
    * Scale shape: scoring is the q93 pure map stage (model as a plan
    * literal through codegen'd graft_dot); the report is ONE bounded agg
    * on the 10-bucket key. Floats pinned: sigmoid of the round-6 margin
    * rounds to 9, bucket = floor(10p) capped at 9, per-bin means from
    * decimal sums, gap from the UNROUNDED means. */
  def calibrationReport(emb: DataFrame, weights: Array[Double],
                        bias: Double): DataFrame = {
    val dec = DecimalType(28, 12)
    val scored = classifierScores(emb, weights, bias)
      .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 9))
      .withColumn("y", when(col("label") % 2 === 0, 1L).otherwise(0L))
      .withColumn("bucket",
        least(lit(9L), floor(col("p") * 10).cast(LongType)))
    scored.groupBy(col("bucket"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("y")).cast(LongType).as("n_pos"),
        sum(col("p").cast(dec)).as("sp"))
      .withColumn("mean_p_raw", col("sp").cast(DoubleType) / col("n"))
      .withColumn("rate_raw",
        col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("mean_p_raw"), 6).as("mean_p"),
        round(col("rate_raw"), 6).as("pos_rate"),
        round(abs(col("mean_p_raw") - col("rate_raw")), 6).as("gap"))
      .orderBy(col("bucket"))
  }

  def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val (w, b) = q93Model
    calibrationReport(Tables.embeddings(s, dir), w, b)
  }

  /** Murphy (1973) decomposition of the Brier score over the q146
    * calibration bins — BS = REL − RES + UNC: reliability (how far bin
    * confidence sits from bin accuracy — the calibration defect q146
    * shows per-bin, here mass-weighted into one number), resolution (how
    * much the bins separate the base rate — a model can be perfectly
    * calibrated and useless), uncertainty (the base-rate entropy floor
    * ȳ(1−ȳ) no model beats). The one-row scorecard a quality-filter
    * deployment publishes beside AUC: AUC says it ranks, REL says the
    * probabilities are honest, RES says they're informative.
    *
    * Scale shape: scoring is the q93 pure map stage + the q146
    * bucketing, ONE 10-key rollup with map-side partial decimal sums;
    * everything after runs on the 10-row bin frame and two broadcast
    * 1-row totals. Floats pinned: p is the q146 round-9 sigmoid,
    * per-row (p−y)² rounds to 9 into decimal sums, per-bin
    * contributions round to 9 on the bounded frame, the four published
    * statistics round to 6. */
  def brierDecomposition(emb: DataFrame, weights: Array[Double],
                         bias: Double): DataFrame = {
    val dec = DecimalType(28, 12)
    val scored = classifierScores(emb, weights, bias)
      .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 9))
      .withColumn("y", when(col("label") % 2 === 0, 1L).otherwise(0L))
      .withColumn("bucket",
        least(lit(9L), floor(col("p") * 10).cast(LongType)))
      .withColumn("sq",
        round((col("p") - col("y")) * (col("p") - col("y")), 9))
    // bins feeds BOTH glob and the contribution join — persist the 10-row
    // frame or the corpus rollup in its lineage runs twice (q113 contract)
    val bins = graft.core.InternalCaches.persist(
      scored.groupBy(col("bucket"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(col("y")).cast(LongType).as("n_pos"),
          sum(col("p").cast(dec)).as("sp"),
          sum(col("sq").cast(dec)).as("ssq")))
    val glob = bins.agg(
      sum(col("n")).cast(LongType).as("nn"),
      sum(col("n_pos")).cast(LongType).as("npos"),
      sum(col("ssq")).cast(DoubleType).as("ssq_all"))
      .withColumn("ybar", col("npos").cast(DoubleType) / col("nn").cast(DoubleType))
    val contribs = bins.crossJoin(broadcast(glob))
      .withColumn("pbar", col("sp").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("yk", col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("rel_k", round(col("n").cast(DoubleType) *
        (col("pbar") - col("yk")) * (col("pbar") - col("yk")), 9))
      .withColumn("res_k", round(col("n").cast(DoubleType) *
        (col("yk") - col("ybar")) * (col("yk") - col("ybar")), 9))
    contribs
      .agg(sum(col("rel_k").cast(dec)).cast(DoubleType).as("rel_s"),
        sum(col("res_k").cast(dec)).cast(DoubleType).as("res_s"))
      .crossJoin(broadcast(glob))
      .select(col("nn").as("n"),
        round(col("ssq_all") / col("nn").cast(DoubleType), 6).as("brier"),
        round(col("rel_s") / col("nn").cast(DoubleType), 6).as("reliability"),
        round(col("res_s") / col("nn").cast(DoubleType), 6).as("resolution"),
        round(col("ybar") * (lit(1.0) - col("ybar")), 6).as("uncertainty"))
  }

  def qBrierDecomposition(s: SparkSession, dir: String): DataFrame = {
    val (w, b) = q93Model
    brierDecomposition(Tables.embeddings(s, dir), w, b)
  }

  /** Full-batch logistic-regression TRAINING of the quality classifier —
    * the missing first act of the classifier lifecycle the engine already
    * serves (train HERE → broadcast inference q93 → calibration q146).
    * Gradient descent on the log-loss: wⱼ ← wⱼ − η/n Σᵢ (σ(w·xᵢ+b) − yᵢ)·xᵢⱼ,
    * a fixed `iters` epochs from w = 0 (so σ starts at exactly 0.5 and the
    * whole trajectory is closed-form checkable). The binary target is the
    * deterministic label parity, as in q146 — a real run joins its human
    * labels in unchanged.
    *
    * Scale shape (the fastText/quality-filter training loop at 100 TB —
    * round 15, the q106 covariance fold shape): each epoch is ONE scan
    * of the cached (embedding, y) frame folded per partition into a
    * single long[65] accumulator of scaled-integer gradient sums (each
    * round-9 term is an exact multiple of 10⁻⁹, so its ×10⁹ scaling is
    * an exact long and the sum is order-free at long-addition speed),
    * merged by a depth-2 treeAggregate — the cluster moves ~0.5 KB per
    * task and the driver sees √P partials, never row data. This
    * replaced the 65-key posexplode gradient whose 65× per-row fan-out
    * through the hash-aggregate was the cost center of logreg_train_1m
    * (the same ~10× constant-factor tax covarianceReport's fold
    * eliminated). Overflow bound: n·max|g·xⱼ|·10⁹ must stay under
    * 9.2·10¹⁸ — ample past 10⁸ rows on unit-scale embeddings.
    *
    * BIT-IDENTICAL to the declarative epoch it replaced (kept as
    * [[logregEpochExplode]], asserted equal in spec): the margin is the
    * graft_dot left-to-right double accumulation with the same literal
    * weights, and every rounding is Spark's `round` ([[EngineMath.round]],
    * proven equal to Catalyst by EngineMathSpec), so margin round 6 → sigmoid/
    * gradient terms round 9 → exact order-free sums → update round 9
    * produce the same trained trajectory across engines, runs, and
    * partitionings. The 65-long model is the ONLY driver data (the BPE
    * argmax precedent); iterations are a constant, so lineage stays
    * bounded. */
  def logregTrainWeights(emb: DataFrame, iters: Int = 3,
                         lr: Double = 0.5): (Array[Double], Double) = {
    val (w, b, _, _) = logregTrainWeightsWithShape(emb, iters, lr)
    (w, b)
  }

  /** [[logregTrainWeights]] plus its DATAFLOW-SHAPE evidence — (weights,
    * bias, gradient-scan partition count, treeAggregate depth). The
    * production epoch is an RDD fold outside Catalyst, so the q147 plan
    * contract can't see it (round-15 advisor): this hook lets the spec
    * assert the path that actually executes is distributed (partitions
    * tracks the cached input, never a driver collapse) and depth-2, while
    * the bit-parity spec against [[logregEpochExplode]] pins its math. */
  private[graft] val TreeAggDepth = 2
  private[graft] def logregTrainWeightsWithShape(
      emb: DataFrame, iters: Int = 3,
      lr: Double = 0.5): (Array[Double], Double, Int, Int) = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val data = graft.core.InternalCaches.persist(
      emb.select(col("embedding"),
        when(col("label") % 2 === 0, lit(1.0)).otherwise(lit(0.0)).as("y")))
    val n = data.count()
    require(n > 0, "logregTrain: empty training corpus")
    // a round-9 double is an exact 9-place decimal (|v| ≪ 2⁵³·10⁻⁹, so
    // the decimal-double round-trip is lossless): its ×10⁹ long is exact
    def scaled9(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .movePointRight(9).longValueExact
    // Decimal(28,12).cast(DoubleType) on the exact sum of round-9 terms
    def sum9ToDouble(l: Long): Double =
      new java.math.BigDecimal(java.math.BigInteger.valueOf(l), 9).doubleValue
    var bias = 0.0
    var w = Array.fill(64)(0.0)
    var gradParts = -1
    for (_ <- 1 to iters) {
      val wCur = w; val bCur = bias
      val gradRdd = data.as[(Array[Float], Double)].rdd
      gradParts = gradRdd.getNumPartitions
      val acc = gradRdd
        .treeAggregate(new Array[Long](65))(
          seqOp = { (a, row) =>
            val (x, y) = row
            require(x.length == 64, s"logregTrain saw a ${x.length}-dim vector")
            var dot = 0.0
            var j = 0
            while (j < 64) { dot += x(j).toDouble * wCur(j); j += 1 }
            val margin = EngineMath.round(dot + bCur, 6)
            val p = EngineMath.round(1.0 / (1.0 + math.exp(-margin)), 9)
            val g = EngineMath.round(p - y, 9)
            a(0) += scaled9(EngineMath.round(g * 1.0, 9))
            j = 0
            while (j < 64) { a(j + 1) += scaled9(EngineMath.round(g * x(j).toDouble, 9)); j += 1 }
            a
          },
          combOp = { (x, y) =>
            var k = 0
            while (k < 65) { x(k) += y(k); k += 1 }
            x
          }, depth = TreeAggDepth)
      bias = EngineMath.round(bias - (lr * sum9ToDouble(acc(0))) / n.toDouble, 9)
      w = Array.tabulate(64)(i =>
        EngineMath.round(wCur(i) - (lr * sum9ToDouble(acc(i + 1))) / n.toDouble, 9))
    }
    (w, bias, gradParts, TreeAggDepth)
  }

  /** ONE epoch of the declarative gradient the fold in
    * [[logregTrainWeights]] replaced — kept as the lazy, plan-inspectable
    * parity twin (the covarianceReportExplode precedent): margin through
    * the codegen'd graft_dot with the weights as plan literals, gradient
    * as a 65-key posexplode aggregation with map-side partial decimal
    * sums (wire ≤ 65·partitions rows), updates round-9 computed IN the
    * engine. Returns the updated 65-row (j, w) model frame; the spec
    * asserts it equals the fold's epoch bit for bit. */
  def logregEpochExplode(data: DataFrame, w: Array[Double], bias: Double,
                         lr: Double, n: Long): DataFrame = {
    graft.functions.GraftFunctions.register(data.sparkSession)
    val dec = DecimalType(28, 12)
    val wLit = w.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
    val wAll = (bias +: w.toSeq).map(v => s"CAST($v AS DOUBLE)")
      .mkString("array(", ", ", ")")
    val margin = round(expr(s"graft_dot(embedding, $wLit)") + lit(bias), 6)
    data
      .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-margin)), 9))
      .withColumn("g", round(col("p") - col("y"), 9))
      .select(col("g"), posexplode(expr(
        "concat(array(CAST(1.0 AS DOUBLE)), " +
          "transform(embedding, x -> CAST(x AS DOUBLE)))")).as(Seq("j", "x")))
      .groupBy(col("j").cast(LongType).as("j"))
      .agg(sum(round(col("g") * col("x"), 9).cast(dec)).as("gs"))
      .select(col("j"),
        round(expr(s"element_at($wAll, CAST(j + 1 AS INT))")
          - lit(lr) * col("gs").cast(DoubleType) / lit(n.toDouble), 9).as("w"))
  }

  /** Exact tie-corrected ROC-AUC of the quality classifier against the
    * binary target — the threshold-free ranking metric that completes the
    * classifier lifecycle (train q147 → broadcast inference q93 →
    * calibration q146 → AUC here). Mann–Whitney form with ties counted
    * half: AUC = Σ_s n⁺(s)·(2·N⁻₍₋₎(s) + n⁻(s)) / (2·P·N), where the sum
    * runs over DISTINCT round-6 margins — all integer until the single
    * final division, so the statistic is bit-identical on every engine
    * and partitioning.
    *
    * Scale shape: scoring is the q93 pure map stage; the per-score
    * aggregation is combine-friendly keyed by the scaled-long margin; the
    * cumulative-negatives pass runs the two-level distributed prefix sum
    * over the DISTINCT-SCORE frame (already ≪ corpus) — no global
    * single-reducer rank over corpus rows, which is how the textbook
    * rank-based AUC dies at 100 TB. */
  def classifierAuc(emb: DataFrame, weights: Array[Double],
                    bias: Double): DataFrame = {
    val scored = classifierScores(emb, weights, bias)
      .withColumn("y", when(col("label") % 2 === 0, 1L).otherwise(0L))
      .withColumn("sk", round(col("margin") * 1000000.0, 0).cast(LongType))
    val byScore = scored.groupBy(col("sk"))
      .agg(sum(col("y")).cast(LongType).as("np"),
        sum(lit(1L) - col("y")).cast(LongType).as("nn"))
      .withColumn("_g", lit(1))
    val cum = Text.distributedRunningSum(byScore, "_g", Seq("sk"), "nn", "cumnn")
    cum
      // u2 and its sum run in DECIMAL(38,0): the Mann–Whitney total
      // approaches n_pos·2·n_neg ≈ n²/2, which overflows Long near ~4e9
      // rows — the same second-moment convention as assortativity/Yule's K
      // (oracle mirrors with HUGEINT). Exact integers either way; the one
      // division at the end is unchanged.
      .withColumn("u2", col("np").cast(DecimalType(38, 0)) *
        (lit(2L) * (col("cumnn") - col("nn")) + col("nn")))
      .agg(sum(col("np")).cast(LongType).as("n_pos"),
        sum(col("nn")).cast(LongType).as("n_neg"),
        count(lit(1)).cast(LongType).as("n_scores"),
        sum(col("u2")).cast(DecimalType(38, 0)).as("u2s"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        round(col("u2s").cast(DoubleType) /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  def qClassifierAuc(s: SparkSession, dir: String): DataFrame = {
    val (w, b) = q93Model
    classifierAuc(Tables.embeddings(s, dir), w, b)
  }

  /** Operating-point threshold sweep — the precision/recall/F1 table a
    * quality-filter deployment reads to PICK its keep threshold, the
    * missing slice of the classifier lifecycle between the threshold-free
    * AUC ([[classifierAuc]]) and the fixed-threshold survival report
    * (q93): confusion counts and P/R/F1 at every candidate threshold in a
    * pinned literal grid. AUC says whether the model ranks; this table
    * says where to cut it.
    *
    * Scale shape: scoring is the q93 pure map stage (model as a plan
    * literal through the codegen'd graft_dot); the grid is a broadcast
    * T-row literal frame, so the cross join is a constant ×T fan-out
    * riding the scan — never a shuffle — and the only shuffle is the
    * T-key confusion rollup with map-side combine. Floats pinned: the
    * prediction thresholds the ROUND-6 margin against exact grid
    * literals (both engines compare the same doubles), confusion counts
    * are exact integers, P/R divide once each and round to 6, F1 comes
    * from the UNROUNDED P/R. Zero denominators (no predicted positives /
    * no actual positives at a threshold) yield 0.0 by guard, not NULL. */
  def thresholdSweep(emb: DataFrame, weights: Array[Double], bias: Double,
                     thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep needs a threshold grid")
    val s = emb.sparkSession
    import s.implicits._
    val grid = thresholds.toDF("thr")
    val scored = classifierScores(emb, weights, bias)
      .withColumn("y", when(col("label") % 2 === 0, 1L).otherwise(0L))
    val conf = scored.crossJoin(broadcast(grid))
      .withColumn("pred", (col("margin") >= col("thr")).cast(LongType))
      .groupBy(col("thr"))
      .agg(sum(col("pred") * col("y")).cast(LongType).as("tp"),
        sum(col("pred") * (lit(1L) - col("y"))).cast(LongType).as("fp"),
        sum((lit(1L) - col("pred")) * col("y")).cast(LongType).as("fn"),
        sum((lit(1L) - col("pred")) * (lit(1L) - col("y"))).cast(LongType).as("tn"))
    conf
      .withColumn("p_raw", when(col("tp") + col("fp") > 0L,
        col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType))
        .otherwise(lit(0.0)))
      .withColumn("r_raw", when(col("tp") + col("fn") > 0L,
        col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType))
        .otherwise(lit(0.0)))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("p_raw"), 6).as("prec"),
        round(col("r_raw"), 6).as("rec"),
        when(col("p_raw") + col("r_raw") > 0.0,
          round(lit(2.0) * col("p_raw") * col("r_raw") /
            (col("p_raw") + col("r_raw")), 6)).otherwise(lit(0.0)).as("f1"))
  }

  /** The q164 grid: asymmetric around 0 so degenerate all-keep /
    * all-drop operating points are both exercised at the gate corpus's
    * margin spread. */
  private[graft] val q164Grid: Seq[Double] =
    Seq(-1.5, -1.0, -0.5, -0.25, 0.0, 0.25, 0.5, 1.0, 1.5)

  def qThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val (w, b) = q93Model
    thresholdSweep(Tables.embeddings(s, dir), w, b, q164Grid)
  }

  /** Gate: the trained 65-coefficient model as rows — j = 0 is the bias,
    * j = 1..64 the per-dimension weights. Hash-matching this table means
    * the DuckDB oracle reproduced all `iters` distributed epochs exactly. */
  def logregTrain(emb: DataFrame, iters: Int = 3, lr: Double = 0.5): DataFrame = {
    val (w, b) = logregTrainWeights(emb, iters, lr)
    val s = emb.sparkSession
    import s.implicits._
    (0 to 64).map(j => (j.toLong, if (j == 0) b else w(j - 1)))
      .toDF("j", "w")
  }

  def qLogregTrain(s: SparkSession, dir: String): DataFrame =
    logregTrain(Tables.embeddings(s, dir))

  /** The near-dup graph kernel: the q41 cosine graph and the two frames
    * the graph operators ([[pageRank]], [[hits]], [[assortativity]],
    * [[transitivity]], [[kCore]]) derive from it, each written once.
    *
    * Persist rule: the q41 block outer product is the expensive subtree,
    * so it runs once per gate. Whoever reads an edge frame more than once
    * persists it (`InternalCaches.persist`) or, inside an iteration,
    * lazily `localCheckpoint`s it: cosineTriangles, hits, assortativity
    * and transitivity persist their own edge projection, kCore
    * checkpoints each peel, and pageRank takes its edges persisted
    * ([[qPageRank]] does it). A derived frame read more than once
    * (pageRank's degrees and adjacency, assortativity's degrees) is
    * persisted where it is built. None of the three pieces persists
    * anything itself. */
  private def nearDupEdges(s: SparkSession, dir: String): DataFrame =
    cosineNearDup(Tables.embeddings(s, dir), 0.4).select(col("d1"), col("d2"))

  /** Both orientations of an undirected `(d1, d2)` edge list as `(src, dst)`. */
  private def symmetrized(edges: DataFrame): DataFrame =
    edges.select(col("d1").as("src"), col("d2").as("dst"))
      .union(edges.select(col("d2").as("src"), col("d1").as("dst")))

  /** Per-node degree `(vec_id, deg)` of a `(d1, d2)` edge list: one scan,
    * each edge row counted at both endpoints, so a repeated edge counts
    * twice and a self-loop counts 2 at its node — the degree of the
    * [[symmetrized]] list grouped by `src`. */
  private def degrees(edges: DataFrame): DataFrame = edges
    .select(explode(array(col("d1"), col("d2"))).as("vec_id"))
    .groupBy(col("vec_id")).agg(count(lit(1)).cast(LongType).as("deg"))

  /** Fixed-iteration PageRank over an undirected edge list `(d1, d2)` —
    * the importance signal used to pick canonical pages / weight training
    * mixes (the reference has no iterative graph op at all; this is the
    * standard DataFrame power iteration, no Pregel needed).
    *
    * ALL arithmetic is 64-bit integer on a fixed-point scale (`scale`
    * units = the whole rank mass): rank/degree and the 0.85 damping
    * multiply are integer divisions, so every engine and every physical
    * partitioning produces BIT-IDENTICAL ranks — no float sum order to
    * pin, which is what makes an iterated computation hash-matchable at
    * all. Truncation loses < 1 unit per edge per iteration (≈1e-12 of
    * mass), asserted in EmbeddingsSpec. Dangling mass cannot exist:
    * edges are symmetrized, so every node has out-degree >= 1.
    *
    * Scale shape: adjacency+degree built once, cached, re-walked per
    * iteration; each iteration is ONE shuffle (the contribution
    * aggregation) whose width is the edge count — the same
    * edge-partitioned join a 1000-executor cluster runs. The node count
    * is the only driver scalar. Iterations are a constant, so the lineage
    * stays bounded. `edges` is read three times (the kernel's persist
    * rule): pass it persisted. */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val deg = graft.core.InternalCaches.persist(degrees(edges))
    val adj = graft.core.InternalCaches.persist(
      symmetrized(edges).join(deg.withColumnRenamed("vec_id", "src"), "src"))
    val n = deg.count()
    val tele = (15L * scale) / (100L * n)
    var ranks = deg.select(col("vec_id"), lit(scale / n).as("r"))
    for (_ <- 1 to iters) {
      ranks = adj.join(ranks, adj("src") === ranks("vec_id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("vec_id"),
          (lit(tele) + expr("(85 * sc) div 100")).as("r"))
    }
    ranks.select(col("vec_id"), col("r").as("rank_units"))
  }

  /** Gate: 3 PageRank iterations over the q41 cosine near-dup graph. */
  def qPageRank(s: SparkSession, dir: String): DataFrame =
    pageRank(graft.core.InternalCaches.persist(nearDupEdges(s, dir)), iters = 3)

  /** Fixed-iteration HITS (Kleinberg 1999, JACM 46(5)) over a DIRECTED
    * edge list `(d1 → d2)` — the hubs-and-authorities decomposition
    * beside [[pageRank]]'s single importance score: an authority is
    * pointed TO by good hubs, a hub points AT good authorities. On the
    * low-to-high-id-oriented near-dup graph this separates "document many
    * near-dups point at" from "document whose near-dups are themselves
    * authoritative" — the two roles a canonical-pick heuristic conflates.
    *
    * Same fixed-point integer contract as [[pageRank]]: hub/authority
    * masses are 64-bit integers on a `scale` grid, each half-step
    * max-normalizes by INTEGER division (a'(v) = a(v)·scale div max a),
    * so every engine and partitioning produces bit-identical scores and
    * the iterated gate is hash-matchable at all. Nodes missing a side
    * (no in-edges / no out-edges) hold mass 0 via the left join back
    * onto the node set, never NULL. Overflow bound: raw mass ≤
    * n·scale and the normalize multiply ≤ n·scale² = n·10¹² — safe in
    * Long to n ≈ 9·10⁶ nodes at the default scale; shrink `scale` for
    * larger graphs.
    *
    * Scale shape (rounds 15-16 — the hits_1m shave): the edge frame is
    * cached TWICE, pre-hash-partitioned on src and on dst (a pre-grouped
    * collect_list adjacency was measured SLOWER — the array payload
    * through the join plus the generator breaking the codegen pipeline
    * cost more than the extra edge rows), and the mass frames iterate
    * SPARSE — a node whose mass is 0 simply has no row (bit-identical:
    * a 0 contributes 0 to every sum, normalizes to 0, and cannot own
    * the max since masses are nonnegative) — with the node-complete
    * zero-filled output rebuilt ONCE by the final left joins.
    *
    * Round 16 shaves, each measured on the 1M anchor: (1) every
    * mass↔edge join is a SHUFFLE_HASH join — sort-merge re-SORTED the
    * 3M-row edge cache at every half-step; hashing builds the
    * node-width mass side and streams the edges. (2) Each half-step's
    * max is collected as ONE driver value (the bounded 1-row-argmax
    * pattern, like the BPE merge loop) and embedded as a plan literal —
    * the old broadcast-crossJoin wrapped the mass frame in a
    * nested-loop join that hid its groupBy partitioning and forced an
    * extra mass re-Exchange per join. Two alternatives were built,
    * measured, and REJECTED: pinning cached-plan partitioning
    * (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false)
    * to stop the per-half-step edge re-exchange ran ~1.5× slower (it
    * disables AQE inside the caches), and a co-partitioned RDD loop
    * (narrow joins on one shared HashPartitioner — the true
    * zero-edge-exchange shape) ran 2-10× slower and collapsed into
    * disk spill: deserialized boxed-tuple caching is ~5-10× wider than
    * Tungsten rows, which outweighs every exchange it saves. Each
    * raw-mass frame is consumed twice (max + normalize), so it eagerly
    * localCheckpoints (the q118 BPE-loop pattern): without the cut the
    * plan QUADRUPLES per iteration, and with it plan depth stays flat
    * by construction. */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1,20], got $iters")
    // ONE unpartitioned cache (round 16): the r15 double pre-partitioned
    // cache bought nothing — AQE hides a cached plan's partitioning
    // behind the InMemoryRelation, so every consumer re-exchanged the
    // edge side anyway (plan-verified), and the second cache was a pure
    // extra 3M-row shuffle at build time
    val e = graft.core.InternalCaches.persist(
      edges.select(col("d1").as("src"), col("d2").as("dst")))
    // checkpointed, not cached: the node set brackets the computation
    // (the final zero-fill joins), and a cache here would embed the
    // whole upstream edge plan in the output's plan string — the q166
    // constant-depth contract reads it
    val nodes = e.select(col("src").as("vec_id"))
      .union(e.select(col("dst").as("vec_id"))).distinct()
      .localCheckpoint(false) // lazy: only the final zero-fill reads it
    def maxUnits(raw: DataFrame, c: String): Long =
      raw.agg(greatest(max(col(c)), lit(1L))).head.getLong(0)
    var hub: DataFrame = null
    var auth: DataFrame = null
    for (it <- 1 to iters) {
      // iteration 1's hub is uniformly `scale`, so its half-step is a
      // pure degree count — Σ_{u→v} scale = scale·indeg(v), the same
      // Long arithmetic with the 3M-row join skipped entirely
      // LAZY localCheckpoint (round 17): the max-collect's own agg job is
      // the first action over the raw-mass frame, so it materializes the
      // checkpoint as a side effect — the eager variant ran a separate
      // materialization job first, doubling the per-half-step job count
      // (4 driver round-trips/iter → 2; at 1M it is two fewer full
      // mass-frame passes per iteration). The normalize then reads the
      // persisted partitions; plan shape is unchanged (a lazy checkpoint
      // still returns a LogicalRDD scan). Round-17 measurement record
      // for the "q166 drifted 1.4x" r16 verdict item: a same-window A/B
      // (r15 code vs r16 code, TimeProbe, quiet box) reproduced ~90% of
      // the drift on BOTH trees — the cause is environmental (hypervisor
      // CPU STEAL windows: /proc/stat showed ~1 stolen core while this
      // box was otherwise idle, invisible to loadavg) plus probe JVM
      // warmup depth, NOT the serializer (Kryo on/off A/B: identical)
      // and NOT this loop's collects. A third experiment — disabling AQE
      // inside the small-graph loop to stop per-query-stage re-planning
      // (~43 AQE jobs at gate scale, listener-measured) — won ~35% in a
      // quiet window but LOST ~40% under steal (static 32-task stages
      // expose more threads to contention than AQE's coalesced 1-task
      // stages) and was REJECTED: the robust shape under both window
      // modes is AQE on + this lazy-checkpoint job count.
      val ar = (if (it == 1)
        e.groupBy(col("dst")).agg((count(lit(1)) * scale).as("ar"))
      else
        e.join(hub.withColumnRenamed("vec_id", "hv").hint("shuffle_hash"),
          col("src") === col("hv"))
          .groupBy(col("dst")).agg(sum(col("h")).as("ar")))
        .localCheckpoint(false)
      val am = maxUnits(ar, "ar")
      auth = ar.select(col("dst").as("vec_id"),
        expr(s"(ar * $scale) div ${am}L").as("a"))
      val hr = e
        .join(auth.withColumnRenamed("vec_id", "av").hint("shuffle_hash"),
          col("dst") === col("av"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
        .localCheckpoint(false)
      val hm = maxUnits(hr, "hr")
      hub = hr.select(col("src").as("vec_id"),
        expr(s"(hr * $scale) div ${hm}L").as("h"))
    }
    nodes
      .join(hub.select(col("vec_id"), col("h").as("hub_units"))
        .hint("shuffle_hash"), Seq("vec_id"), "left")
      .join(auth.select(col("vec_id"), col("a").as("auth_units"))
        .hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("hub_units"), lit(0L)).as("hub_units"),
        coalesce(col("auth_units"), lit(0L)).as("auth_units"))
  }

  /** Gate: 3 HITS iterations over the q41 near-dup graph oriented
    * low-id → high-id (the q86 triangle orientation). */
  def qHits(s: SparkSession, dir: String): DataFrame =
    hits(nearDupEdges(s, dir), iters = 3)

  /** Degree assortativity of an undirected graph (Newman 2002, PRL
    * 89.208701) — the graph-health scalar beside the triangle counts
    * (q86) and the two centrality gates (q94/q166): the Pearson
    * correlation of endpoint degrees over edges. A near-dup graph with
    * strongly positive assortativity is clique-y (template families —
    * canonical-pick per component is safe); negative means hub-and-spoke
    * (one canonical doc with many orbiting variants — component-wide
    * dedup would over-merge). Over the symmetrized edge list,
    *
    *   r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)
    *
    * with j,k the endpoint degrees and M the directed edge count —
    * integer sums in DECIMAL(38,0) (Σjk overflows Long on crawl-scale
    * graphs), numerator and denominator formed EXACTLY, ONE double
    * division rounded to 6. A degree-regular graph has zero denominator
    * → 0.0 by guard (no correlation is measurable, not NaN).
    *
    * Scale shape: degrees are one edge-width agg; the two degree
    * lookups are shuffle equi-joins on the node key (uniform — a hub
    * key repeats at most deg times on the EDGE side, the degree frame
    * itself is distinct-keyed); the rollup is 1-row. */
  def assortativity(edges: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = graft.core.InternalCaches.persist(edges.select(col("d1"), col("d2")))
    val deg = graft.core.InternalCaches.persist(degrees(e))
    val ej = symmetrized(e)
      .join(deg.select(col("vec_id").as("src"), col("deg").as("j")), "src")
      .join(deg.select(col("vec_id").as("dst"), col("deg").as("k")), "dst")
    val sums = ej.agg(
      count(lit(1)).cast(LongType).as("m"),
      sum(col("j").cast(dec)).as("sj"),
      sum((col("j").cast(dec) * col("k"))).as("sjk"),
      sum((col("j").cast(dec) * col("j"))).as("sj2"))
    val degStats = deg.agg(
      count(lit(1)).cast(LongType).as("n_nodes"),
      max(col("deg")).cast(LongType).as("max_degree"))
    sums.crossJoin(broadcast(degStats))
      .withColumn("num", col("m").cast(dec) * col("sjk") - col("sj") * col("sj"))
      .withColumn("den", col("m").cast(dec) * col("sj2") - col("sj") * col("sj"))
      .select(col("n_nodes"), expr("m div 2").as("n_edges"),
        col("max_degree"),
        when(col("den") === 0, lit(0.0))
          .otherwise(round(col("num").cast(DoubleType) / col("den").cast(DoubleType),
            6)).as("assortativity"))
  }

  /** Gate: assortativity of the q41 cosine near-dup graph. */
  def qAssortativity(s: SparkSession, dir: String): DataFrame =
    assortativity(nearDupEdges(s, dir))

  /** Global clustering coefficient (transitivity) — C = 3·triangles /
    * wedges, the one-number cohesion summary completing the graph-health
    * pair with [[assortativity]]: a near-dup graph at high transitivity
    * is closed template families (neighbors of neighbors are duplicates
    * too — component-collapse is safe); low transitivity with the same
    * edge count is chains of borderline matches that components would
    * over-merge. Wedges = Σ_v deg(v)·(deg(v)−1)/2 from one degree pass;
    * triangles reuse the q86 oriented two-join count (Σ per-node
    * participation = 3T, so the identity C = Σtri/Σwedge needs no ×3).
    * All integer — DECIMAL(38,0) wedge sums (a crawl-scale hub's deg²
    * breaks Long) — one round-6 division, zero wedges guard to 0.0.
    *
    * Scale shape: the q86 triangle joins (two hash equi-joins on the
    * oriented edge list) + one edge-width degree agg; both finish as
    * 1-row frames crossJoined. */
  def transitivity(edges: DataFrame): DataFrame = {
    val e = graft.core.InternalCaches.persist(
      edges.select(col("d1"), col("d2")))
    val triTotal = triangleCounts(e)
      .agg(coalesce(sum(col("n_tri")), lit(0L)).cast(LongType).as("tri3"))
    val stats = degrees(e).agg(
      count(lit(1)).cast(LongType).as("n_nodes"),
      sum(expr("CAST(deg AS DECIMAL(38,0)) * (deg - 1)")).as("wedges2"))
    val edgeCount = e.agg(count(lit(1)).cast(LongType).as("n_edges"))
    triTotal.crossJoin(broadcast(stats)).crossJoin(broadcast(edgeCount))
      .select(col("n_nodes"), col("n_edges"),
        expr("tri3 div 3").as("n_triangles"),
        expr("CAST(wedges2 div 2 AS BIGINT)").as("n_wedges"),
        when(col("wedges2") === 0, lit(0.0))
          .otherwise(round(col("tri3").cast(DoubleType) /
            col("wedges2").cast(DoubleType) * lit(2.0), 6))
          .as("transitivity"))
  }

  /** Gate: transitivity of the q41 cosine near-dup graph. */
  def qTransitivity(s: SparkSession, dir: String): DataFrame =
    transitivity(nearDupEdges(s, dir))

  /** Bounded k-core peeling (Seidman 1983's coreness, the iterated-peel
    * formulation) — the cohesion filter completing the near-dup-graph
    * suite (components q58, triangles q86, PageRank q94, HITS q166,
    * assortativity q174): repeatedly drop nodes of degree < k with their
    * incident edges. What survives `iters` peels is the dense template
    * family a canonical-pick should collapse; the first peel alone
    * separates genuine clusters from chains of borderline matches.
    * Fixed `iters` (not to-convergence) keeps the gate
    * oracle-unrollable; at the gate's scale three peels converge.
    *
    * Scale shape (round 15 — the kcore_1m shave): each peel is one
    * degree aggregation (explode of the edge pair — edge-width, uniform
    * keys, map-side combined) + two ANTI joins of the edge list against
    * the ELIMINATED-node frame — the complement of the old survivor
    * semi-joins (every edge endpoint holds a degree row, so
    * "not eliminated" ⟺ "surviving": identical edges survive). The
    * eliminated set shrinks toward empty as the core converges — after
    * the first peel it is typically tiny, so AQE runs both anti joins
    * as broadcasts and the edge frame never shuffles — where the
    * survivor frame the semi-joins consumed stayed node-sized forever.
    * An empty eliminated set is a fixed point, so the loop EXITS EARLY
    * (further peels are identity — the returned degrees are unchanged).
    * The shrinking edge list localCheckpoints per round (the q166
    * pattern — the edge frame is consumed by both the degree agg and
    * the filter, and the peel count bounds the lineage); round 17 made
    * the checkpoints LAZY, so each round's first consumer (the dropped
    * set's isEmpty probe / the next degree agg) materializes them in
    * its own pass instead of a dedicated job per frame. Output is the
    * survivors' degree table — all integers. */
  def kCore(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1 && iters <= 20, s"bad k=$k/iters=$iters")
    var e = edges.select(col("d1"), col("d2")).localCheckpoint(false)
    var converged = false
    for (_ <- 1 to iters if !converged) {
      val dropped = degrees(e).filter(col("deg") < k.toLong)
        .select(col("vec_id")).localCheckpoint(false)
      if (dropped.isEmpty) converged = true
      else e = e
        .join(dropped.withColumnRenamed("vec_id", "d1"), Seq("d1"), "left_anti")
        .join(dropped.withColumnRenamed("vec_id", "d2"), Seq("d2"), "left_anti")
        .select(col("d1"), col("d2"))
        .localCheckpoint(false)
    }
    degrees(e)
  }

  /** Gate: 3 peels at k = 2 over the q41 near-dup graph. */
  def qKCore(s: SparkSession, dir: String): DataFrame =
    kCore(nearDupEdges(s, dir), k = 2, iters = 3)

  /** Label-centroid affinity matrix — pairwise cosine between the
    * per-label centroids (q42's vectors, carried past the norm): the
    * domain-similarity table a mixture designer reads before merging or
    * contrasting sources (near-parallel centroids → redundant domains;
    * near-orthogonal → complementary), and the cheap first look at
    * whether labels are separable at all before training the q147
    * classifier.
    *
    * Scale shape: ONE corpus-sized stage — the (label, pos) decimal-mean
    * agg, map-side combinable with ≤ labels·dim accumulator rows per
    * task; everything after (the pos-keyed self-join, the K² rollup)
    * runs on the labels×dim-bounded centroid frame. Floats pinned with
    * the q42 recipe: round-6 components into DECIMAL(28,10) order-free
    * sums, per-pos products round-12 into DECIMAL(28,14), one sqrt·sqrt
    * division rounded to 6. */
  def centroidAffinity(emb: DataFrame): DataFrame = {
    val mv = graft.core.InternalCaches.persist(
      emb.select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(round(col("col").cast(DoubleType), 6).cast(DecimalType(28, 10)))
          .cast(DoubleType) / count(lit(1))).as("mean_v")))
    mv.select(col("label").as("label_a"), col("pos"), col("mean_v").as("ma"))
      .join(mv.select(col("label").as("label_b"), col("pos"), col("mean_v").as("mb")),
        "pos")
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(round(col("ma") * col("mb"), 12).cast(DecimalType(28, 14))).as("dot_d"),
        sum(round(col("ma") * col("ma"), 12).cast(DecimalType(28, 14))).as("na_d"),
        sum(round(col("mb") * col("mb"), 12).cast(DecimalType(28, 14))).as("nb_d"))
      .select(col("label_a"), col("label_b"),
        round(col("dot_d").cast(DoubleType) /
          (sqrt(col("na_d").cast(DoubleType)) * sqrt(col("nb_d").cast(DoubleType))),
          6).as("cos_sim"))
  }

  def qCentroidAffinity(s: SparkSession, dir: String): DataFrame =
    centroidAffinity(Tables.embeddings(s, dir))

  /** Symmetric per-vector int8 scalar quantization — the storage/serving
    * compression step every embedding corpus goes through before ANN
    * serving (FAISS SQ8, Milvus/pgvector int8): scale = max|x|/127 per
    * vector, code_i = round(x_i/scale) ∈ [-127, 127]. The per-row stats
    * are one native codegen'd expression ([[graft.functions.Int8RowStat]])
    * — a pure map stage inside WholeStageCodegen with no UDF barrier, so
    * at 100 TB it rides the parquet scan: column pruning reads only
    * (label, embedding) and the single shuffle is the 10-row label rollup.
    *
    * Cross-engine determinism: the code is floor(x·127/ma + 0.5) (round
    * half toward +∞) on doubles cast from the stored floats — the same
    * IEEE sequence DuckDB evaluates, and for the max-abs element
    * x·127/ma is exactly ±127 (x·127 is exact: 24-bit mantissa × 7-bit
    * integer; dividing the exact product 127·ma by ma yields exactly
    * 127), so no knife-edge exists at the saturation boundary. Outputs
    * are integer-only (code sums + saturation counts) — hash-safe.
    *
    * The report is the quantization-health table a corpus run publishes:
    * per label, the code mass (sum over all elements — a drift detector:
    * symmetric data should sum near 0) and how many elements saturate. */
  def quantizeInt8Report(emb: DataFrame): DataFrame = {
    // Row stats via the native graft_int8 expression (the HOF chain this
    // replaces — array_max(transform) → transform → two aggregates — is
    // CodegenFallback and degraded ~7× in long-lived sessions; see
    // [[graft.functions.Int8RowStat]]). Same IEEE sequence, same output.
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb
      .withColumn("row_sum", expr("graft_int8(embedding, 0)"))
      .withColumn("row_sat", expr("graft_int8(embedding, 1)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast(LongType).as("n_vecs"),
           sum(col("row_sum")).as("sum_codes"),
           sum(col("row_sat")).as("n_sat"))
  }

  def qQuantize(s: SparkSession, dir: String): DataFrame =
    quantizeInt8Report(Tables.embeddings(s, dir))

  /** ANN recall@k evaluation — the index-quality harness every ANN
    * deployment runs before serving: per query, how many of the EXACT
    * top-k neighbors the LSH index returned. [[bruteForceKnn]] is the
    * ground truth, [[annKnn]] the system under test; both are already
    * deterministic (rounded sims, id tiebreaks), so the report is too.
    *
    * Scale shape: the heavy frames are the two kNN computations
    * themselves (each already scale-shaped — broadcast query side,
    * bucket equi-join); the eval overlay is joins on k·|Q| rows, which
    * is tiny because an eval query set is a bounded sample by
    * construction. n_approx can fall short of k (sparse bucket) and a
    * query with an empty bucket still reports, with n_approx = 0. */
  def annRecallReport(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val approx = annKnn(emb, queryPred, k)
    val nap = approx.groupBy(col("qid"))
      .agg(count(lit(1)).cast(LongType).as("n_approx"))
    hitRecall(bruteForceKnn(emb, queryPred, k), approx)
      .join(nap, Seq("qid"), "left_outer")
      .withColumn("n_approx", coalesce(col("n_approx"), lit(0L)))
      .select(col("qid"), col("n_exact"), col("n_approx"), col("n_hit"), col("recall"))
  }

  /** The hit-recall finish shared by the ANN evaluations: per query of the
    * exact top-k `exact` (qid, nid), n_exact, how many of those neighbours
    * the approximate top-k `approx` (qid, nid) also returned (n_hit), and
    * recall = n_hit / n_exact. One left-outer equi-join on (qid, nid) over
    * k-row-per-query frames. */
  private[ops] def hitRecall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("qid"), col("nid"))
      .join(approx.select(col("qid").as("aqid"), col("nid").as("anid")),
        col("qid") === col("aqid") && col("nid") === col("anid"), "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).cast(LongType).as("n_exact"),
        sum(when(col("anid").isNotNull, 1L).otherwise(0L)).cast(LongType).as("n_hit"))
      .withColumn("recall", col("n_hit").cast(DoubleType) / col("n_exact"))

  def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    annRecallReport(Tables.embeddings(s, dir), col("vec_id") < 8, k = 5)

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR
    * 1998) — the diversity stage a production retrieval stack runs AFTER
    * candidate generation (BM25 → ANN → RRF → MMR here): from each
    * query's `nCand` relevance-ranked candidates, greedily select `k`
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), so near-duplicate
    * hits cannot crowd the final slate. λ and 1−λ are BOTH pinned
    * literals (0.7 / 0.3) — deriving 1−λ at runtime would bake the float
    * 0.30000000000000004 into the scores on one engine only.
    *
    * Scale shape: corpus-sized work stays inside the audited kNN
    * operator; everything here runs on ≤ nCand rows per query — the
    * pairwise candidate-similarity join is nCand² per query (a constant),
    * and each of the k−1 greedy stages is one bounded join + one per-query
    * argmax, the bounded-heap [[graft.plans.TopK.perKey]] at k = 1. The
    * greedy loop is a fixed k, so lineage stays bounded. */
  def mmrRerank(emb: DataFrame, queryPred: Column, k: Int = 3,
                nCand: Int = 10, lambda: Double = 0.7,
                oneMinusLambda: Double = 0.3): DataFrame = {
    require(k >= 1 && k <= nCand, s"need 1 <= k <= nCand, got $k vs $nCand")
    val cands = graft.core.InternalCaches.persist(
      bruteForceKnn(emb, queryPred, nCand)
        .select(col("qid"), col("nid"), col("sim").as("rel")))
    val n = withNorm(emb)
    val withVec = cands.join(
      n.select(col("vec_id").as("nid"), col("embedding").as("dv"), col("nrm").as("dn")),
      "nid")
    val left = withVec.select(col("qid"), col("nid").as("d"), col("dv"), col("dn"))
    val right = withVec.select(col("qid").as("q2"), col("nid").as("s"),
      col("dv").as("sv"), col("dn").as("sn"))
    val pair = graft.core.InternalCaches.persist(
      left.join(right, col("qid") === col("q2") && col("d") =!= col("s"))
        .select(col("qid"), col("d"), col("s"),
          round(expr("graft_dot(dv, sv)") / (col("dn") * col("sn")), 6).as("dd")))
    var out = TopK.perKey(cands, Seq("qid"), Seq(TopK.desc("rel"), TopK.asc("nid")), 1)
      .select(col("qid"), col("nid"), lit(1L).as("sel_rank"), col("rel").as("mmr"))
    for (t <- 2 to k) {
      val sel = out.select(col("qid").as("sq"), col("nid").as("sel"))
      val pen = pair.join(sel, col("qid") === col("sq") && col("s") === col("sel"))
        .groupBy(col("qid").as("pq"), col("d")).agg(max(col("dd")).as("pen"))
      val rem = cands.join(sel,
        cands("qid") === col("sq") && cands("nid") === col("sel"), "left_anti")
      val scored = rem
        .join(pen, col("qid") === col("pq") && col("nid") === col("d"))
        .select(col("qid"), col("nid"),
          (lit(lambda) * col("rel") - lit(oneMinusLambda) * col("pen")).as("mmrraw"))
      val next = TopK.perKey(scored, Seq("qid"), Seq(TopK.desc("mmrraw"), TopK.asc("nid")), 1)
        .select(col("qid"), col("nid"), lit(t.toLong).as("sel_rank"),
          round(col("mmrraw"), 6).as("mmr"))
      out = out.union(next)
    }
    out.select(col("qid"), col("sel_rank"), col("nid"), col("mmr"))
  }

  def qMmrRerank(s: SparkSession, dir: String): DataFrame =
    mmrRerank(Tables.embeddings(s, dir), col("vec_id") < 8)

  /** Exact d×d covariance of the embedding corpus — the whitening /
    * drift-detection statistic (a degenerate dimension means a wasted
    * axis; covariance drift across snapshots means the encoder moved).
    * cov(i,j) = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n) over upper-triangle pairs.
    *
    * Sums are SCALED LONGS — each product is fixed-point-quantized as
    * floor(xᵢxⱼ·10⁶ + 0.5) (the q103 rounding sequence, knife-edge-free
    * and identical on every engine) and summed as 64-bit integers:
    * order-free exactness at long-addition speed, ~10× cheaper than the
    * decimal-sum alternative this replaced (which made q106 the slowest
    * query in the bench). Overflow bound: n·max|xᵢxⱼ| must stay under
    * 9.2·10¹² — ample for unit-scale embeddings at any corpus size.
    *
    * Default path: dense per-partition accumulation (the MLlib
    * RowMatrix.computeCovariance shape) — each task folds its rows into
    * ONE long[2145] accumulator (2080 pair sums + 64 dim sums + count),
    * merged by a depth-2 treeAggregate, so the cluster moves ~17 KB per
    * task and the driver sees √P partials, never row data. The per-
    * element quantization (floor(x·10⁶ + 0.5)) and the final double
    * sequence are IDENTICAL to [[covarianceReportExplode]] (asserted in
    * spec), so the two paths are output-interchangeable and both
    * hash-match the DuckDB oracle. This is the one operator where a
    * typed fold beats the declarative explode — the d²/2-per-row
    * generator allocates and hashes 2080 rows per vector, a ~10×
    * constant-factor tax treeAggregate doesn't pay (37 s → ~4 s on the
    * 100k BIG anchor).
    *
    * EAGER contract — the one deliberate exception to the query map's
    * uniform laziness: the treeAggregate runs at CALL time and the
    * returned frame is a driver-local relation of the d(d+1)/2 result
    * rows. Constructing-without-consuming still pays the full corpus
    * scan, and plan-contract tooling cannot inspect the fold
    * (PlanContractSpec asserts the explode twin's plan instead). Callers
    * that need a lazy, inspectable plan use
    * [[covarianceReportExplode]]. */
  def covarianceReport(emb: DataFrame, dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val nPairs = dim * (dim + 1) / 2
    val acc = emb.select(col("embedding")).as[Array[Float]].rdd
      .treeAggregate(new Array[Long](nPairs + dim + 1))(
        seqOp = { (a, v) =>
          require(v.length == dim,
            s"covarianceReport(dim=$dim) saw a ${v.length}-dim vector")
          var k = 0; var i = 0
          while (i < dim) {
            val xi = v(i).toDouble
            a(nPairs + i) += math.floor(xi * 1000000.0 + 0.5).toLong
            var j = i
            while (j < dim) {
              a(k) += math.floor(xi * v(j).toDouble * 1000000.0 + 0.5).toLong
              k += 1; j += 1
            }
            i += 1
          }
          a(nPairs + dim) += 1L
          a
        },
        combOp = { (x, y) =>
          var k = 0
          while (k < x.length) { x(k) += y(k); k += 1 }
          x
        }, depth = 2)
    val n = acc(nPairs + dim)
    val rows = if (n == 0L) Seq.empty[(Long, Long, Long, Double)]
    else {
      var k = -1
      for (i <- 0 until dim; j <- i until dim) yield {
        k += 1
        val cov = EngineMath.round(
          acc(k).toDouble / 1000000.0 / n
            - (acc(nPairs + i).toDouble / 1000000.0 / n)
              * (acc(nPairs + j).toDouble / 1000000.0 / n), 6)
        (i.toLong, j.toLong, n, cov)
      }
    }
    rows.toDF("i", "j", "n_vecs", "cov")
  }

  /** Declarative twin of [[covarianceReport]] (kept for parity testing and
    * as the pure-Catalyst formulation — lazy and plan-inspectable, unlike
    * the eager fold). The pair blowup is ONE codegen'd nested-transform
    * producing a flat d(d+1)/2 long array per row, posexploded to (k, p)
    * — no per-row structs — and map-side partial aggregation caps each
    * task's shuffle output at d(d+1)/2 accumulator rows regardless of its
    * input rows. The flat index maps back to (i, j) through a
    * driver-built broadcast; per-dimension sums reuse one posexplode pass
    * and broadcast onto the pair grid. */
  def covarianceReportExplode(emb: DataFrame, dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val kToIj = (for (i <- 0 until dim; j <- i until dim) yield (i.toLong, j.toLong))
      .zipWithIndex.map { case ((i, j), k) => (k.toLong, i, j) }
      .toDF("k", "i", "j")
    val prods = emb.select(posexplode(expr(
      """flatten(transform(sequence(0, size(embedding) - 1), i ->
           transform(sequence(i, size(embedding) - 1), j ->
             cast(floor(cast(element_at(embedding, i + 1) as double) *
                        cast(element_at(embedding, j + 1) as double)
                        * 1000000.0D + 0.5D) as bigint))))"""))
      .as(Seq("k", "p")))
    val sums = prods.groupBy(col("k"))
      .agg(sum(col("p")).as("sxy"), count(lit(1)).cast(LongType).as("n_vecs"))
    val dims = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(expr("cast(floor(cast(x as double) * 1000000.0D + 0.5D) as bigint)")).as("sx"))
    sums
      .join(broadcast(kToIj), "k")
      .join(broadcast(dims.select(col("pos").cast(LongType).as("i"), col("sx").as("sxa"))), "i")
      .join(broadcast(dims.select(col("pos").cast(LongType).as("j"), col("sx").as("sxb"))), "j")
      // + 0.0 normalizes IEEE negative zero (round can yield -0.0, whose
      // textual repr differs between engines; -0.0 + 0.0 = +0.0 exactly)
      .withColumn("cov", round(
        col("sxy").cast(DoubleType) / lit(1000000.0) / col("n_vecs")
          - (col("sxa").cast(DoubleType) / lit(1000000.0) / col("n_vecs"))
            * (col("sxb").cast(DoubleType) / lit(1000000.0) / col("n_vecs")), 6) + lit(0.0))
      .select(col("i"), col("j"), col("n_vecs"), col("cov"))
  }

  def qCovariance(s: SparkSession, dir: String): DataFrame =
    covarianceReport(Tables.embeddings(s, dir))

  /** Per-label centroid norm via exact decimal element sums (order-free). */
  def qCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(round(col("col").cast(DoubleType), 6).cast(DecimalType(28, 10)))
              .cast(DoubleType) / count(lit(1))).as("mean_v"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("dim"),
           round(sqrt(sum(round(col("mean_v") * col("mean_v"), 12).cast(DecimalType(28, 14)))
             .cast(DoubleType)), 6).as("centroid_norm"))

  def qKnn(s: SparkSession, dir: String): DataFrame =
    bruteForceKnn(Tables.embeddings(s, dir), col("vec_id") < 8, k = 5)

  /** Truncated-dimension retrieval recall (the Matryoshka-representation
    * deployment question — Kusupati et al. 2022: how much top-k quality
    * survives serving only the first d′ of d dimensions?): for a
    * deterministic query subset, exact top-k under full-dim cosine vs
    * exact top-k under cosine over the FIRST `dPrime` coordinates, and
    * per-query overlap recall. Both sides run the [[bruteForceKnn]]
    * ranking (round-6 sim, nid tie-break), so the gate is engine-exact.
    *
    * Scale shape: two broadcast-query corpus scans (the q40 shape — the
    * query set is the broadcast side, candidates never shuffle); the
    * overlap join runs on two k-row-per-query bounded frames. The IVF
    * twin (q85) remains the served-path scale story; this is the offline
    * evaluation that decides d′. */
  def truncationRecall(emb: DataFrame, dPrime: Int = 16, k: Int = 10,
                       queryPred: Column = expr("vec_id % 50 = 0")): DataFrame = {
    require(dPrime >= 1 && k >= 1, s"bad params ($dPrime, $k)")
    overlapAtK(bruteForceKnn(emb, queryPred, k),
      bruteForceKnn(emb.withColumn("embedding", slice(col("embedding"), 1, dPrime)),
        queryPred, k), k)
  }

  /** The overlap-at-k finish shared by the dimensionality-reduction
    * recalls: per query of the full-dimension top-k `full` (qid, nid), how
    * many of its neighbours the reduced ranking `reduced` (qid, nid) kept
    * (n_overlap, 0 when none) and recall = n_overlap / k, ordered by qid. */
  private def overlapAtK(full: DataFrame, reduced: DataFrame, k: Int): DataFrame = {
    val pairs = full.select(col("qid"), col("nid"))
    val overlap = pairs.join(reduced.select(col("qid"), col("nid")), Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).cast(LongType).as("n_overlap"))
    pairs.select(col("qid")).distinct()
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast(DoubleType) /
          lit(k).cast(DoubleType), 6).as("recall"))
      .orderBy(col("qid"))
  }

  def qTruncationRecall(s: SparkSession, dir: String): DataFrame =
    truncationRecall(Tables.embeddings(s, dir))

  /** Johnson–Lindenstrauss random-projection retrieval recall — the OTHER
    * dimensionality-reduction serving path beside [[truncationRecall]]'s
    * Matryoshka prefix slice (Achlioptas 2003's database-friendly ±1
    * projection: R_ji ∈ {±1} needs no gaussian sampling and the dot
    * products stay exact integer-sign sums): project every embedding to
    * d′ dims through a DETERMINISTIC seeded sign matrix (splitmix64
    * parity — bit-identical on any engine, no RNG state), rank by cosine
    * in the projected space, and report per-query top-k overlap vs the
    * exact full-dimension ranking. The offline eval that decides whether
    * a projection index can serve before anything ships.
    *
    * Scale shape: the projection is ONE map stage — d′ codegen'd
    * graft_dot's with the sign rows as plan literals (the q93 model
    * contract) — and both rankings are the audited [[bruteForceKnn]]
    * bounded-query shape; the overlap join runs on two k-row-per-query
    * frames. Floats pinned: float→double is exact, ±1 sums fold
    * left-to-right identically on both engines, cosine rounds to 6 with
    * id tie-breaks. */
  def jlProjectionRecall(emb: DataFrame, dPrime: Int = 16, k: Int = 10,
                         queryPred: Column = expr("vec_id % 50 = 0"),
                         dim: Int = 64, seed: Long = 7L): DataFrame = {
    require(dPrime >= 1 && k >= 1 && dim >= 1, s"bad params ($dPrime, $k, $dim)")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val signs = jlSigns(dPrime, dim, seed)
    val rows = signs.map(r =>
      r.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")"))
    val projExpr = expr(rows.map(r => s"graft_dot(embedding, $r)")
      .mkString("array(", ", ", ")"))
    overlapAtK(bruteForceKnn(emb, queryPred, k),
      bruteForceKnn(emb.withColumn("embedding", projExpr), queryPred, k), k)
  }

  /** The seeded ±1 sign matrix (splitmix64 parity) shared by the
    * operator and the oracle generator. */
  private[graft] def jlSigns(dPrime: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(dPrime, dim) { (j, i) =>
      if ((graft.functions.BitMix.splitmix64(seed + j.toLong * dim + i) & 1L) == 0L)
        1.0 else -1.0
    }

  def qJlRecall(s: SparkSession, dir: String): DataFrame =
    jlProjectionRecall(Tables.embeddings(s, dir))

  def qCosineNearDup(s: SparkSession, dir: String): DataFrame =
    cosineNearDup(Tables.embeddings(s, dir), 0.4)

  def qAnnKnn(s: SparkSession, dir: String): DataFrame =
    annKnn(Tables.embeddings(s, dir), col("vec_id") < 8, k = 5)

  /** Hard-negative mining for contrastive training — for each query
    * vector, the top-k most-similar vectors carrying a DIFFERENT label
    * (the "looks alike, isn't" rows a dual-encoder trains against). The
    * [[bruteForceKnn]] shape with the label-mismatch predicate folded into
    * the broadcast join condition, so disagreeing labels are the join
    * output and no post-filter re-ranks: candidates shrink BEFORE the
    * ranking. Same scale contract as q40 — the query side is bounded and
    * broadcast; at 100 TB the candidate side swaps in [[annKnn]]'s
    * bucketed candidates with the same predicate, unchanged downstream. */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val n = withNorm(emb)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val cand = n.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      col("embedding").as("nv"), col("nrm").as("nn"))
    cosineTopK(q, cand, col("qlabel") =!= col("nlabel"), k, "nlabel")
  }

  def qHardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.embeddings(s, dir), col("vec_id") < 8, k = 5)

  /** Embedding-distribution drift as Population Stability Index between
    * two corpus snapshots (here the deterministic even/odd vec_id split;
    * production passes two crawl versions): one coordinate's values are
    * histogrammed into a FIXED bucket domain (20 equal-width bins over
    * [−1, 1], clamped — the domain is enumerated, so empty bins appear
    * identically on every engine), counts are Laplace-smoothed (+1 per
    * bin) so PSI stays finite, and contrib = (pa − pb)·ln(pa/pb) per bin
    * with the total summed over the 20-row frame.
    *
    * Scale shape: the corpus-sized work is ONE projection + one bounded
    * (≤ nBuckets keys) aggregation; everything after runs on the
    * constant-size bucket frame, where the unpartitioned windows are
    * admissible (q112 precedent). Numerics: counts are integers, pa/pb
    * one division each, contrib ≥ 0 by (x−y)(ln x−ln y) ≥ 0 so no −0.0
    * knife-edge; the total sums the rounded contribs as DECIMAL
    * (order-free, the q88 recipe). */
  /** The PSI histogram bucket for one embedding coordinate — the
    * stateless map both the batch path and the ingest-time streaming
    * twin ([[graft.streaming.StatefulOps.streamingDriftBuckets]]) apply
    * before counting: nBuckets equal-width bins over [−1, 1], clamped. */
  def driftBucketExpr(dim: Int, nBuckets: Int): Column = {
    val width = 2.0 / nBuckets
    val v = col("embedding").getItem(dim).cast(DoubleType)
    least(greatest(floor((v + lit(1.0)) / lit(width)).cast(LongType),
      lit(0L)), lit((nBuckets - 1).toLong))
  }

  /** Non-empty (bucket, n_a, n_b) counts — the corpus-sized half of PSI
    * (one projection + one bounded agg). */
  def driftBucketCounts(emb: DataFrame, dim: Int, nBuckets: Int): DataFrame =
    emb
      .select(driftBucketExpr(dim, nBuckets).as("bucket"),
        (col("vec_id") % 2 === 0).as("is_a"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_a"), lit(1L)).otherwise(lit(0L))).as("n_a"),
        sum(when(!col("is_a"), lit(1L)).otherwise(lit(0L))).as("n_b"))

  /** The constant-frame half of PSI: enumerate the full bucket domain,
    * Laplace-smooth, contrib + total. Shared verbatim by the batch gate
    * and the streaming twin's converged counts (asserted equal in spec),
    * so ingest-time and batch PSI cannot diverge. */
  def psiFromCounts(spark: SparkSession, counts: DataFrame, nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val domain = spark.range(0, nBuckets.toLong).select(col("id").as("bucket"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nB = lit(nBuckets.toDouble)
    domain.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("ta", sum(col("n_a")).over(all))
      .withColumn("tb", sum(col("n_b")).over(all))
      .withColumn("pa", (col("n_a") + lit(1.0)) / (col("ta") + nB))
      .withColumn("pb", (col("n_b") + lit(1.0)) / (col("tb") + nB))
      .withColumn("contrib", round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 9))
      .withColumn("psi_total",
        round(sum(col("contrib").cast(DecimalType(28, 12))).over(all).cast(DoubleType), 6))
      .select(col("bucket"), col("n_a"), col("n_b"), col("contrib"), col("psi_total"))
  }

  def driftPsi(emb: DataFrame, dim: Int = 0, nBuckets: Int = 20): DataFrame =
    psiFromCounts(emb.sparkSession, driftBucketCounts(emb, dim, nBuckets), nBuckets)

  def qDriftPsi(s: SparkSession, dir: String): DataFrame =
    driftPsi(Tables.embeddings(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q116_hard_negatives" -> (qHardNegatives _),
    "q117_drift_psi"     -> (qDriftPsi _),
    "q40_knn_bruteforce" -> (qKnn _),
    "q143_truncation_recall" -> (qTruncationRecall _),
    "q41_cosine_neardup" -> (qCosineNearDup _),
    "q42_centroids"      -> (qCentroids _),
    "q43_ann_lsh"        -> (qAnnKnn _),
    "q86_triangles"      -> (qTriangles _),
    "q93_classifier"     -> (qClassifier _),
    "q146_calibration"   -> (qCalibration _),
    "q147_logreg_train"  -> (qLogregTrain _),
    "q153_mmr_rerank"    -> (qMmrRerank _),
    "q155_classifier_auc" -> (qClassifierAuc _),
    "q164_threshold_sweep" -> (qThresholdSweep _),
    "q166_hits"          -> (qHits _),
    "q168_centroid_affinity" -> (qCentroidAffinity _),
    "q171_brier_decomposition" -> (qBrierDecomposition _),
    "q174_assortativity" -> (qAssortativity _),
    "q175_kcore" -> (qKCore _),
    "q176_transitivity" -> (qTransitivity _),
    "q178_jl_recall" -> (qJlRecall _),
    "q94_pagerank"       -> (qPageRank _),
    "q103_quantize_int8" -> (qQuantize _),
    "q105_ann_recall"    -> (qAnnRecall _),
    "q106_covariance"    -> (qCovariance _),
  )

  private[ops] val CosSql =
    """list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                        list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
       / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
        * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))"""

  /** The q43 oracle regenerates the SAME seeded hyperplanes as
    * [[lshBuckets]] (identical Random(42) draw order) and embeds them as
    * SQL literals — Scala's Double.toString round-trips, so DuckDB parses
    * bit-identical plane coordinates, and both engines fold the dot
    * product left-to-right, so even the unrounded sign test agrees. This
    * upgrades ANN-LSH from a rows-only check to a full hash-matched gate.
    *
    * KNOWN DEPENDENCY: the sign test (dot >= 0) is deliberately unrounded
    * — rounding cannot remove a knife-edge, only move it — so the match
    * rests on DuckDB's list_dot_product accumulating left-to-right like
    * graft_dot (true today; verified by the hash match at three SFs). If
    * a future DuckDB vectorizes the fold, a vector with |dot| within an
    * ulp of 0 could land in a different bucket and fail this gate VISIBLY
    * (hash mismatch), never silently. */
  /** The q93 oracle regenerates the SAME seeded model as [[q93Model]] and
    * embeds it as a SQL literal (Double.toString round-trips → DuckDB
    * parses bit-identical weights); both engines fold the dot product
    * left-to-right, so the unrounded keep threshold agrees — the q43
    * contract, restated for inference. */
  private def classifierOracle: String = {
    val (w, b) = q93Model
    val lst = w.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH scored AS (
          SELECT label,
            list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), $lst)
              + CAST($b AS DOUBLE) AS raw
          FROM embeddings)
        SELECT label,
          CASE WHEN raw >= 0.0 THEN 1 ELSE 0 END AS keep,
          count(*) AS n,
          round(CAST(sum(CAST(round(raw, 6) AS DECIMAL(28,12))) AS DOUBLE)
                / count(*), 6) AS avg_margin
        FROM scored GROUP BY label, keep"""
  }

  /** The q146 oracle — the q93 literal-model dot, then the identical
    * sigmoid/bucket/mean chain (sigmoid of the ROUND-6 margin rounds to
    * 9; per-bin means from decimal sums; gap from unrounded means). */
  private def calibrationOracle: String = {
    val (w, b) = q93Model
    val lst = w.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH scored AS (SELECT label,
            round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-round(
              list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), $lst)
                + CAST($b AS DOUBLE), 6))), 9) AS p
          FROM embeddings),
        bkt AS (SELECT least(9, CAST(floor(p * 10) AS BIGINT)) AS bucket,
            CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y, p
          FROM scored)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS n_pos,
          round(CAST(sum(CAST(p AS DECIMAL(28, 12))) AS DOUBLE)
                / count(*), 6) AS mean_p,
          round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
            AS pos_rate,
          round(abs(CAST(sum(CAST(p AS DECIMAL(28, 12))) AS DOUBLE) / count(*)
                - CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6) AS gap
        FROM bkt GROUP BY bucket ORDER BY bucket"""
  }

  /** The q171 oracle: the q146 round-9 sigmoid and buckets, per-row
    * round-9 (p−y)² into decimal sums, the identical bin/global/contrib
    * chain with every division written in the same CAST form. */
  private def brierOracle: String = {
    val (w, b) = q93Model
    val lst = w.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH scored AS (SELECT label,
            round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-round(
              list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), $lst)
                + CAST($b AS DOUBLE), 6))), 9) AS p
          FROM embeddings),
        bkt AS (SELECT least(9, CAST(floor(p * 10) AS BIGINT)) AS bucket,
            CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y, p,
            round((p - (CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END))
              * (p - (CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END)), 9) AS sq
          FROM scored),
        bins AS MATERIALIZED (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS n_pos,
            sum(CAST(p AS DECIMAL(28,12))) AS sp,
            sum(CAST(sq AS DECIMAL(28,12))) AS ssq
          FROM bkt GROUP BY bucket),
        gtot AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS nn,
            CAST(sum(ssq) AS DOUBLE) AS ssq_all,
            CAST(sum(n_pos) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS ybar
          FROM bins),
        contrib AS (SELECT
            round(CAST(n AS DOUBLE)
              * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS rel_k,
            round(CAST(n AS DOUBLE)
              * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) - ybar)
              * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) - ybar), 9) AS res_k
          FROM bins CROSS JOIN gtot)
        SELECT nn AS n,
          round(ssq_all / CAST(nn AS DOUBLE), 6) AS brier,
          round(CAST(sum(CAST(rel_k AS DECIMAL(28,12))) AS DOUBLE)
            / CAST(nn AS DOUBLE), 6) AS reliability,
          round(CAST(sum(CAST(res_k AS DECIMAL(28,12))) AS DOUBLE)
            / CAST(nn AS DOUBLE), 6) AS resolution,
          round(ybar * (1.0 - ybar), 6) AS uncertainty
        FROM contrib CROSS JOIN gtot
        GROUP BY nn, ssq_all, ybar"""
  }

  /** The q164 oracle: the q93 literal-model round-6 margin, a VALUES
    * grid, and the identical integer confusion counts → guarded round-6
    * P/R → F1-from-unrounded finish. */
  private def thresholdSweepOracle: String = {
    val (w, b) = q93Model
    val lst = w.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    val grid = q164Grid.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""WITH scored AS (
          SELECT CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y,
            round(list_dot_product(
                list_transform(embedding, x -> CAST(x AS DOUBLE)), $lst)
              + CAST($b AS DOUBLE), 6) AS margin
          FROM embeddings),
        grid(thr) AS (VALUES $grid),
        conf AS (
          SELECT thr,
            CAST(sum(pred * y) AS BIGINT) AS tp,
            CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
            CAST(sum((1 - pred) * y) AS BIGINT) AS fn,
            CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn
          FROM (SELECT thr, y,
                  CASE WHEN margin >= thr THEN 1 ELSE 0 END AS pred
                FROM scored CROSS JOIN grid)
          GROUP BY thr),
        pr AS (
          SELECT thr, tp, fp, fn, tn,
            CASE WHEN tp + fp > 0
              THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
              ELSE 0.0 END AS p_raw,
            CASE WHEN tp + fn > 0
              THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
              ELSE 0.0 END AS r_raw
          FROM conf)
        SELECT thr, tp, fp, fn, tn,
          round(p_raw, 6) AS prec, round(r_raw, 6) AS rec,
          CASE WHEN p_raw + r_raw > 0.0
            THEN round(2.0 * p_raw * r_raw / (p_raw + r_raw), 6)
            ELSE 0.0 END AS f1
        FROM pr"""
  }

  /** The q155 oracle: the q93 literal-model margin, scaled-long score
    * keys, a window cumulative over the distinct-score frame (provably
    * equal to the engine's two-level prefix sum — unique dense order
    * key), and the identical all-integer Mann–Whitney finish. */
  private def aucOracle: String = {
    val (w, b) = q93Model
    val lst = w.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH scored AS (
          SELECT CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y,
            CAST(round(round(
              list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), $lst)
                + CAST($b AS DOUBLE), 6) * 1000000.0, 0) AS BIGINT) AS sk
          FROM embeddings),
        byscore AS (SELECT sk, CAST(sum(y) AS BIGINT) AS np,
            CAST(sum(1 - y) AS BIGINT) AS nn
          FROM scored GROUP BY sk),
        cum AS (SELECT sk, np, nn,
            CAST(sum(nn) OVER (ORDER BY sk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumnn
          FROM byscore)
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          CAST(sum(nn) AS BIGINT) AS n_neg,
          CAST(count(*) AS BIGINT) AS n_scores,
          round(CAST(sum(CAST(np AS HUGEINT) * (2 * (cumnn - nn) + nn)) AS DOUBLE)
            / (2.0 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)), 6) AS auc
        FROM cum"""
  }

  /** The q153 greedy MMR selection unrolled as per-stage CTEs: candidate
    * generation is the q40 recipe at depth nCand, the pairwise
    * candidate-similarity table mirrors the round-6 cosine, and each
    * stage's argmax ranks the identical raw 0.7·rel − 0.3·pen expression
    * with the nid tie-break. */
  private def mmrOracle: String = {
    val nCand = 10; val k = 3
    val sb = new StringBuilder
    sb ++= s"""WITH scored AS (
          SELECT a.vec_id AS qid, b.vec_id AS nid, round($CosSql, 6) AS sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
        cands AS MATERIALIZED (
          SELECT qid, nid, sim AS rel FROM (
            SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
              ORDER BY sim DESC, nid ASC) AS rk FROM scored) t
          WHERE rk <= $nCand),
        pair AS MATERIALIZED (
          SELECT ca.qid, ca.nid AS d, cb.nid AS s, round($CosSql, 6) AS dd
          FROM cands ca JOIN cands cb ON ca.qid = cb.qid AND ca.nid <> cb.nid
          JOIN embeddings a ON a.vec_id = ca.nid
          JOIN embeddings b ON b.vec_id = cb.nid),
        sel1 AS (SELECT qid, nid, CAST(1 AS BIGINT) AS sel_rank, rel AS mmr FROM (
            SELECT qid, nid, rel, row_number() OVER (PARTITION BY qid
              ORDER BY rel DESC, nid ASC) AS rk FROM cands) t
          WHERE rk = 1),
        all1 AS (SELECT * FROM sel1)"""
    for (t <- 2 to k) {
      val prev = s"all${t - 1}"
      sb ++= s""",
        pen$t AS (SELECT p.qid, p.d, max(p.dd) AS pen
          FROM pair p JOIN $prev s ON s.qid = p.qid AND s.nid = p.s
          GROUP BY p.qid, p.d),
        sel$t AS (SELECT qid, nid, CAST($t AS BIGINT) AS sel_rank,
            round(mmrraw, 6) AS mmr FROM (
            SELECT qid, nid, mmrraw, row_number() OVER (PARTITION BY qid
              ORDER BY mmrraw DESC, nid ASC) AS rk
            FROM (SELECT c.qid, c.nid, 0.7 * c.rel - 0.3 * p.pen AS mmrraw
                  FROM cands c JOIN pen$t p ON p.qid = c.qid AND p.d = c.nid
                  WHERE NOT EXISTS (SELECT 1 FROM $prev s
                    WHERE s.qid = c.qid AND s.nid = c.nid)) u) t
          WHERE rk = 1),
        all$t AS (SELECT * FROM $prev UNION ALL SELECT * FROM sel$t)"""
    }
    sb ++= s"\n        SELECT qid, sel_rank, nid, mmr FROM all$k"
    sb.toString
  }

  /** The q147 training loop unrolled as materialized per-epoch CTE stages
    * (the q25 Gonzalez / q118 BPE recipe for iterated computations): each
    * epoch's weight table w{k} derives from w{k-1} with the IDENTICAL
    * pinned arithmetic — margin = round(list_dot_product + bias, 6)
    * (sequential left-to-right fold, same as graft_dot), sigmoid round 9,
    * per-element gradient products round 9 summed as DECIMAL(28,12), the
    * update's (lr·Σ)/n association mirrored exactly. */
  private def logregOracle: String = {
    val iters = 3
    val sb = new StringBuilder
    sb ++= """WITH data AS MATERIALIZED (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            [CAST(1.0 AS DOUBLE)] ||
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs,
            CASE WHEN label % 2 = 0 THEN CAST(1.0 AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END AS y
          FROM embeddings),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM data),
        w0 AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS j,
            CAST(0.0 AS DOUBLE) AS w FROM range(0, 65))"""
    for (k <- 1 to iters) {
      val p = s"w${k - 1}"
      sb ++= s""",
        g$k AS MATERIALIZED (
          SELECT round(round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
                + exp(-round(list_dot_product(d.v, wl.l) + bw.bw, 6))), 9)
              - d.y, 9) AS g, d.xs
          FROM data d
          CROSS JOIN (SELECT list(w ORDER BY j) AS l FROM $p WHERE j >= 1) wl
          CROSS JOIN (SELECT w AS bw FROM $p WHERE j = 0) bw),
        w$k AS MATERIALIZED (
          SELECT e.sj - 1 AS j,
            round(pw.w - CAST(0.5 AS DOUBLE)
              * CAST(sum(CAST(round(e.g * e.xv, 9) AS DECIMAL(28, 12))) AS DOUBLE)
              / nn.n, 9) AS w
          FROM (SELECT g, generate_subscripts(xs, 1) AS sj, unnest(xs) AS xv
                FROM g$k) e
          JOIN $p pw ON pw.j = e.sj - 1
          CROSS JOIN nn
          GROUP BY e.sj, pw.w, nn.n)"""
    }
    sb ++= s"\n        SELECT CAST(j AS BIGINT) AS j, w FROM w$iters"
    sb.toString
  }

  /** The q41 graph as the DuckDB CTE `name`: `(d1, d2)`, d1 < d2, at the
    * gate threshold — the edge list of the q86, q94, q166, q174, q175 and
    * q176 oracles. AS MATERIALIZED because each reads it more than once
    * (the DuckDB CTE-inlining gotcha). */
  private def nearDupEdgesOracle(name: String): String =
    s"""$name AS MATERIALIZED (
          SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE round($CosSql, 6) >= 0.4)"""

  /** One PageRank power-iteration step in DuckDB — integer fixed-point,
    * mirroring [[pageRank]]'s `div` truncation exactly (all values
    * positive, so `//` floor == `div` truncation). sum(BIGINT) is HUGEINT
    * in DuckDB → cast back before the damping multiply. */
  private def prIterSql(prev: String, out: String): String =
    s"""$out AS (
          SELECT adjc.dst AS vec_id,
            CAST(15000000000000 // (100 * nn.n)
              + (85 * CAST(sum($prev.r // degc.deg) AS BIGINT)) // 100 AS BIGINT) AS r
          FROM adjc JOIN degc ON degc.src = adjc.src
                 JOIN $prev ON $prev.vec_id = adjc.src
                 CROSS JOIN nn
          GROUP BY adjc.dst, nn.n)"""

  /** One HITS iteration as CTEs — the q25/q118 unroll recipe: auth raw
    * sums via the left-join chain (so zero-in-degree nodes hold 0, not
    * NULL), integer max-normalize, then the hub half mirrored. */
  private def hitsIterSql(hPrev: String, k: Int): String =
    s"""ar$k AS (SELECT n.vec_id, CAST(coalesce(sum(h.h), 0) AS BIGINT) AS ar
          FROM nodesc n LEFT JOIN e ON e.d2 = n.vec_id
            LEFT JOIN $hPrev h ON h.vec_id = e.d1
          GROUP BY n.vec_id),
        am$k AS (SELECT greatest(max(ar), 1) AS am FROM ar$k),
        a$k AS (SELECT vec_id, CAST((ar * 1000000) // am AS BIGINT) AS a
          FROM ar$k CROSS JOIN am$k),
        hr$k AS (SELECT n.vec_id, CAST(coalesce(sum(a.a), 0) AS BIGINT) AS hr
          FROM nodesc n LEFT JOIN e ON e.d1 = n.vec_id
            LEFT JOIN a$k a ON a.vec_id = e.d2
          GROUP BY n.vec_id),
        hm$k AS (SELECT greatest(max(hr), 1) AS hm FROM hr$k),
        h$k AS (SELECT vec_id, CAST((hr * 1000000) // hm AS BIGINT) AS h
          FROM hr$k CROSS JOIN hm$k)"""

  private def hitsOracle: String =
    s"""WITH ${nearDupEdgesOracle("e")},
        nodesc AS MATERIALIZED (
          SELECT DISTINCT vec_id FROM (
            SELECT d1 AS vec_id FROM e UNION ALL SELECT d2 FROM e)),
        h0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS h FROM nodesc),
        ${hitsIterSql("h0", 1)},
        ${hitsIterSql("h1", 2)},
        ${hitsIterSql("h2", 3)}
        SELECT h3.vec_id, h3.h AS hub_units, a3.a AS auth_units
        FROM h3 JOIN a3 USING (vec_id)"""

  /** q174: symmetrized q41 edges, HUGEINT degree-moment sums (Spark:
    * DECIMAL(38,0)), exact integer numerator/denominator, one round-6
    * division with the zero-denominator guard. */
  private def assortativityOracle: String =
    s"""WITH ${nearDupEdgesOracle("e")},
        sym AS (SELECT d1 AS src, d2 AS dst FROM e
                UNION ALL SELECT d2, d1 FROM e),
        deg AS MATERIALIZED (
          SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
        ej AS (SELECT dj.deg AS j, dk.deg AS k
               FROM sym s JOIN deg dj ON dj.src = s.src
                 JOIN deg dk ON dk.src = s.dst),
        sums AS (SELECT CAST(count(*) AS BIGINT) AS m,
            sum(CAST(j AS HUGEINT)) AS sj,
            sum(CAST(j AS HUGEINT) * k) AS sjk,
            sum(CAST(j AS HUGEINT) * j) AS sj2
          FROM ej),
        ds AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(max(deg) AS BIGINT) AS max_degree FROM deg)
        SELECT n_nodes, CAST(m // 2 AS BIGINT) AS n_edges, max_degree,
          CASE WHEN CAST(m AS HUGEINT) * sj2 - sj * sj = 0 THEN 0.0
            ELSE round(CAST(CAST(m AS HUGEINT) * sjk - sj * sj AS DOUBLE)
              / CAST(CAST(m AS HUGEINT) * sj2 - sj * sj AS DOUBLE), 6)
          END AS assortativity
        FROM sums CROSS JOIN ds"""

  /** One k-core peel as CTEs: degrees of the current edge list, the
    * ≥ k survivors, edges restricted to survivor×survivor. */
  private def kCorePeelSql(ePrev: String, r: Int): String =
    s"""dg$r AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT d1 AS vec_id FROM $ePrev
          UNION ALL SELECT d2 FROM $ePrev) GROUP BY vec_id),
        kp$r AS (SELECT vec_id FROM dg$r WHERE deg >= 2),
        e$r AS (SELECT d1, d2 FROM $ePrev
          WHERE d1 IN (SELECT vec_id FROM kp$r)
            AND d2 IN (SELECT vec_id FROM kp$r))"""

  private def kCoreOracle: String =
    s"""WITH ${nearDupEdgesOracle("e0")},
        ${kCorePeelSql("e0", 1)},
        ${kCorePeelSql("e1", 2)},
        ${kCorePeelSql("e2", 3)}
        SELECT vec_id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT d1 AS vec_id FROM e3 UNION ALL SELECT d2 FROM e3)
        GROUP BY vec_id"""

  /** q176: the q86 triangle joins + degree moments over the same edges;
    * Σ per-node participation = 3T so C = 2·Σtri/Σdeg(deg−1), mirrored
    * as the identical double chain. */
  private def transitivityOracle: String =
    s"""WITH ${nearDupEdgesOracle("e")},
        tri AS (SELECT CAST(count(*) AS BIGINT) * 3 AS tri3 FROM (
          SELECT e1.d1 FROM e e1 JOIN e e2 ON e1.d2 = e2.d1
                       JOIN e e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2)),
        deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e) GROUP BY v),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
            sum(CAST(deg AS HUGEINT) * (deg - 1)) AS wedges2 FROM deg),
        ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        SELECT n_nodes, n_edges,
          CAST(tri3 // 3 AS BIGINT) AS n_triangles,
          CAST(wedges2 // 2 AS BIGINT) AS n_wedges,
          CASE WHEN wedges2 = 0 THEN 0.0
            ELSE round(CAST(tri3 AS DOUBLE) / CAST(wedges2 AS DOUBLE) * 2.0, 6)
          END AS transitivity
        FROM tri CROSS JOIN st CROSS JOIN ec"""

  /** q178: the q143 two-ranking overlap with the projected side built
    * from the SAME seeded sign lists as the operator (jlSigns). */
  private def jlRecallOracle: String = {
    val signs = jlSigns(16, 64, 7L)
    val projCols = signs.map(r =>
      "list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), " +
        r.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]") + ")")
      .mkString("[", ", ", "]")
    s"""WITH nf AS MATERIALIZED (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         pf AS MATERIALIZED (SELECT vec_id, $projCols AS v
           FROM embeddings),
         g AS (SELECT qid, nid FROM (
             SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid ASC) AS rk
             FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))), 6) AS sim
                   FROM nf a JOIN nf b
                     ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id))
           WHERE rk <= 10),
         t AS (SELECT qid, nid FROM (
             SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid ASC) AS rk
             FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))), 6) AS sim
                   FROM pf a JOIN pf b
                     ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id))
           WHERE rk <= 10),
         ov AS (SELECT g.qid, CAST(count(*) AS BIGINT) AS n_overlap
           FROM g JOIN t ON g.qid = t.qid AND g.nid = t.nid GROUP BY g.qid)
         SELECT q.qid, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 10.0, 6) AS recall
         FROM (SELECT DISTINCT qid FROM g) q LEFT JOIN ov ON ov.qid = q.qid
         ORDER BY q.qid"""
  }

  private def pageRankOracle: String =
    s"""WITH ${nearDupEdgesOracle("e")},
        adjc AS MATERIALIZED (
          SELECT d1 AS src, d2 AS dst FROM e
          UNION ALL SELECT d2 AS src, d1 AS dst FROM e),
        degc AS MATERIALIZED (
          SELECT src, CAST(count(*) AS BIGINT) AS deg FROM adjc GROUP BY src),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM degc),
        r0 AS (SELECT src AS vec_id, CAST(1000000000000 // n AS BIGINT) AS r
               FROM degc CROSS JOIN nn),
        ${prIterSql("r0", "r1")},
        ${prIterSql("r1", "r2")},
        ${prIterSql("r2", "r3")}
        SELECT vec_id, r AS rank_units FROM r3"""

  /** DuckDB rendering of [[lshBuckets]]'s bucket id: the same seed-42
    * hyperplanes, emitted as SQL literals. Shared by the q43 and q105
    * oracles. */
  private def annBucketSql: String = {
    val nPlanes = 8; val dim = 64
    val rng = new scala.util.Random(42L)
    val planes = Array.fill(nPlanes, dim)(rng.nextGaussian())
    (0 until nPlanes).map { p =>
      val lst = planes(p).map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), $lst) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  private def annLshOracle: String = {
    val bucket = annBucketSql
    s"""WITH bk AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
        scored AS (
          SELECT a.vec_id AS qid, b.vec_id AS nid, round($CosSql, 6) AS sim
          FROM bk a JOIN bk b
            ON a.bucket = b.bucket AND a.vec_id < 8 AND a.vec_id <> b.vec_id)
        SELECT qid, rk, nid, sim FROM (
          SELECT qid, nid, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
          FROM scored) t
        WHERE rk <= 5"""
  }

  val oracles: Map[String, String] = Map(
    // q116: the q40 oracle with the label-mismatch predicate in the join
    "q116_hard_negatives" ->
      s"""WITH scored AS (
            SELECT a.vec_id AS qid, b.vec_id AS nid, b.label AS nlabel,
                   round($CosSql, 6) AS sim
            FROM embeddings a JOIN embeddings b
              ON a.vec_id < 8 AND a.label <> b.label)
          SELECT qid, rk, nid, nlabel, sim FROM (
            SELECT qid, nid, nlabel, sim,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
            FROM scored) t
          WHERE rk <= 5""",
    // q117: fixed 20-bin domain via range(), Laplace-smoothed PSI; the
    // contrib chain mirrors the Spark expression (pa/pb computed as the
    // same one-division doubles), decimal total (order-free)
    "q117_drift_psi" ->
      """WITH e AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS v FROM embeddings),
         bk AS (SELECT least(greatest(CAST(floor((v + 1.0) / 0.1) AS BIGINT), 0), 19) AS bucket,
                       vec_id % 2 = 0 AS is_a FROM e),
         c AS (SELECT bucket,
                 CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
               FROM bk GROUP BY bucket),
         d AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 20)),
         f AS (SELECT d.bucket, COALESCE(n_a, CAST(0 AS BIGINT)) AS n_a,
                      COALESCE(n_b, CAST(0 AS BIGINT)) AS n_b
               FROM d LEFT JOIN c USING (bucket)),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM f),
         g AS (SELECT bucket, n_a, n_b,
                 round(((n_a + 1.0) / (ta + 20.0) - (n_b + 1.0) / (tb + 20.0))
                   * ln(((n_a + 1.0) / (ta + 20.0)) / ((n_b + 1.0) / (tb + 20.0))), 9) AS contrib
               FROM f CROSS JOIN t)
         SELECT bucket, n_a, n_b, contrib,
           round(CAST((SELECT sum(CAST(contrib AS DECIMAL(28,12))) FROM g) AS DOUBLE), 6) AS psi_total
         FROM g""",
    // q103: same floor(x*127/ma + 0.5) double sequence as
    // quantizeInt8Report — lambdas capture the row's ma, outputs integer
    "q103_quantize_int8" ->
      """WITH q AS (
           SELECT label, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS ma
           FROM embeddings),
         c AS (
           SELECT label,
             list_transform(embedding, x ->
               CASE WHEN ma = 0.0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT) END) AS codes
           FROM q)
         SELECT label, count(*) AS n_vecs,
           CAST(sum(list_aggregate(codes, 'sum')) AS BIGINT) AS sum_codes,
           CAST(sum(len(list_filter(codes, c -> abs(c) = 127))) AS BIGINT) AS n_sat
         FROM c GROUP BY label""",
    "q43_ann_lsh" -> annLshOracle,
    // q105: the q43 LSH chain vs the q40 exact chain, overlapped per query
    "q105_ann_recall" ->
      s"""WITH bk AS (SELECT vec_id, embedding, $annBucketSql AS bucket FROM embeddings),
          lsh AS (
            SELECT qid, nid FROM (
              SELECT a.vec_id AS qid, b.vec_id AS nid,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY round($CosSql, 6) DESC, b.vec_id ASC) AS rk
              FROM bk a JOIN bk b
                ON a.bucket = b.bucket AND a.vec_id < 8 AND a.vec_id <> b.vec_id) t
            WHERE rk <= 5),
          ex AS (
            SELECT qid, nid FROM (
              SELECT a.vec_id AS qid, b.vec_id AS nid,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY round($CosSql, 6) DESC, b.vec_id ASC) AS rk
              FROM embeddings a JOIN embeddings b
                ON a.vec_id < 8 AND a.vec_id <> b.vec_id) t
            WHERE rk <= 5),
          nap AS (SELECT qid, count(*) AS n_approx FROM lsh GROUP BY qid)
          SELECT e.qid, count(*) AS n_exact,
            COALESCE(any_value(nap.n_approx), 0) AS n_approx,
            CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
            CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*) AS recall
          FROM ex e LEFT JOIN lsh l ON e.qid = l.qid AND e.nid = l.nid
                    LEFT JOIN nap ON nap.qid = e.qid
          GROUP BY e.qid""",
    // q106: identical floor(x*1e6 + 0.5) scaled-long sums + divide sequence
    // to covarianceReport
    "q106_covariance" ->
      """WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         nn AS (SELECT count(*) AS n FROM e),
         idx AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 64)),
         pairs AS (
           SELECT a.i AS i, b.i AS j,
             CAST(sum(CAST(floor(v[a.i + 1] * v[b.i + 1] * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sxy
           FROM e, idx a, idx b WHERE b.i >= a.i GROUP BY a.i, b.i),
         dims AS (SELECT i.i AS i,
                    CAST(sum(CAST(floor(v[i.i + 1] * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sx
                  FROM e, idx i GROUP BY i.i)
         SELECT p.i, p.j, nn.n AS n_vecs,
           round(CAST(p.sxy AS DOUBLE) / 1000000.0 / nn.n
             - (CAST(da.sx AS DOUBLE) / 1000000.0 / nn.n)
               * (CAST(db.sx AS DOUBLE) / 1000000.0 / nn.n), 6)
             + 0.0 AS cov
         FROM pairs p JOIN dims da ON da.i = p.i JOIN dims db ON db.i = p.j
         CROSS JOIN nn""",
    "q93_classifier" -> classifierOracle,
    "q146_calibration" -> calibrationOracle,
    "q147_logreg_train" -> logregOracle,
    "q153_mmr_rerank" -> mmrOracle,
    "q155_classifier_auc" -> aucOracle,
    "q164_threshold_sweep" -> thresholdSweepOracle,
    "q166_hits" -> hitsOracle,
    "q171_brier_decomposition" -> brierOracle,
    "q174_assortativity" -> assortativityOracle,
    "q175_kcore" -> kCoreOracle,
    "q176_transitivity" -> transitivityOracle,
    "q178_jl_recall" -> jlRecallOracle,
    // q168: the q42 decimal-mean centroids carried into a pos-keyed
    // self-join; identical round-12/DECIMAL(28,14)/sqrt·sqrt finish
    "q168_centroid_affinity" ->
      """WITH el AS (
           SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                  unnest(embedding) AS v
           FROM embeddings),
         mv AS MATERIALIZED (
           SELECT label, pos,
             CAST(sum(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(28,10))) AS DOUBLE)
               / count(*) AS mean_v
           FROM el GROUP BY label, pos),
         j AS (
           SELECT a.label AS label_a, b.label AS label_b,
             sum(CAST(round(a.mean_v * b.mean_v, 12) AS DECIMAL(28,14))) AS dot_d,
             sum(CAST(round(a.mean_v * a.mean_v, 12) AS DECIMAL(28,14))) AS na_d,
             sum(CAST(round(b.mean_v * b.mean_v, 12) AS DECIMAL(28,14))) AS nb_d
           FROM mv a JOIN mv b ON a.pos = b.pos AND a.label < b.label
           GROUP BY a.label, b.label)
         SELECT label_a, label_b,
           round(CAST(dot_d AS DOUBLE)
             / (sqrt(CAST(na_d AS DOUBLE)) * sqrt(CAST(nb_d AS DOUBLE))), 6) AS cos_sim
         FROM j""",
    "q94_pagerank" -> pageRankOracle,
    // q143: both rankings use the q40 round-6-sim + nid tie-break, so the
    // top-k sets are engine-exact on both the full and the sliced side
    "q143_truncation_recall" ->
      s"""WITH nf AS MATERIALIZED (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         tf AS MATERIALIZED (SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         g AS (SELECT qid, nid FROM (
             SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid ASC) AS rk
             FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))), 6) AS sim
                   FROM nf a JOIN nf b
                     ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id))
           WHERE rk <= 10),
         t AS (SELECT qid, nid FROM (
             SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, nid ASC) AS rk
             FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))), 6) AS sim
                   FROM tf a JOIN tf b
                     ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id))
           WHERE rk <= 10),
         ov AS (SELECT g.qid, CAST(count(*) AS BIGINT) AS n_overlap
           FROM g JOIN t ON g.qid = t.qid AND g.nid = t.nid GROUP BY g.qid)
         SELECT qs.qid,
           CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
           round(CAST(coalesce(n_overlap, 0) AS DOUBLE) /
                 CAST(10 AS DOUBLE), 6) AS recall
         FROM (SELECT DISTINCT qid FROM g) qs
         LEFT JOIN ov ON qs.qid = ov.qid ORDER BY qs.qid""",
    "q40_knn_bruteforce" ->
      s"""WITH scored AS (
            SELECT a.vec_id AS qid, b.vec_id AS nid, round($CosSql, 6) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < 8 AND a.vec_id <> b.vec_id)
          SELECT qid, rk, nid, sim FROM (
            SELECT qid, nid, sim,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
            FROM scored) t
          WHERE rk <= 5""",
    "q41_cosine_neardup" ->
      s"""SELECT a.vec_id AS d1, b.vec_id AS d2, round($CosSql, 6) AS sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE round($CosSql, 6) >= 0.4""",
    "q86_triangles" ->
      s"""WITH ${nearDupEdgesOracle("e")},
          tri AS (
            SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
            FROM e e1 JOIN e e2 ON e1.d2 = e2.d1
                      JOIN e e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2)
          SELECT vec_id, CAST(count(*) AS BIGINT) AS n_tri
          FROM (SELECT unnest([a, b, c]) AS vec_id FROM tri) t
          GROUP BY vec_id""",
    "q42_centroids" ->
      """WITH el AS (
           SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                  unnest(embedding) AS v
           FROM embeddings),
         mv AS (
           SELECT label, pos,
             CAST(sum(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mean_v
           FROM el GROUP BY label, pos)
         SELECT label, count(*) AS dim,
           round(sqrt(CAST(sum(CAST(round(mean_v * mean_v, 12) AS DECIMAL(28,14))) AS DOUBLE)), 6) AS centroid_norm
         FROM mv GROUP BY label""",
  )
}
