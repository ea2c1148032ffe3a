package graft

import graft.JobCount.jobsOf

/** Codified physical-plan contracts for the scale-critical queries — the
  * automated twin of PLANS.md. Each test pins the plan property that makes
  * the operator survive a 100 TB scale-up; a Catalyst upgrade, an operator
  * edit, or a lost hint that silently regresses the plan shape fails HERE,
  * not in a production profile. String checks run on the pre-AQE physical
  * plan (the statically-planned joins and scans — what the optimizer
  * committed to before runtime stats).
  */
class PlanContractSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private val pairwiseOps = Seq(
    "q34_ngram_jaccard", "q35_minhash_lsh", "q36_simhash_pairs",
    "q43_ann_lsh", "q58_dedup_components", "q121_containment",
    "q75_range_join", "q22_cell_neighborhood",
    "q56_asof_join", "q66_pipeline_summary")

  /** q24's distributed fallback: a driver cell limit of 0 forces it (at
    * this scale q24 itself takes the driver path, a bare LocalTableScan). */
  private def q24Fallback: String = {
    import graft.ops.Geometry
    Geometry.exactOutliers(Geometry.customerPoints(spark, sfDir), Geometry.D2, Geometry.M2,
      driverCellLimit = 0).queryExecution.executedPlan.toString
  }

  test("pairwise operators never plan a nested loop or cartesian product") {
    try {
      for ((q, p) <- pairwiseOps.map(q => q -> plan(q)) :+ ("q24 fallback" -> q24Fallback)) {
        assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
          s"$q planned a nested loop:\n$p")
      }
    } finally graft.core.InternalCaches.release(spark)
  }

  test("HW1/HW2 point ops: bounded job counts on the driver paths") {
    // eager-path operators hide their distributed work behind a bare
    // LocalTableScan, so the job count is the contract: the exact outliers
    // run the grid-pass histogram and ONE candidate-point job over the
    // same planned rows; MRFFT on a broadcast-sized input runs one job with
    // no shuffle, and above the threshold R1, in the job of its array
    // shuffle's map stage, and R3 over one cached array pair per
    // partition; the approximate outliers run the grid pass only
    import graft.ops.Geometry
    import spark.implicits._
    val pts = GeometrySpec.clusteredPoints.toDF("id", "x", "y").cache()
    try {
      pts.count()
      val radius = Geometry.mrFFT(pts, k = 30, l = 4)._1
      var exact: org.apache.spark.sql.DataFrame = null
      val exactJobs = jobsOf(spark) { exact = Geometry.exactOutliers(pts, radius, 10) }
      val p = exact.queryExecution.executedPlan.toString
      assert(p.contains("LocalTableScan") && !p.contains("Exchange"),
        s"exact outliers left the driver path:\n$p")
      assert(GeometrySpec.plantedIds.subsetOf(exact.collect().map(_.getLong(0)).toSet))
      assert(exactJobs <= 2, s"exactOutliers ran $exactJobs jobs")
      val (fftJobs, fftStages) = JobCount.jobsAndStagesOf(spark)(Geometry.mrFFT(pts, k = 30, l = 4))
      assert(fftJobs == 1 && fftStages == 1, s"mrFFT ran $fftJobs jobs, $fftStages stages")
      val bigJobs = withBroadcastThreshold("-1")(jobsOf(spark)(Geometry.mrFFT(pts, k = 30, l = 4)))
      assert(bigJobs <= 2, s"mrFFT above the threshold ran $bigJobs jobs")
      var approx: org.apache.spark.sql.DataFrame = null
      val approxJobs = jobsOf(spark) { approx = Geometry.approxOutliers(pts, radius, 10) }
      assert(approxJobs <= 1, s"approxOutliers ran $approxJobs jobs")
      val ap = approx.queryExecution.executedPlan
      assert(ap.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
        s"approx outliers left the driver path:\n$ap")
      assert(jobsOf(spark)(approx.collect()) == 0)
    } finally { pts.unpersist(); graft.core.InternalCaches.release(spark) }
  }

  test("tokenizer trainers: bounded job counts over eight merges") {
    // the trainers return driver-local merge tables, so the job count is
    // the contract: one bounded count collect per merge (its shuffle stage
    // and its result, two jobs under AQE) over the lazily checkpointed
    // word table — measured 18 for BPE and 16 for WordPiece. An eager
    // checkpoint or a second per-merge count adds eight.
    import graft.ops.Text
    import spark.implicits._
    val words = Seq("low", "lower", "lowest", "newer", "newest", "wider", "widest")
    val docs = Seq.tabulate(30)(i => (i.toLong, words.drop(i % 4).mkString(" ")))
      .toDF("doc_id", "text")
    try {
      var bpe = 0
      val bound = 18
      val bpeJobs = jobsOf(spark) { bpe = Text.bpeTrain(docs, nMerges = 8).collect().length }
      assert(bpe == 8 && bpeJobs <= bound, s"bpeTrain ran $bpeJobs jobs for $bpe merges")
      var wp = 0
      val wpJobs = jobsOf(spark) { wp = Text.wordpieceTrain(docs, nMerges = 8).collect().length }
      assert(wp == 8 && wpJobs <= bound, s"wordpieceTrain ran $wpJobs jobs for $wp merges")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q41: the only nested loop is the block-pair table, bounded by block count") {
    // the block outer product deliberately cross-joins two Range(0, nBlocks)
    // frames to build the bi <= bj block-pair table — nBlocks² rows (single
    // digits), independent of data size. DATA rows must only ever meet
    // through the bi/bj equi-joins.
    try {
      val p = plan("q41_cosine_neardup")
      val occurrences = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(occurrences == 1, s"q41 expected exactly the block-pair nested loop:\n$p")
      assert(p.contains("Range (0,"), s"q41 nested loop no longer over Range:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
        s"q41 data sides lost their equi-joins:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val p = plan("q02_filter_project")
    // the one-line FileScan rendering truncates long filter lists, so match
    // a prefix that survives truncation
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q02 filter not pushed:\n$p")
    // pruned read: the 16-column lineitem scan must read only what q02 uses
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp_ntz>"), s"q02 reads extra columns:\n$p")
  }

  test("q01: partial+final hash aggregation around one exchange") {
    val p = plan("q01_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"q01 lost partial agg:\n$p")
    assert(p.contains("Exchange"), s"q01 lost its shuffle:\n$p")
  }

  test("q04: the dimension side of the star join broadcasts") {
    val p = plan("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"q04 dim join not broadcast:\n$p")
  }

  test("q06/q07: semi and anti joins stay semi/anti (no rewrite to full join)") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q07_anti_join").contains("LeftAnti"))
  }

  test("q03: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q03_topk")
    assert(p.contains("TakeOrderedAndProject"), s"q03 planned a full sort:\n$p")
  }

  test("q71: the fixed eval set drives a semi-join, never a row explosion join") {
    try {
      val p = plan("q71_decontaminate")
      assert(p.contains("LeftSemi"), s"q71 lost the semi-join:\n$p")
      assert(!p.contains("BroadcastNestedLoop"), s"q71 planned a nested loop:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q78/q79: composed joins broadcast their dims and keep aggregates placed") {
    // q78: the fact table is probed through broadcast hash joins (no
    // shuffle join at gate SF) and aggregation sits above the join tree
    val p78 = plan("q78_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p78).length == 5, s"q78 join chain changed:\n$p78")
    assert(!p78.contains("SortMergeJoin"), s"q78 shuffled a dim at gate SF:\n$p78")
    // q79: BOTH aggregations stay BELOW the join (partial+final each) and
    // the aggregated frames broadcast — the join carries |nations| rows
    val p79 = plan("q79_agg_join")
    assert("HashAggregate".r.findAllIn(p79).length >= 4, s"q79 lost an agg tier:\n$p79")
    assert("BroadcastHashJoin".r.findAllIn(p79).length == 3, s"q79 join shape changed:\n$p79")
  }

  test("q78/q79: with auto-broadcast disabled the composition degrades to sane shuffle joins") {
    // q78's doc claims that at 100 TB supplier/customer/orders "degrade to
    // shuffle joins under AQE" while nation/region stay broadcast by their
    // explicit hints. This is the cheapest scale-down proof: kill the
    // planner's size-based broadcasts entirely and assert the degraded
    // tree is the one the claim describes — SortMergeJoins for the big
    // sides, the two hinted dims still broadcast, no nested loop or
    // cartesian anywhere — and that the degraded plan computes the SAME
    // rows (revenue sums are exact decimals, so join order/strategy
    // cannot move the result).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    def rows(name: String): Set[Seq[Any]] =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toSeq).toSet
    val want78 = rows("q78_multi_join")
    val want79 = rows("q79_agg_join")
    try {
      spark.conf.set(key, "-1")
      val p78 = plan("q78_multi_join")
      assert(!p78.contains("BroadcastNestedLoop") && !p78.contains("CartesianProduct"),
        s"q78 degraded to a scale-killer plan:\n$p78")
      assert("SortMergeJoin".r.findAllIn(p78).length == 3,
        s"q78 expected lineitem-orders-customer-supplier as 3 shuffle joins:\n$p78")
      assert("BroadcastHashJoin".r.findAllIn(p78).length == 2,
        s"q78 nation/region must STAY broadcast via their explicit hints:\n$p78")
      val p79 = plan("q79_agg_join")
      assert(!p79.contains("BroadcastNestedLoop") && !p79.contains("CartesianProduct"),
        s"q79 degraded to a scale-killer plan:\n$p79")
      assert("HashAggregate".r.findAllIn(p79).length >= 4,
        s"q79 lost an agg tier under the degraded plan:\n$p79")
      assert(p79.contains("SortMergeJoin"),
        s"q79 expected the fact-side joins to shuffle without broadcast:\n$p79")
      assert(rows("q78_multi_join") == want78,
        "q78 degraded plan changed the result")
      assert(rows("q79_agg_join") == want79,
        "q79 degraded plan changed the result")
    } finally spark.conf.set(key, prev)
  }

  test("IVF serve path: the bucketed index scan prunes to the probed buckets") {
    // ivfKnn's doc promises the production path persists the index as a
    // table bucketed by centroid_id; this pins the payoff — serving reads
    // ONLY the probed buckets (SelectedBucketsCount < nlist in the scan),
    // and the served result is value-identical to rebuilding the index.
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    try {
      val centroids = graft.ops.Ann.ivfWriteIndex(emb, "b_ivf_index", nlist = 16)
      val queries = emb.filter(col("vec_id") < 3)
      val served = graft.ops.Ann.ivfServeKnn(spark, "b_ivf_index", centroids,
        queries, k = 5, nprobe = 3)
      val p = served.queryExecution.executedPlan.toString
      val m = raw"SelectedBucketsCount: (\d+) out of (\d+)".r.findFirstMatchIn(p)
      assert(m.isDefined, s"index scan not bucket-pruned:\n$p")
      val (sel, tot) = (m.get.group(1).toInt, m.get.group(2).toInt)
      assert(tot == 16, s"index not written with 16 buckets:\n$p")
      assert(sel <= 9 && sel < tot, // 3 queries x nprobe 3 => at most 9 cells
        s"scan reads $sel of $tot buckets — pruning lost:\n$p")
      val rebuilt = graft.ops.Ann.ivfKnn(emb, col("vec_id") < 3, k = 5,
        nlist = 16, nprobe = 3).collect().map(_.toSeq).toSet
      assert(served.collect().map(_.toSeq).toSet == rebuilt,
        "served result diverged from the rebuild-every-time result")
      // the loud bounded-queries precondition: an oversized query side
      // fails BEFORE the broadcast join is built, not as an executor OOM
      // (3 queries x nprobe 3 = 9 probe rows > the bound of 2)
      val e = intercept[IllegalArgumentException] {
        graft.ops.Ann.ivfServeKnn(spark, "b_ivf_index", centroids, queries,
          k = 5, nprobe = 3, maxBroadcastRows = 2L)
      }
      assert(e.getMessage.contains("maxBroadcastRows"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_ivf_index")
      graft.core.InternalCaches.release(spark)
    }
  }

  test("q80/q81: top-K reduction + bucketed quota ranks (no global sort/window)") {
    try {
      // q80: the hot-line list must plan as a distributed top-K reduction
      // (TakeOrderedAndProject), never a global sort or a window over the
      // distinct-line space, and the removal anti-join must broadcast
      val p80 = plan("q80_line_dedup")
      assert(p80.contains("TakeOrderedAndProject"), s"q80 hot-line list lost its top-K reduction:\n$p80")
      assert(p80.contains("BroadcastHashJoin") && p80.contains("LeftAnti"),
        s"q80 removal is not a broadcast anti-join:\n$p80")
      assert(!p80.contains("BroadcastNestedLoop") && !p80.contains("CartesianProduct"),
        s"q80 planned a scale-killer join:\n$p80")
      // q81: both rank stages hash-partition (source[, bucket]) — a hot
      // domain never sorts on a single reducer
      val p81 = plan("q81_source_quota")
      assert(!p81.contains("SinglePartition"), s"q81 ranks on one reducer:\n$p81")
      assert(p81.contains("hashpartitioning(source"), s"q81 not partitioned by source:\n$p81")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q72: the shard ranks partition by shard (no single-reducer window)") {
    val p = plan("q72_shards")
    // a Window over an EMPTY partition spec plans Exchange SinglePartition;
    // the shard manifest must hash-partition by shard instead
    assert(!p.contains("SinglePartition"), s"q72 ranks on one reducer:\n$p")
    assert(p.contains("hashpartitioning(shard"), s"q72 not partitioned by shard:\n$p")
  }

  test("q84: the posting build is ONE partial+final hash agg, no window, no sort") {
    // the posting rows must come out of a single combine-friendly hash
    // aggregation keyed by (token, doc_id) — positions sort INSIDE the
    // aggregate (per-doc arrays), so any Window or global Sort in the plan
    // means a corpus-wide re-sort snuck in
    val p = plan("q84_inverted_index")
    assert(!p.contains("Window"), s"q84 planned a window:\n$p")
    assert(!p.contains("SinglePartition"), s"q84 funneled to one reducer:\n$p")
    assert("ObjectHashAggregate|HashAggregate".r.findAllIn(p).length >= 2,
      s"q84 lost its partial aggregation:\n$p")
  }

  test("q85: KMeans assignment is join-free — centroids ride the expression") {
    // NearestCells carries the k×dim centroids as expression state: the
    // N-row side must see NO join of any kind and exactly the two
    // aggregation exchanges (partial/final of the k-row rollup)
    val p = plan("q85_kmeans_assign")
    assert(!p.contains("Join"), s"q85 planned a join for assignment:\n$p")
    assert(p.contains("graft_nearest_cells"), s"q85 lost the native argmin:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"q85 lost its partial aggregation:\n$p")
  }

  test("q87/q88: cluster-bucketed candidates and the scoring join stay equi-joins") {
    try {
      // q87: the within-cluster pair step must be an EQUI-join on the
      // cluster id (the whole point of semantic bucketing) — no nested
      // loop, no cartesian, and the assignment expression present
      val p87 = plan("q87_semantic_dedup")
      assert(!p87.contains("BroadcastNestedLoop") && !p87.contains("CartesianProduct"),
        s"q87 planned a scale-killer join:\n$p87")
      assert(p87.contains("graft_nearest_cells") || p87.contains("InMemoryTableScan"),
        s"q87 lost the native assignment:\n$p87")
      // q88: token→count scoring is an equi-join (NOT forced broadcast —
      // a corpus vocabulary at scale is huge), the single-row total is
      // broadcast, and no window anywhere
      val p88 = plan("q88_unigram_logprob")
      assert(!p88.contains("Window") && !p88.contains("CartesianProduct"),
        s"q88 planned a window/cartesian:\n$p88")
      assert("HashAggregate".r.findAllIn(p88).length >= 4,
        s"q88 lost its partial aggregation tiers:\n$p88")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q86: triangle joins are equi-joins, edge frame computed once") {
    try {
      // the graph step in isolation: a synthetic edge frame (no cached
      // subtree noise) must plan the pivot + closure as hash equi-joins
      // with zero nested loops
      import spark.implicits._
      val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("d1", "d2")
      val pg = graft.ops.Embeddings.triangleCounts(edges)
        .queryExecution.executedPlan.toString
      assert(!pg.contains("BroadcastNestedLoop") && !pg.contains("CartesianProduct"),
        s"triangle step planned a nested loop:\n$pg")
      assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(pg).length >= 2,
        s"triangle steps lost their equi-joins:\n$pg")
      // the composed gate: the expensive cosine edge list must come out of
      // a persisted frame (InMemoryTableScan — each of the three edge
      // consumers reads the cache, never recomputes the block outer
      // product), and nothing plans a cartesian
      val p = plan("q86_triangles")
      assert(!p.contains("CartesianProduct"), s"q86 planned a cartesian:\n$p")
      assert(p.contains("InMemoryTableScan"), s"q86 edge frame not cached:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q97: with auto-broadcast disabled the cohort join degrades to a sane shuffle join") {
    // q97's doc claims the per-user first-week dimension broadcasts at
    // gate SF and "AQE degrades the join to sort-merge on user_id" at
    // billions of users — the q78/q79 scale-down proof, restated: kill
    // size-based broadcasts, assert the degraded tree is a plain
    // equi-join, and that it computes identical rows (integer week
    // arithmetic, so strategy cannot move the result).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    def rows(): Set[Seq[Any]] =
      SparkEntry.queries("q97_cohorts")(spark, sfDir).collect().map(_.toSeq).toSet
    val want = rows()
    try {
      spark.conf.set(key, "-1")
      val p = plan("q97_cohorts")
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"q97 degraded to a scale-killer plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"q97 expected a shuffle equi-join without broadcast:\n$p")
      assert(rows() == want, "q97 degraded plan changed the result")
    } finally spark.conf.set(key, prev)
  }

  test("q93: classifier inference is a pure map stage — no shuffle before the report agg") {
    val p = plan("q93_classifier")
    // the model rides the plan as a literal: no join of any kind, and the
    // only exchange is the final 8-row report aggregation
    assert(!p.contains("Join"), s"q93 planned a join for a plan-literal model:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"q93 should shuffle exactly once (the report agg):\n$p")
    // column pruning: the scan must not read vec_id
    assert(p.contains("ReadSchema: struct<embedding:array<float>,label:int>"),
      s"q93 reads extra columns:\n$p")
  }

  test("q94: pagerank iterations are equi-joins over the cached adjacency") {
    try {
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("d1", "d2")
      val p = graft.ops.Embeddings.pageRank(edges, iters = 3)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"pagerank planned a nested loop:\n$p")
      // every iteration walks the SAME cached adjacency+degree frame
      assert(p.contains("InMemoryTableScan"), s"pagerank adjacency not cached:\n$p")
      assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length >= 3,
        s"pagerank lost its per-iteration equi-joins:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q103/q106: quantization and covariance are scan-riding map+agg — no join of data rows") {
    val pq = plan("q103_quantize_int8")
    // pure map stage into one partial+final label rollup: a single exchange
    assert(!pq.contains("Join"), s"q103 planned a join:\n$pq")
    assert("Exchange".r.findAllIn(pq).length == 1,
      s"q103 should shuffle exactly once (the label rollup):\n$pq")
    assert(pq.contains("ReadSchema: struct<embedding:array<float>,label:int>"),
      s"q103 reads extra columns:\n$pq")
    // the gate's default covariance path is a treeAggregate fold (its
    // "plan" is the driver-built result table); the declarative twin must
    // keep the shape that makes IT scale: the d²/2 pair explosion
    // aggregated map-side BEFORE the exchange, and the dimension-sum
    // frames broadcast back onto the 2080-row grid
    val pc = graft.ops.Embeddings.covarianceReportExplode(
      graft.core.Tables.embeddings(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(pc).length >= 4,
      s"q106 lost partial aggregation (explode rows would hit the shuffle raw):\n$pc")
    assert(!pc.contains("BroadcastNestedLoop") && !pc.contains("CartesianProduct"),
      s"q106 planned a nested loop:\n$pc")
    assert(pc.contains("BroadcastHashJoin"),
      s"q106 dimension sums no longer broadcast onto the pair grid:\n$pc")
    // column pruning: neither vec_id nor label is read
    assert(pc.contains("ReadSchema: struct<embedding:array<float>>"),
      s"q106 reads extra columns:\n$pc")
  }

  test("q104/q105/q107: overlap, recall and novelty joins stay equi-joins") {
    try {
      for (q <- Seq("q104_source_overlap", "q107_novelty")) {
        val p = plan(q)
        assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
          s"$q planned a nested loop:\n$p")
      }
      // q105's ground-truth side IS the q40 brute force: exactly one
      // broadcast θ-join of the bounded eval sample against the corpus
      // (the exactness baseline — the LSH side must stay an equi-join)
      val p105 = plan("q105_ann_recall")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p105).length == 1,
        s"q105 expected exactly the brute-force broadcast θ-join:\n$p105")
      assert(!p105.contains("CartesianProduct"), s"q105 planned a cartesian:\n$p105")
      assert(p105.contains("BroadcastHashJoin"),
        s"q105 LSH side lost its bucket equi-join:\n$p105")
      // q104's distinct over (source, shingle) must partial-aggregate
      // map-side: a raw explode hitting the exchange is the 100 TB failure
      val p104 = plan("q104_source_overlap")
      assert("HashAggregate".r.findAllIn(p104).length >= 2,
        s"q104 distinct lost its partial agg:\n$p104")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q109: pair top-K is a bounded heap, never a global sort") {
    val p = plan("q109_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"q109 top-K lost its bounded heap:\n$p")
    assert(!p.contains("Sort "), s"q109 planned a global sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"q109 pair count lost its partial agg:\n$p")
  }

  test("q113: BM25 top-k is a bounded heap; df and stats broadcast; tf partial-aggs") {
    val p = plan("q113_bm25")
    // the final ranking must never be a global sort of the scored docs
    assert(p.contains("TakeOrderedAndProject"),
      s"q113 top-k lost its bounded heap:\n$p")
    // terms-bounded df table and the 1-row stats frame join by broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      s"q113 df join no longer broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), s"q113 planned a cartesian:\n$p")
    // per-(doc, term) tf must partial-aggregate before its exchange: the
    // explode's surviving rows, not raw tokens, size the shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"q113 tf lost its partial agg:\n$p")
  }

  test("q157/q161/q177: BM25 posting-kernel rankers keep their heaps, broadcasts and partial aggs") {
    // exact join counts of the executed plan (cached subplans included):
    // the df join broadcasts, the 1-row stats frame rides a broadcast
    // crossJoin, and q161's per-term rollups join by broadcast
    val want = Map(
      "q157_rm3_expansion" -> ((1, 1, "TakeOrderedAndProject")),
      "q161_ndcg" -> ((7, 4, "TopKPerKey")),
      "q177_mrr" -> ((1, 1, "TopKPerKey")))
    try {
      for ((q, (bhj, bnlj, heap)) <- want) {
        val p = plan(q)
        assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
          s"$q shuffles posting rows for a join:\n$p")
        assert("BroadcastHashJoin".r.findAllIn(p).length == bhj,
          s"$q expected $bhj broadcast hash joins:\n$p")
        assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == bnlj,
          s"$q expected $bnlj broadcast 1-row crossJoins:\n$p")
        assert(p.contains(heap), s"$q top-k lost its bounded heap:\n$p")
        assert("HashAggregate".r.findAllIn(p).length >= 2,
          s"$q tf lost its partial agg:\n$p")
        graft.core.InternalCaches.release(spark)
      }
      // q157 collects its expansion-term weights while it is built: pass 1,
      // the relevance model and the weight collect run here, not at write
      val rm3Jobs = jobsOf(spark)(SparkEntry.queries("q157_rm3_expansion")(spark, sfDir))
      assert(rm3Jobs == 21, s"q157 construction ran $rm3Jobs jobs")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q114/q117: corpus work is one partial-agg'd aggregation; windows run post-agg") {
    for (q <- Seq("q114_temperature_mix", "q117_drift_psi")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"$q planned a nested loop:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q corpus agg lost its map-side combine:\n$p")
      // exactly one corpus scan: the bounded-frame windows must never
      // trigger a second read of the fact table
      val scans = "FileScan parquet".r.findAllIn(p).length
      assert(scans == 1, s"$q expected one corpus scan, got $scans:\n$p")
    }
  }

  test("q115: PMI pairs come from one Generate per scan — no positional self-join") {
    try {
      val p = plan("q115_pmi_cooc")
      // the only permitted nested loops are the 1-row × 1-row join that
      // assembles the totals frame and its cross join onto the
      // vocab-bounded pair table — both constant-sized by construction
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
        s"q115 planned a data-sized nested loop:\n$p")
      assert(!p.contains("CartesianProduct"), s"q115 planned a cartesian:\n$p")
      // unigram tables join the pair rollup by broadcast (vocab-bounded)
      assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
        s"q115 unigram joins no longer broadcast:\n$p")
      // pair generation is explode (Generate), never a positional self-join
      assert(p.contains("Generate"), s"q115 lost its generator:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"q115 pair count lost its partial agg:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q116: hard negatives ride the bounded-query broadcast, ranked per query") {
    val p = plan("q116_hard_negatives")
    // the label-mismatch θ-join is the q40 shape: the BOUNDED query side
    // broadcasts; the corpus is never shuffled pairwise
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"q116 expected exactly the bounded-query broadcast θ-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q116 planned a cartesian:\n$p")
    // query-side pushdown: vec_id < 8 reaches the scan
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,8)")
      || p.contains("LessThan(vec_id,8)"), s"q116 query filter not pushed:\n$p")
  }

  test("q120/q122/q127/q156: LM scoring joins all broadcast — eval rows never shuffle") {
    // the reference-corpus-LM contract: model tables (vocab/n-gram
    // bounded) broadcast onto the eval explode; the only non-hash join is
    // the 1-row totals crossJoin. A SortMergeJoin here means the eval
    // corpus started shuffling by n-gram — the shape that dies at 100 TB.
    // q162 and q179, the other two scorers on the shared n-gram kernel,
    // ride the same loop.
    try {
      for (q <- Seq("q120_bigram_score", "q122_trigram_score", "q127_fivegram_score",
                    "q156_kneser_ney", "q162_witten_bell", "q179_jelinek_mercer")) {
        val p = plan(q)
        assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
          s"$q shuffles eval rows:\n$p")
        assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
        // every scorer reads ONE 1-row totals frame off the shared n-gram
        // kernel (q156's bigram-type and vocab counts included)
        assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
          s"$q expected exactly one 1-row totals broadcast crossJoin:\n$p")
        val bhj = "BroadcastHashJoin".r.findAllIn(p).length
        // q127 (round 17, prefix-fused): FIVE eval-side joins (5/4/3/2-gram
        // hit tables each carrying their prefix-context count, + unigram)
        // plus FOUR model-side prefix joins inside the broadcast subtrees
        // (train-bounded, never see an eval row) = 9 BHJs in the plan —
        // same count as the unfused r16 shape, but eval rows now pass 5
        // hash probes instead of 9.
        // q156: bigram + left-continuation + right-continuation = 3
        // q162/q179: bigram + history + unigram = 3
        val want = if (q.startsWith("q127")) 9 else if (q.startsWith("q122")) 5
          else if (q.startsWith("q120")) 2 else 3
        assert(bhj == want, s"$q expected $want broadcast model joins, got $bhj:\n$p")
      }
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q124: frozen-table BPE inference is join-free — one replace projection, bounded heap") {
    // the merge table is plan-time data, so the apply side must contain
    // NO join operator of any kind: scan -> word agg -> nested-replace
    // project -> symbol explode -> agg -> TakeOrderedAndProject
    try {
      val p = plan("q124_bpe_inference")
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"q124 apply side planned a join:\n$p")
      assert(p.contains("replace("), s"q124 lost the replace projection:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"q124 top-K not a bounded heap:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q129: the C4 rule battery is one join-free projection") {
    // the q126/q128 contract: per-row integer counts + one division,
    // nothing but scan work — any join or exchange before the scan's own
    // output means the rule battery stopped being embarrassingly parallel
    val p = plan("q129_c4_rules")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"q129 planned a join:\n$p")
    assert(!p.contains("Exchange"), s"q129 shuffles a pure projection:\n$p")
  }

  test("q130: DSIR models broadcast — candidate rows never shuffle") {
    // the q120/q122 LM contract at DSIR shape: the bucket-count model
    // table (<= B rows by construction) broadcasts onto the candidate
    // side's feature explode; the only non-hash join is the 1-row totals
    // crossJoin. A SortMergeJoin means candidate features started
    // shuffling by bucket — the shape that dies on a 100 TB crawl.
    // Round 20: target and raw counts are FUSED into one bucket table
    // (ct conditional-sum + cr count in a single aggregation), so the
    // contract is exactly ONE broadcast model join — a second one means
    // the per-role aggregations came back.
    try {
      val p = plan("q130_dsir_weights")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"q130 shuffles candidate rows:\n$p")
      assert(!p.contains("CartesianProduct"), s"q130 planned a cartesian:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).length == 1,
        s"q130 expected ONE fused broadcast model join:\n$p")
      assert("Expand".r.findAllIn(p).isEmpty,
        s"q130 fused ct/cr aggregation must not Expand:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q131: contamination spans broadcast the eval set and window per doc") {
    // the q71 contract plus the islands window: the distinct eval-shingle
    // set joins as a BROADCAST semi-join (benchmark-bounded), and the
    // only sort is the per-document window's partition-local sort — no
    // global ordering operator anywhere.
    try {
      val p = plan("q131_contamination_spans")
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
        s"q131 eval set not a broadcast semi-join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"q131 shuffled the semi-join:\n$p")
      // row_number over (doc_id, pos) must be a partitioned window, never
      // a single-partition global one
      assert(!p.toLowerCase.contains("singlepartition"),
        s"q131 planned a single-partition exchange:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q138/q142: BLEU clip join and edit-verify joins stay equi-joins") {
    // q138's clip join keys by (doc_id, n, gram) — a corpus-hot gram never
    // meets itself across documents; q142's verify joins ship bounded
    // prefixes onto the LSH candidate pairs. Neither may degenerate into
    // a nested loop or cartesian.
    try {
      for (q <- Seq("q138_corpus_bleu", "q142_edit_verified")) {
        val p = plan(q)
        assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
          s"$q planned a nested loop:\n$p")
      }
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q139: the Zipf rank cut is the bounded-heap operator, partial then final") {
    // the per-source top-R cut must be TopKPerKey (map-side partial heap +
    // post-shuffle final heap — two operator instances around one
    // exchange); the rank window runs AFTER it, on <= R rows per source,
    // and nothing plans a single-partition exchange
    try {
      val p = plan("q139_zipf_slope")
      assert("TopKPerKey".r.findAllIn(p).length == 2,
        s"q139 lost the partial+final bounded heaps:\n$p")
      assert(p.indexOf("Window") < p.indexOf("TopKPerKey"),
        s"q139 window must consume the heap output (appear above it):\n$p")
      assert(!p.toLowerCase.contains("singlepartition"),
        s"q139 planned a single-partition exchange:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q40/q43/q68/q116/q152: per-query top-k is the bounded heap") {
    // every per-query ranking is partial + final TopKPerKey around the qid
    // exchange; a published rank is a Window above them on <= k rows per
    // query (the q139 shape). q152's exact and ADC rankings feed only its
    // recall join, so they are the two heap pairs with no rank Window.
    val heaps = Seq("TopKPerKey", "TopKPerKey")
    val ranked = "Window" +: heaps
    val want = Map("q40_knn_bruteforce" -> ranked, "q43_ann_lsh" -> ranked,
      "q68_ann_ivf" -> ranked, "q116_hard_negatives" -> ranked,
      "q152_pq_adc_recall" -> (heaps ++ heaps))
    try {
      for ((q, ops) <- want) {
        val p = plan(q)
        val got = raw"\bWindow \[|TopKPerKey".r.findAllIn(p).map(_.takeWhile(_ != ' ')).toSeq
        assert(got == ops, s"$q expected $ops top to bottom, got $got:\n$p")
        assert(!p.toLowerCase.contains("singlepartition"),
          s"$q planned a single-partition exchange:\n$p")
      }
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q141: DoReMi model joins all broadcast — eval rows never shuffle by n-gram") {
    // the q120/q122 LM contract at DoReMi shape: unigram/bigram model
    // tables broadcast onto the eval explodes, the K-row update side
    // broadcast too — a SortMergeJoin anywhere means either eval rows
    // shuffled by n-gram or the K-row finish got a corpus-sized plan
    try {
      val p = plan("q141_doremi_weights")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"q141 shuffles eval rows:\n$p")
      assert(!p.contains("CartesianProduct"), s"q141 planned a cartesian:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q144: the Luhn battery is scan-riding work — no join anywhere") {
    val p = plan("q144_luhn_pii")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"q144 planned a join:\n$p")
  }

  test("q147: each training epoch is join-free — literal weights, 65-key agg") {
    // one epoch of the gradient plan: no join anywhere (the model is a
    // plan literal through graft_dot), partial+final hash agg around the
    // 65-key exchange, no single-partition stage
    try {
      val emb = graft.core.Tables.embeddings(spark, sfDir)
      import org.apache.spark.sql.functions._
      // the lazy plan-inspectable twin of the treeAggregate fold the
      // trainer runs (round 15) — spec-asserted bit-equal, so this IS
      // the epoch's dataflow shape
      val data = emb.select(col("embedding"),
        when(col("label") % 2 === 0, lit(1.0)).otherwise(lit(0.0)).as("y"))
      val epoch = graft.ops.Embeddings.logregEpochExplode(
        data, Array.fill(64)(0.0), 0.0, lr = 0.5, n = 100L)
      val p = epoch.queryExecution.executedPlan.toString
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"q147 epoch planned a join:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"q147 epoch lost partial aggregation:\n$p")
      assert(!p.toLowerCase.contains("singlepartition"),
        s"q147 epoch planned a single-partition exchange:\n$p")
      // PRODUCTION path (round 16, advisor): the trainer itself is an RDD
      // treeAggregate outside Catalyst, so assert its dataflow shape
      // directly — the gradient scan's parallelism IS the input's (pin
      // the input to 8 partitions and the scan must run at 8: the
      // trainer never collapses the fold toward the driver) at depth 2;
      // the bit-parity spec in EmbeddingsSpec ties its math to the twin
      val (_, _, parts, depth) =
        graft.ops.Embeddings.logregTrainWeightsWithShape(emb.repartition(8), iters = 1)
      assert(parts == 8,
        s"q147 production gradient scan ran at $parts partitions, not the input's 8")
      assert(depth == graft.ops.Embeddings.TreeAggDepth && depth == 2,
        s"q147 production treeAggregate depth drifted: $depth")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q151: PQ encoding is one join-free scan into a bounded rollup") {
    try {
      val p = plan("q151_pq_codes")
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"q151 planned a join:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"q151 lost partial aggregation:\n$p")
      assert("FileScan".r.findAllIn(p).length == 1,
        s"q151 scans the corpus more than once:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q148: Heaps positions never plan a per-source corpus window") {
    // every Window must partition by a compound (source, bucket) or
    // (source, token)-derived key — the two-level prefix sum's contract;
    // a bare partitionby-source window over corpus rows would be the
    // one-reducer-per-source shape this operator exists to avoid
    try {
      val p = plan("q148_heaps_law")
      // locate Window operators and check their spec mentions the bucket key
      val winLines = p.linesIterator.filter(_.contains("Window ")).toList
      winLines.foreach { l =>
        assert(l.contains("_bkt"),
          s"q148 planned a window not keyed by the prefix-sum bucket: $l")
      }
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"q148 planned a nested loop:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q150: paragraph df joins back by equi-key — no nested loop, partial-agg'd") {
    try {
      val p = plan("q150_paragraph_dedup")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"q150 planned a nested loop:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"q150 lost partial aggregation:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q163: the interval join is a day-bucket equi-join — never a nested loop") {
    // the whole point of the operator: a naive interval join is a cross
    // product under a range predicate; the day explode makes it an
    // equi-join with the calendar-bounded window frame broadcast
    try {
      val p = plan("q163_interval_overlap")
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"q163 range join degenerated to a nested loop:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"q163 lost the broadcast window join:\n$p")
      assert(!p.toLowerCase.contains("singlepartition"),
        s"q163 planned a single-partition exchange:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q164/q171: classifier evals ride the scan — only bounded-frame crossJoins") {
    // q164: the grid crossJoin is the ONE nested loop (a broadcast T-row
    // literal frame — constant fan-out inside the scan stage); q171: the
    // two 1-row totals crossJoins. Any SortMergeJoin means corpus rows
    // started shuffling for a join — the shape that dies at 100 TB.
    try {
      val p164 = plan("q164_threshold_sweep")
      assert(!p164.contains("SortMergeJoin") && !p164.contains("CartesianProduct"),
        s"q164 shuffles corpus rows:\n$p164")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p164).length == 1,
        s"q164 expected exactly the grid crossJoin:\n$p164")
      val p171 = plan("q171_brier_decomposition")
      assert(!p171.contains("SortMergeJoin") && !p171.contains("CartesianProduct"),
        s"q171 shuffles corpus rows:\n$p171")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p171).length == 2,
        s"q171 expected exactly the two 1-row totals crossJoins:\n$p171")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q165/q170: join-free — one scan into bounded rollups") {
    try {
      for (q <- Seq("q165_lexical_diversity", "q170_silhouette")) {
        val p = plan(q)
        assert(!p.contains("Join"), s"$q planned a join:\n$p")
        assert("HashAggregate".r.findAllIn(p).length >= 2,
          s"$q lost partial aggregation:\n$p")
      }
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q166: HITS lineage is CUT per half-step — hash joins, literal maxes, no sorts") {
    // round 16: the per-half-step max rides as a plan LITERAL (no 1-row
    // crossJoins — the old BroadcastNestedLoopJoins hid the mass frame's
    // partitioning), every mass↔edge join is a hash join (sort-merge
    // re-sorted the edge cache each half-step), and the eager
    // localCheckpoint still cuts lineage so the final plan carries only
    // the zero-fill joins over checkpoint scans
    try {
      val p = plan("q166_hits")
      assert(p.contains("Scan ExistingRDD"),
        s"q166 lineage cut not live (no checkpoint scan):\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"q166 planned a nested loop (the max must be a literal):\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"q166 re-sorts a side at the final zero-fill:\n$p")
      assert("BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).length <= 2,
        s"q166 plan re-grew past the two zero-fill joins:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q167: both leakage tiers stay semi-joins on uniform hash keys") {
    try {
      val p = plan("q167_split_leakage")
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"q167 planned a nested loop:\n$p")
      assert("LeftSemi".r.findAllIn(p).length == 2,
        s"q167 expected exactly the exact + near semi-joins:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q169: Dirichlet QL keeps the q113 posting shape — bounded heap, broadcast model") {
    try {
      val p = plan("q169_dirichlet_ql")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"q169 shuffles posting rows for a join:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"q169 top-k not a bounded heap:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).length == 1,
        s"q169 expected the one broadcast term-model join:\n$p")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 3,
        s"q169 expected the stats/constant 1-row crossJoins:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q174/q175: graph ops stay equi/semi-joins; the k-core peel lineage is cut") {
    try {
      val p174 = plan("q174_assortativity")
      assert(!p174.contains("CartesianProduct"), s"q174 planned a cartesian:\n$p174")
      // nested loops allowed: the 1-row stats crossJoin + q41's audited
      // block-pair table inside the (persisted, so single) edge build;
      // the degree lookups are shuffle equi-joins by design — what must
      // never appear is a row-pair product
      assert(p174.contains("InMemoryTableScan") || p174.contains("Scan ExistingRDD"),
        s"q174 symmetrized edge persist not live (edge build would run 4x):\n$p174")
      val p175 = plan("q175_kcore")
      assert(!p175.contains("BroadcastNestedLoop") && !p175.contains("CartesianProduct"),
        s"q175 planned a nested loop:\n$p175")
      assert(p175.contains("Scan ExistingRDD"),
        s"q175 per-peel lineage cut not live:\n$p175")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("near-dup graph family: bounded job counts per cold run") {
    // q94, q166 and q175 iterate eagerly while they are built, which no
    // plan string shows, so the job count is the contract: one cold run
    // (released caches, construct + noop write) on this spec's session.
    // A lost persist re-runs the q41 edge build; an eager checkpoint adds
    // a job per iteration. q86 and q176 are left out: their count moves
    // by one in about one cold run in 24.
    val bounds = Seq("q94_pagerank" -> 26, "q166_hits" -> 44,
      "q174_assortativity" -> 24, "q175_kcore" -> 23)
    try {
      for ((q, bound) <- bounds) {
        graft.core.InternalCaches.release(spark)
        val jobs = jobsOf(spark) {
          SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        assert(jobs <= bound, s"$q ran $jobs jobs per cold run (bound $bound)")
      }
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q145: phrase search served from a PRUNED index build (round 20)") {
    // the q68 bucket-pruned-serve contract at inverted-index shape: the
    // probed-token IN filter must sit BELOW the posting aggregation (the
    // shuffle carries only the probed tokens' occurrences, never the
    // whole corpus index), and the bounded phrase table re-enters as a
    // local frame — losing either re-inflates the per-query build to a
    // full corpus index at 100 TB.
    try {
      val p = plan("q145_phrase_search")
      assert(p.contains(" IN ("),
        s"q145 lost the probed-token pushdown filter:\n$p")
      assert(p.contains("LocalTableScan"),
        s"q145 phrase table no longer a collected local frame:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"q145 serve join degenerated:\n$p")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q185/q186: driver-side EM — trained model is bounded local data (round 20)") {
    // the EM m-step runs on vocab-bounded collected rows: q185's output
    // plan must be a LocalTableScan with NO exchange (every distributed
    // job already ran as the bounded e-step collects during
    // construction), and q186's eval side must consume the frozen model
    // as a broadcast local frame — a HashAggregate-fed map build or a
    // checkpoint scan here means the per-iteration job cascade came back.
    try {
      val p185 = plan("q185_unigram_train")
      assert(p185.contains("LocalTableScan") && !p185.contains("Exchange"),
        s"q185 trained model no longer bounded local rows:\n$p185")
      val p186 = plan("q186_unigram_apply")
      assert(p186.contains("LocalTableScan"),
        s"q186 frozen model not a local frame:\n$p186")
      assert(p186.contains("TakeOrderedAndProject"),
        s"q186 top-K not a bounded heap:\n$p186")
      assert(!p186.contains("map_from_entries"),
        s"q186 rebuilt the model map distributively:\n$p186")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("q121/q133: capped pair joins, no single-partition exchange") {
    // both pair joins run AFTER the df cap (never a cartesian); q133's only
    // window partitions by (pair, diagonal) — no single-partition exchange
    // anywhere in either query
    try {
      for (q <- Seq("q121_containment", "q133_duplicated_spans")) {
        val p = plan(q)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q pair join degenerated:\n$p")
        assert(!p.toLowerCase.contains("singlepartition"),
          s"$q planned a single-partition exchange:\n$p")
      }
    } finally graft.core.InternalCaches.release(spark)
  }
}
