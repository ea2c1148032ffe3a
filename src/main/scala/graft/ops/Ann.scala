package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.plans.TopK

/** IVF (inverted-file) approximate nearest neighbor: a coarse quantizer
  * partitions the vector space into nlist cells; queries probe only the
  * nprobe nearest cells. The quantizer is the reference's farthest-first
  * traversal (`G016HW2.java:114-154` semantics) generalized to n
  * dimensions — FFT's max-min cover guarantee is exactly what a coarse
  * quantizer wants (cells of bounded radius), and it is deterministic,
  * unlike k-means init.
  *
  * Scale shape: centroids are tiny (nlist ≤ a few hundred) and broadcast
  * as literal expressions; assignment is a per-row projection; the search
  * is an equi-join on centroid_id — candidates per query drop from |DB| to
  * ~nprobe/nlist of it. The LSH variant (Embeddings.annKnn) trades recall
  * differently (hash buckets vs spatial cells); both share the brute-force
  * baseline as their correctness anchor.
  */
object Ann {

  /** Gonzalez farthest-first traversal in n dimensions (first point seeds,
    * first-index tiebreak — deterministic). */
  def farthestFirst(vecs: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    require(vecs.nonEmpty)
    val n = vecs.length
    val kk = math.min(k, n)
    val centers = new Array[Array[Double]](kk)
    val minD2 = Array.fill(n)(Double.MaxValue)
    centers(0) = vecs(0)
    var c = 0
    while (c < kk - 1) {
      val cur = centers(c)
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < n) {
        var d2 = 0.0
        var j = 0
        while (j < cur.length) { val d = vecs(i)(j) - cur(j); d2 += d * d; j += 1 }
        if (d2 < minD2(i)) minD2(i) = d2
        if (minD2(i) > bestD) { bestD = minD2(i); best = i }
        i += 1
      }
      c += 1
      centers(c) = vecs(best)
    }
    centers
  }

  private def nearest(centroids: Array[Array[Double]], nprobe: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NearestCells(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("embedding")),
        centroids, nprobe))

  /** Train centroids on a deterministic sample and assign every vector.
    *
    * Assignment is the single native argmin expression
    * [[graft.functions.NearestCells]] — one primitive loop per row, no
    * per-row struct array, no sort (the previous array_sort of nlist
    * structs per DB row was the operator's dominant cost), and one opaque
    * plan node, so pushdown/constraint propagation never sees (and never
    * duplicates) the nlist×dim centroid literals. */
  def ivfIndex(emb: DataFrame, nlist: Int = 16, sampleN: Int = 256): (DataFrame, Array[Array[Double]]) = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val sample = emb.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val centroids = farthestFirst(sample, nlist)
    val assigned = emb
      .withColumn("_xnorm", expr("graft_dot(embedding, embedding)"))
      .withColumn("centroid_id", nearest(centroids, 1))
    (assigned, centroids)
  }

  /** The `nprobe` nearest cell ids for the (small, already-filtered) query
    * side — same expression, top-nprobe variant. NearestCells returns a
    * bare int for nprobe == 1 (the assignment fast path), so wrap it for
    * the generator. */
  private def probeCells(q: DataFrame, centroids: Array[Array[Double]], nprobe: Int): DataFrame = {
    val cells = if (nprobe == 1) array(nearest(centroids, 1)) else nearest(centroids, nprobe)
    q.withColumn("probe", explode(cells))
  }

  /** IVF top-k: probe the `nprobe` nearest cells per query, rank candidates
    * through the brute-force baseline's cosine kernel
    * ([[Embeddings.cosineTopK]]). No caching: the
    * argmin assignment is a cheap projection, so recomputing it on the two
    * branches beats holding executor storage memory across invocations (a
    * production index would persist `assigned` as a table bucketed by
    * centroid_id instead — see graft.sources.Bucketed). */
  def ivfKnn(emb: DataFrame, queryPred: Column, k: Int,
             nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val (assigned, centroids) = ivfIndex(emb, nlist)
    val probeN = math.min(nprobe, centroids.length) // small corpora: fewer cells than nprobe
    val indexed = assigned
      .withColumn("nrm", sqrt(col("_xnorm")))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid_id"))
    val q = probeCells(indexed.filter(queryPred), centroids, probeN)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
              col("nrm").as("qn"), col("probe"))
    val cand = indexed
      .select(col("vec_id").as("nid"), col("embedding").as("nv"),
              col("nrm").as("nn"), col("centroid_id"))
    Embeddings.cosineTopK(q, cand,
      col("probe") === col("centroid_id") && col("qid") =!= col("nid"), k)
  }

  /** Production index path promised by [[ivfKnn]]'s doc: persist the
    * assignment as a managed parquet table BUCKETED by centroid_id (one
    * bucket per cell), so serving never rebuilds the index. Returns the
    * trained centroids — the serve-side router state (tiny: nlist
    * vectors). */
  def ivfWriteIndex(emb: DataFrame, table: String, nlist: Int = 16): Array[Array[Double]] = {
    val (assigned, centroids) = ivfIndex(emb, nlist)
    graft.sources.Bucketed.writeBucketed(
      assigned.withColumn("nrm", sqrt(col("_xnorm")))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid_id")),
      table, "centroid_id", nlist)
    centroids
  }

  /** Serve top-k from a [[ivfWriteIndex]] table. The probed cell ids are
    * resolved to LITERALS first (one tiny job over the bounded query
    * side — distinct probes ≤ nlist rows), so the `centroid_id IN (…)`
    * filter hits Spark's bucket pruning and the index scan reads ONLY the
    * probed buckets (`SelectedBucketsCount: nprobe out of nlist` in the
    * plan — asserted in PlanContractSpec). At 100 TB that is the
    * difference between touching ~nprobe/nlist of the index files and all
    * of them; scoring is identical to [[ivfKnn]], so a served result
    * equals the rebuild-every-time result exactly.
    *
    * PRECONDITION (loud): the query side BROADCASTS (that is the serve
    * path's whole point — per-request query sets are small), so
    * queries × min(nprobe, nlist) must stay ≤ `maxBroadcastRows` or this
    * throws before building the join. A huge "query" frame belongs in
    * batches, or in [[ivfKnn]]'s rebuild path.
    *
    * CACHING: each call registers ONE plan-keyed [[graft.core.InternalCaches]]
    * entry for the probe frame (it feeds both the probe-id collect and the
    * broadcast join). A long-lived serve loop must call
    * `InternalCaches.release(spark)` once per serve batch — after the
    * action on the returned frame — or executor storage grows with every
    * distinct query frame served. */
  def ivfServeKnn(spark: SparkSession, table: String, centroids: Array[Array[Double]],
                  queries: DataFrame, k: Int, nprobe: Int = 4,
                  maxBroadcastRows: Long = 1L << 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val probeN = math.min(nprobe, centroids.length)
    // qp feeds BOTH the probe-id collect and the broadcast join — route it
    // through InternalCaches like the other twice-consumed internal frames
    // so the per-query assignment runs once, not once per consumer
    val qp = graft.core.InternalCaches.persist(probeCells(
      queries.withColumn("qn", sqrt(expr("graft_dot(embedding, embedding)"))),
      centroids, probeN))
    val probeIds = qp.select(col("probe")).distinct().collect().map(_.getInt(0)).sorted
    // count() reads the cache the probe-id collect just materialized — no
    // second assignment pass; failing here beats an opaque broadcast OOM
    // at join time
    val probeRows = qp.count()
    require(probeRows <= maxBroadcastRows,
      s"ivfServeKnn broadcasts the query side: $probeRows probe rows exceed " +
        s"maxBroadcastRows=$maxBroadcastRows — serve in batches (or use ivfKnn)")
    val cand = spark.table(table)
      .filter(col("centroid_id").isin(probeIds.toIndexedSeq.map(Int.box): _*))
      .select(col("vec_id").as("nid"), col("embedding").as("nv"),
              col("nrm").as("nn"), col("centroid_id"))
    val q = qp.select(col("vec_id").as("qid"), col("embedding").as("qv"),
                      col("qn"), col("probe"))
    Embeddings.cosineTopK(q, cand,
      col("probe") === col("centroid_id") && col("qid") =!= col("nid"), k)
  }

  def qIvfKnn(s: SparkSession, dir: String): DataFrame =
    ivfKnn(Tables.embeddings(s, dir), col("vec_id") < 8, k = 5)

  /** Product-quantization codebooks (FAISS PQ): the 64-dim space splits
    * into `m` orthogonal subspaces; each gets its own `ksub`-centroid
    * codebook trained by the same deterministic farthest-first quantizer
    * the IVF path uses, over the same first-`sampleN` training sample. */
  def pqCodebooks(emb: DataFrame, m: Int = 4, ksub: Int = 8,
                  sampleN: Int = 256): Array[Array[Array[Double]]] = {
    val dim = 64
    require(m >= 1 && dim % m == 0, s"m must divide $dim, got $m")
    val sub = dim / m
    val sample = emb.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Array.tabulate(m)(s =>
      farthestFirst(sample.map(_.slice(s * sub, (s + 1) * sub)), ksub))
  }

  /** PQ encoding health report — the compression step after q103's SQ8 on
    * the storage/serving path (FAISS IVF-PQ): every vector encodes as m
    * sub-codes (argmin centroid per subspace, the same NearestCells
    * native expression as IVF assignment), and the report rolls up per
    * (subspace, code) cell count plus the mean/max squared reconstruction
    * error — the codebook-quality diagnostic an ANN deployment reads
    * before committing to (m, ksub).
    *
    * Scale shape: codebooks are m·ksub·(dim/m) doubles — plan literals;
    * encoding + per-subspace reconstruction error is a pure projection
    * riding ONE scan (the m subspaces explode as an m-length struct
    * array per row, fan-out m, each row bounded); the only shuffle is the
    * m·ksub-key rollup with map-side partial aggregation. Floats pinned:
    * per-vector d2 is the direct Σ(a−b)² left-to-right fold (graft_dot of
    * the diff with itself ≡ DuckDB's list_dot_product), rounded 9 into
    * decimal sums, round-6 finish. */
  /** Codebook literal for subspace `s` — a ksub × (dim/m) nested double
    * array expression. */
  private def pqCentLit(books: Array[Array[Array[Double]]], s: Int): String =
    books(s).map(c => c.map(v => s"CAST($v AS DOUBLE)")
      .mkString("array(", ", ", ")")).mkString("array(", ", ", ")")

  /** Append per-subspace code columns `_c0.._c{m-1}` (NearestCells argmin
    * against the subspace codebook) and, when `withDist`, the direct-form
    * squared reconstruction distances `_d0.._d{m-1}`. Pure projection. */
  private def pqEncode(emb: DataFrame, books: Array[Array[Array[Double]]],
                       withDist: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    import org.apache.spark.sql.graftbridge.Bridge
    val m = books.length
    val sub = 64 / m
    var df = emb
    for (s <- 0 until m) {
      val slice = expr(s"slice(embedding, ${s * sub + 1}, $sub)")
      val codeCol = Bridge.column(graft.functions.NearestCells(
        Bridge.expression(slice), books(s), 1))
      df = df.withColumn(s"_c$s", codeCol.cast(org.apache.spark.sql.types.LongType))
      if (withDist) {
        val diff = s"zip_with(slice(embedding, ${s * sub + 1}, $sub), " +
          s"element_at(${pqCentLit(books, s)}, CAST(_c$s + 1 AS INT)), " +
          "(a, b) -> CAST(a AS DOUBLE) - b)"
        df = df.withColumn(s"_d$s", expr(s"graft_dot($diff, $diff)"))
      }
    }
    df
  }

  def pqReport(emb: DataFrame, m: Int = 4, ksub: Int = 8): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val books = pqCodebooks(emb, m, ksub)
    val df = pqEncode(emb, books, withDist = true)
    val cells = (0 until m).map(s => struct(
      lit(s.toLong).as("subspace"), col(s"_c$s").as("code"), col(s"_d$s").as("d2")))
    df.select(explode(array(cells: _*)).as("x"))
      .select(col("x.subspace").as("subspace"), col("x.code").as("code"),
        col("x.d2").as("d2"))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.LongType).as("n_vecs"),
        round(sum(round(col("d2"), 9).cast(dec)).cast(
          org.apache.spark.sql.types.DoubleType) / count(lit(1)), 6).as("avg_dist2"),
        round(max(round(col("d2"), 9)), 6).as("max_dist2"))
      .orderBy(col("subspace"), col("code"))
  }

  def qPqReport(s: SparkSession, dir: String): DataFrame =
    pqReport(Tables.embeddings(s, dir))

  /** PQ asymmetric-distance (ADC) top-k recall — the query-time half of
    * [[pqReport]] and the eval an IVF-PQ deployment runs before serving
    * from codes: queries keep their FULL vector, database vectors are
    * represented ONLY by their m sub-codes, and the ADC distance is the
    * sum of per-subspace direct-form distances to the coded centroids
    * (Jégou et al. 2011). Per query, the ADC top-k is overlapped against
    * the exact full-vector L2 top-k (the q105 recall-report shape) — the
    * number that decides whether (m, ksub) is servable.
    *
    * Scale shape: the bounded query side BROADCASTS onto the coded
    * database scan (one projection join, no shuffle of DB rows); at
    * production scale the cand side ships m bytes of codes per vector,
    * not the embedding — the compression is the point. Both rankings
    * pin round-6 distances with ascending-id tie-breaks, so the report
    * is engine-exact. */
  def pqAdcRecall(emb: DataFrame, queryPred: Column, k: Int = 5,
                  m: Int = 4, ksub: Int = 8): DataFrame = {
    val sub = 64 / m
    val books = pqCodebooks(emb, m, ksub)
    val coded = graft.core.InternalCaches.persist(
      pqEncode(emb, books, withDist = false)
        .select(col("vec_id").as("nid") +:
          (0 until m).map(s => col(s"_c$s")): _*))
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val adcExpr = (0 until m).map { s =>
      val diff = s"zip_with(slice(qv, ${s * sub + 1}, $sub), " +
        s"element_at(${pqCentLit(books, s)}, CAST(_c$s + 1 AS INT)), " +
        "(a, b) -> CAST(a AS DOUBLE) - b)"
      s"graft_dot($diff, $diff)"
    }.mkString(" + ")
    // the recall join reads only (qid, nid), so no rank column is needed
    def nearest(cand: DataFrame, d2: String): DataFrame =
      TopK.perKey(broadcast(q).join(cand, col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"), round(expr(d2), 6).as("d2")),
        Seq("qid"), Seq(TopK.asc("d2"), TopK.asc("nid")), k)
    val full = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    Embeddings.hitRecall(
      nearest(full, "graft_dot(zip_with(qv, nv, (a, b) -> CAST(a AS DOUBLE) - b), " +
        "zip_with(qv, nv, (a, b) -> CAST(a AS DOUBLE) - b))"),
      nearest(coded, adcExpr))
  }

  def qPqAdcRecall(s: SparkSession, dir: String): DataFrame =
    pqAdcRecall(Tables.embeddings(s, dir), col("vec_id") < 8, k = 5)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q68_ann_ivf" -> (qIvfKnn _),
    "q151_pq_codes" -> (qPqReport _),
    "q152_pq_adc_recall" -> (qPqAdcRecall _),
  )

  /** DuckDB oracle for q68. The IVF index has no randomness — the only
    * "trained" state is the farthest-first centroid set, a deterministic
    * function of the first `sampleN` vectors — so the whole pipeline is
    * expressible in SQL by UNROLLING the FFT loop: 15 chained CTEs, each
    * re-scanning the 256-row sample, picking the next center as the argmax
    * of the running min-distance (exactly [[farthestFirst]]'s first-index
    * tie-break: `ORDER BY md DESC, vec_id ASC`).
    *
    * Floating-point parity notes (each Scala accumulation is replicated
    * form-for-form, not just value-for-value):
    *  - FFT distance is the DIRECT form Σ(a−b)² ([[farthestFirst]]'s
    *    `d2 += d*d`): `list_dot_product(diff, diff)` folds left-to-right
    *    like the while loop.
    *  - Assignment distance is NearestCells' EXPANSION form
    *    `(‖x‖² − 2·x·c) + ‖c‖²` with the same parenthesization;
    *    ties break (d2 ASC, cid ASC) exactly as the expression's strict-<
    *    scan / selection sort (VectorExpressions.scala:234-256).
    *  - Cosine rank rounds to 6 dp on both sides (the cross-engine float
    *    rule), so the final row_number order is identical.
    * Same left-to-right `list_dot_product` dependency as the q43 oracle
    * (Embeddings.annLshOracle) — a divergence would fail VISIBLY.
    *
    * PRECONDITION: the corpus must have at least `nlist` (16) vectors. The
    * SQL unrolls exactly 16 centroid CTEs and probes a fixed nprobe=4,
    * while the Scala path adapts (farthestFirst caps k at n; ivfKnn caps
    * nprobe at the centroid count) — on a tinier corpus the oracle would
    * fabricate duplicate centroids whose cells crowd the probe set and
    * diverge from Spark. Every shipped SF (0.001 has 100 vectors) satisfies
    * this; a future tiny-SF gate run that violates it fails here, loudly,
    * not as a mystery hash mismatch. */
  private def ivfOracle: String = {
    val nlist = 16; val sampleN = 256; val nprobe = 4; val k = 5
    // Σ(a−b)² via dot(diff, diff): left-to-right fold = the Scala loop
    def dist2(a: String, b: String): String = {
      val d = s"list_transform(list_zip($a, $b), p -> p[1] - p[2])"
      s"list_dot_product($d, $d)"
    }
    // NearestCells' expansion-form distance to centroid c (cn = ‖c‖²)
    def cellD2(x: String, c: String, cn: String): String =
      s"(list_dot_product($x, $x) - 2.0 * list_dot_product($x, $c)) + $cn"
    val sb = new StringBuilder
    sb ++= s"""WITH emb AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      smp AS MATERIALIZED (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $sampleN),
      c0 AS MATERIALIZED (SELECT v FROM smp ORDER BY vec_id LIMIT 1),
      d1 AS MATERIALIZED (SELECT s.vec_id, s.v, ${dist2("s.v", "c.v")} AS md
             FROM smp s, c0 c)"""
    for (i <- 1 until nlist) {
      sb ++= s""",
      c$i AS MATERIALIZED (SELECT v FROM d$i ORDER BY md DESC, vec_id ASC LIMIT 1)"""
      if (i < nlist - 1) sb ++= s""",
      d${i + 1} AS MATERIALIZED (SELECT d.vec_id, d.v,
                      least(d.md, ${dist2("d.v", "c.v")}) AS md
                    FROM d$i d, c$i c)"""
    }
    val centUnion = (0 until nlist)
      .map(i => s"SELECT $i AS cid, v, list_dot_product(v, v) AS cn FROM c$i")
      .mkString("\n        UNION ALL ")
    sb ++= s""",
      cent AS MATERIALIZED (
        $centUnion),
      assigned AS MATERIALIZED (
        SELECT vec_id, v, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cellD2("e.v", "c.v", "c.cn")} ASC, c.cid ASC) AS rnk
          FROM emb e CROSS JOIN cent c) t
        WHERE rnk = 1),
      probes AS (
        SELECT vec_id AS qid, v AS qv, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cellD2("e.v", "c.v", "c.cn")} ASC, c.cid ASC) AS rnk
          FROM emb e CROSS JOIN cent c WHERE e.vec_id < 8) t
        WHERE rnk <= $nprobe),
      scored AS (
        SELECT p.qid, a.vec_id AS nid,
          round(list_dot_product(p.qv, a.v)
                / (sqrt(list_dot_product(p.qv, p.qv))
                   * sqrt(list_dot_product(a.v, a.v))), 6) AS sim
        FROM probes p JOIN assigned a
          ON p.cid = a.cid AND p.qid <> a.vec_id)
      SELECT qid, rk, nid, sim FROM (
        SELECT qid, nid, sim,
          row_number() OVER (PARTITION BY qid
            ORDER BY sim DESC, nid ASC) AS rk
        FROM scored) t
      WHERE rk <= $k"""
    sb.toString
  }

  /** The q151 oracle: the q68 FFT-unroll recipe applied per subspace —
    * m × ksub chained CTEs train the codebooks over the identical sample
    * subvectors (direct-form distance, md DESC / vec_id ASC tie-break),
    * assignment replays NearestCells' expansion-form argmin with the
    * (d2 ASC, cid ASC) tie-break, and the report mirrors the round-9 /
    * decimal-sum / round-6 chain. */
  private def pqDist2(a: String, b: String): String = {
    val d = s"list_transform(list_zip($a, $b), p -> p[1] - p[2])"
    s"list_dot_product($d, $d)"
  }

  /** Shared q151/q152 CTE prefix: codebook training (m × ksub FFT unroll)
    * plus per-subspace assignment — everything up through `s{s}asn` and
    * `s{s}cent`. */
  private def pqTrainSql: String = {
    val m = 4; val ksub = 8; val sub = 16; val sampleN = 256
    def dist2(a: String, b: String): String = pqDist2(a, b)
    def cellD2(x: String, c: String, cn: String): String =
      s"(list_dot_product($x, $x) - 2.0 * list_dot_product($x, $c)) + $cn"
    val sb = new StringBuilder
    sb ++= s"""WITH emb AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      smp AS MATERIALIZED (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $sampleN)"""
    for (s <- 0 until m) {
      val lo = s * sub + 1; val hi = (s + 1) * sub
      sb ++= s""",
      s${s}smp AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS sv FROM smp),
      s${s}emb AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS sv FROM emb),
      s${s}c0 AS MATERIALIZED (SELECT sv FROM s${s}smp ORDER BY vec_id LIMIT 1),
      s${s}d1 AS MATERIALIZED (SELECT t.vec_id, t.sv, ${dist2("t.sv", "c.sv")} AS md
             FROM s${s}smp t, s${s}c0 c)"""
      for (i <- 1 until ksub) {
        sb ++= s""",
      s${s}c$i AS MATERIALIZED (SELECT sv FROM s${s}d$i ORDER BY md DESC, vec_id ASC LIMIT 1)"""
        if (i < ksub - 1) sb ++= s""",
      s${s}d${i + 1} AS MATERIALIZED (SELECT d.vec_id, d.sv,
                      least(d.md, ${dist2("d.sv", "c.sv")}) AS md
                    FROM s${s}d$i d, s${s}c$i c)"""
      }
      val centUnion = (0 until ksub)
        .map(i => s"SELECT $i AS cid, sv, list_dot_product(sv, sv) AS cn FROM s${s}c$i")
        .mkString("\n        UNION ALL ")
      sb ++= s""",
      s${s}cent AS MATERIALIZED (
        $centUnion),
      s${s}asn AS MATERIALIZED (
        SELECT $s AS subspace, t.vec_id, t.cid AS code,
          ${dist2("t.sv", "t.cv")} AS d2 FROM (
          SELECT e.vec_id, e.sv, c.cid, c.sv AS cv,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cellD2("e.sv", "c.sv", "c.cn")} ASC, c.cid ASC) AS rnk
          FROM s${s}emb e CROSS JOIN s${s}cent c) t
        WHERE rnk = 1)"""
    }
    sb.toString
  }

  private def pqOracle: String = {
    val m = 4
    val asnUnion = (0 until m).map(s => s"SELECT * FROM s${s}asn")
      .mkString(" UNION ALL ")
    pqTrainSql + s""",
      allasn AS ($asnUnion)
      SELECT CAST(subspace AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code,
        CAST(count(*) AS BIGINT) AS n_vecs,
        round(CAST(sum(CAST(round(d2, 9) AS DECIMAL(28, 12))) AS DOUBLE)
          / count(*), 6) AS avg_dist2,
        round(max(round(d2, 9)), 6) AS max_dist2
      FROM allasn GROUP BY subspace, code
      ORDER BY subspace, code"""
  }

  /** The q152 oracle: the shared PQ training prefix, then ADC distances
    * (per-subspace direct-form distance of the FULL query slice to the
    * CODED centroid, summed left-to-right, round 6, nid tie-break)
    * against the exact full-vector L2 ranking — the recall report joins
    * the two bounded top-k sets. */
  private def pqAdcOracle: String = {
    val k = 5
    pqTrainSql + s""",
      qset AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 8),
      pairsq AS (SELECT q.qid, q.qv, a0.vec_id AS nid,
          c0.sv AS cv0, c1.sv AS cv1, c2.sv AS cv2, c3.sv AS cv3
        FROM qset q CROSS JOIN s0asn a0
        JOIN s1asn a1 ON a1.vec_id = a0.vec_id
        JOIN s2asn a2 ON a2.vec_id = a0.vec_id
        JOIN s3asn a3 ON a3.vec_id = a0.vec_id
        JOIN s0cent c0 ON c0.cid = a0.code
        JOIN s1cent c1 ON c1.cid = a1.code
        JOIN s2cent c2 ON c2.cid = a2.code
        JOIN s3cent c3 ON c3.cid = a3.code
        WHERE q.qid <> a0.vec_id),
      adc AS (SELECT qid, nid,
          round(${pqDist2("qv[1:16]", "cv0")} + ${pqDist2("qv[17:32]", "cv1")}
            + ${pqDist2("qv[33:48]", "cv2")} + ${pqDist2("qv[49:64]", "cv3")}, 6) AS d2
        FROM pairsq),
      adctop AS (SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid
            ORDER BY d2 ASC, nid ASC) AS rk FROM adc) t
        WHERE rk <= $k),
      exact AS (SELECT q.qid, e.vec_id AS nid,
          round(${pqDist2("q.qv", "e.v")}, 6) AS d2
        FROM qset q JOIN emb e ON e.vec_id <> q.qid),
      exacttop AS (SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid
            ORDER BY d2 ASC, nid ASC) AS rk FROM exact) t
        WHERE rk <= $k)
      SELECT e.qid, CAST(count(*) AS BIGINT) AS n_exact,
        CAST(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        CAST(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*) AS recall
      FROM exacttop e LEFT JOIN adctop a ON a.qid = e.qid AND a.nid = e.nid
      GROUP BY e.qid"""
  }

  val oracles: Map[String, String] = Map(
    "q68_ann_ivf" -> ivfOracle,
    "q151_pq_codes" -> pqOracle,
    "q152_pq_adc_recall" -> pqAdcOracle,
  )
}
