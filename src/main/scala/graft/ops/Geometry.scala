package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import scala.jdk.CollectionConverters._

/** Geometric operators from the reference, Spark-first.
  *
  * Reference semantics (cited, not copied):
  *  - (M,D)-outlier detection, exact O(N²) path: `G019HW1.java:119-143`
  *    (count q with dist(p,q) <= D; outlier iff |B(p,D)| <= M counting p).
  *  - Grid approximation: cell width Λ = D/(2√2), per-cell counts, N3/N7
  *    neighborhood sums, sure/uncertain classification:
  *    `G019HW1.java:177-284`, `G016HW2.java:232-307`.
  *  - Farthest-First Traversal k-center + MR coreset:
  *    `G016HW2.java:114-220`.
  *
  * Architecture differences (scale-first, NOT a port):
  *  - The exact all-pairs neighbor count takes a driver path while the
  *    data allows it: the reference's N3/N7 bound (`G019HW1.java:209-261`)
  *    settles every Λ-cell with N3 > M as inliers with no pairwise work,
  *    one collect brings back the points of the remaining cells' 7×7
  *    neighborhoods, and the driver counts them with the join's own
  *    distance expression. When the cell table or those points exceed
  *    `driverCellLimit`, it falls back to a *grid-bucketed equi-join*:
  *    each candidate is exploded to its 3×3 neighbor cells (cell width =
  *    D) and joined on the cell key — a shuffle hash join that scales to a
  *    1000-executor cluster, instead of the reference's driver nested
  *    loop. The prune is exact: dist <= D ⟹ per-axis diff <= D ⟹
  *    Chebyshev cell distance <= 1.
  *  - The N3/N7 neighborhood sums are likewise a driver hash-map pass over
  *    a collected histogram of at most `driverCellLimit` cells, with a
  *    7×7-offset explode + equi-join + conditional aggregation as the
  *    twin for larger tables: the non-empty cell table is small for dense
  *    data, but a 100 TB sparse dataset can have billions of non-empty
  *    cells — the join formulation survives that; a `collect()` does not.
  *  - MRFFT keeps the reference's 3-round shape (it is optimal): R1
  *    per-partition FFT coreset, R2 driver FFT on ≤ K·L points, R3
  *    broadcast centers + max-reduce of min distances. R1 and R3 share one
  *    cached primitive (xs, ys) array pair per partition.
  */
object Geometry {

  // -------------------------------------------------------------- grid cells

  /** Cell ids at width `cell`: floor toward −∞ (Java Math.floor semantics —
    * SURVEY §7.4 risk 1: a plain int cast truncates toward 0 and breaks on
    * negative coordinates). */
  def withCells(pts: DataFrame, cell: Double): DataFrame =
    pts.withColumn("ci", cellIndex(col("x"), cell))
       .withColumn("cj", cellIndex(col("y"), cell))

  private def cellIndex(c: Column, cell: Double): Column = floor(c / cell).cast(LongType)

  /** Non-empty cell histogram (reference Step A, `G019HW1.java:183-189`):
    * one partial+final hash aggregation, no shuffle beyond the groupBy. */
  def cellHistogram(pts: DataFrame, lambda: Double): DataFrame =
    withCells(pts, lambda).groupBy(col("ci"), col("cj")).agg(count(lit(1)).as("sz"))

  /** Literal array of (di,dj) offsets covering Chebyshev distance <= r. */
  private def offsets(r: Int): Column =
    array((for (a <- -r to r; b <- -r to r)
      yield struct(lit(a.toLong).as("di"), lit(b.toLong).as("dj"))): _*)

  /** N3/N7 per non-empty cell (reference Step B, `G019HW1.java:209-261`) as
    * an offset-explode equi-join: each cell contributes its count to the 49
    * cells whose 7×7 window contains it; conditional sum splits N3 from N7.
    * Equi-join on (ci,cj) ⇒ shuffle/broadcast hash join, no cartesian. */
  def cellNeighborhoods(cells0: DataFrame): DataFrame = {
    // the histogram is consumed twice (join left side + offset-exploded
    // contributions): persist so the upstream aggregation runs once. The
    // persisted frame is an INTERNAL projection, never the caller's frame
    // — a caller must not gain a cache entry (that it cannot release) as a
    // hidden side effect; registered with InternalCaches for scoped release
    val cells = graft.core.InternalCaches.persist(
      cells0.select(col("ci"), col("cj"), col("sz")))
    val contrib = cells
      .withColumn("o", explode(offsets(3)))
      .select((col("ci") + col("o.di")).as("ti"),
              (col("cj") + col("o.dj")).as("tj"),
              greatest(abs(col("o.di")), abs(col("o.dj"))).as("cheb"),
              col("sz").as("src_sz"))
    cells.join(contrib, col("ci") === col("ti") && col("cj") === col("tj"))
      .groupBy(col("ci"), col("cj"))
      .agg(
        first(col("sz")).as("sz"),
        sum(when(col("cheb") <= 1, col("src_sz")).otherwise(lit(0L))).as("n3"),
        sum(col("src_sz")).as("n7"))
  }

  /** Hash-map N3/N7 pass over a collected cell histogram: the reference's
    * Step B shape, which the assignment explicitly allows ("the total
    * number of non-empty cells is small … can be downloaded in a local
    * data structure"). [[cellNeighborhoods]] is the equi-join twin that
    * survives billions of non-empty cells; both are oracle-verified to
    * produce identical tables. */
  private def n3n7Local(local: Array[((Long, Long), Long)]): Array[(Long, Long, Long, Long, Long)] = {
    val byCell = local.toMap
    local.map { case ((ci, cj), sz) =>
      var n3 = 0L; var n7 = 0L
      var di = -3
      while (di <= 3) {
        var dj = -3
        while (dj <= 3) {
          byCell.get((ci + di, cj + dj)).foreach { s =>
            n7 += s
            if (math.abs(di) <= 1 && math.abs(dj) <= 1) n3 += s
          }
          dj += 1
        }
        di += 1
      }
      (ci, cj, sz, n3, n7)
    }
  }

  /** The Λ-cell histogram of `pts` with its (ci, cj, sz, n3, n7) sums,
    * computed on the driver — or None when the table holds more than
    * `driverCellLimit` cells. ONE collect of at most limit+1 rows both
    * fetches the histogram and decides whether it fits the driver, so no
    * job is spent on path selection alone. */
  private def localNeighborhoods(pts: DataFrame, lambda: Double,
                                 driverCellLimit: Int): Option[Array[(Long, Long, Long, Long, Long)]] = {
    val local = cellHistogram(pts, lambda).limit(driverCellLimit + 1).collect()
    if (local.length > driverCellLimit) None
    else Some(n3n7Local(local.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))))
  }

  /** MRApproxOutliers (reference Q2): returns one row per class:
    * sure (N7 <= M), uncertain (N3 <= M < N7), inlier.
    *
    * Job shape: ONE collect on the small path ([[localNeighborhoods]]); the
    * class roll-up then runs in-driver over ≤ limit cells and the result is
    * a 3-row local DataFrame. Larger cell tables take the distributed
    * neighborhood equi-join. */
  def approxOutliers(pts: DataFrame, d: Double, m: Long,
                     driverCellLimit: Int = 200000): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val lambda = d / (2.0 * math.sqrt(2.0))
    localNeighborhoods(pts, lambda, driverCellLimit) match {
      case Some(nb) =>
        val agg = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        nb.foreach { case (_, _, sz, n3, n7) =>
          val cls = if (n7 <= m) "sure" else if (n3 <= m) "uncertain" else "inlier"
          val (p, c) = agg.getOrElse(cls, (0L, 0L))
          agg.update(cls, (p + sz, c + 1L))
        }
        val rows = agg.toSeq.map { case (cls, (p, c)) => (cls, p, c) }
        spark.createDataset(rows).toDF("cls", "n_points", "n_cells")
      case None =>
        val cached = cellHistogram(pts, lambda).cache()
        try {
          cellNeighborhoods(cached).select(
              when(col("n7") <= m, lit("sure"))
                .when(col("n3") <= m, lit("uncertain"))
                .otherwise(lit("inlier")).as("cls"),
              col("sz"))
            .groupBy(col("cls"))
            .agg(sum(col("sz")).cast(LongType).as("n_points"), count(lit(1)).as("n_cells"))
            .localCheckpoint() // materialize while cached, then release
        } finally cached.unpersist()
    }
  }

  /** Exact (M,D)-outliers: |B(p,D)| (self included) for every point with
    * at most M neighbors. Input needs a unique `id` column plus x, y;
    * output is (qid: the id's type, n_neighbors), golden-verified on
    * TestN15, uber-10k, uber-100k.
    *
    * Small path (x, y doubles; at most `driverCellLimit` non-empty Λ-cells,
    * Λ = D/(2√2)): the reference's N3 bound (`G019HW1.java:209-261`)
    * decides most points with no pairwise work — every point of a Λ-cell
    * whose 3×3 block holds N3 > M points has all of them within D (per-axis
    * diff < 2Λ ⇒ dist < 2√2·Λ = D; GeometrySpec pins the tight corner
    * case in floating point), so it is an inlier. Only cells with
    * N3 ≤ M stay candidates; a neighbor within D of a candidate lies in
    * its 7×7 Λ-block (D/Λ = 2.83 < 3). One collect brings back the points
    * of those blocks (cells computed by Spark, filtered through a
    * broadcast cell set; the histogram bounds the count before the job
    * runs), and the driver counts each candidate's neighbors with the
    * fallback join's own cell condition and distance expression, so both
    * paths return the same rows. The result is a local DataFrame: three
    * jobs in all under AQE (histogram shuffle, its collect, the point
    * collect).
    *
    * Fallback (the histogram or the candidate points exceed
    * `driverCellLimit`, or non-double coordinates): a *pruned*
    * grid-bucketed equi-join, see [[exactJoin]].
    */
  def exactOutliers(pts: DataFrame, d: Double, m: Long,
                    driverCellLimit: Int = 200000): DataFrame = {
    val lambda = d / (2.0 * math.sqrt(2.0))
    val doubles = Seq("x", "y").forall(c => pts.schema(c).dataType == DoubleType)
    val local = if (!doubles) None else
      localNeighborhoods(pts, lambda, driverCellLimit)
        .flatMap(nb => exactLocal(pts, d, m, lambda, nb, driverCellLimit))
    local.getOrElse(exactJoin(pts, d, m))
  }

  /** The driver half of [[exactOutliers]]' small path, given the Λ-cell
    * neighborhood sums; None when the candidates' 7×7 blocks hold more
    * than `pointLimit` points. */
  private def exactLocal(pts: DataFrame, d: Double, m: Long, lambda: Double,
                         nb: Array[(Long, Long, Long, Long, Long)],
                         pointLimit: Int): Option[DataFrame] = {
    val spark = pts.sparkSession
    val idField = pts.schema("id")
    val schema = StructType(Seq(
      StructField("qid", idField.dataType, idField.nullable, idField.metadata),
      StructField("n_neighbors", LongType, nullable = false)))
    val sizes = nb.iterator.map { case (ci, cj, sz, _, _) => (ci, cj) -> sz }.toMap
    val candidates = nb.iterator.collect { case (ci, cj, _, n3, _) if n3 <= m => (ci, cj) }.toSet
    val needed = for ((ci, cj) <- candidates; a <- -3 to 3; b <- -3 to 3
                      if sizes.contains((ci + a, cj + b))) yield (ci + a, cj + b)
    if (needed.iterator.map(sizes).sum > pointLimit) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    if (candidates.nonEmpty) {
      val bc = spark.sparkContext.broadcast(needed)
      val inNeeded = udf((ci: Long, cj: Long) => bc.value.contains((ci, cj)))
      val rows = try {
        pts.select(col("id"), col("x"), col("y"),
            cellIndex(col("x"), lambda).as("ci"), cellIndex(col("y"), lambda).as("cj"),
            cellIndex(col("x"), d).as("di"), cellIndex(col("y"), d).as("dj"))
          .filter(inNeeded(col("ci"), col("cj")))
          .collect()
      } finally bc.destroy()
      val xs = rows.map(_.getDouble(1)); val ys = rows.map(_.getDouble(2))
      val di = rows.map(_.getLong(5)); val dj = rows.map(_.getLong(6))
      val byCell = rows.indices.groupBy(i => (rows(i).getLong(3), rows(i).getLong(4)))
      val dd = d * d
      for (i <- rows.indices) {
        val (ci, cj) = (rows(i).getLong(3), rows(i).getLong(4))
        if (candidates.contains((ci, cj))) {
          var n = 0L
          for (a <- -3 to 3; b <- -3 to 3; j <- byCell.getOrElse((ci + a, cj + b), Nil)) {
            // the fallback join's pair condition: D-cells within Chebyshev
            // distance 1, then the same double expression, same operand order
            if (math.abs(di(j) - di(i)) <= 1 && math.abs(dj(j) - dj(i)) <= 1 &&
                (xs(i) - xs(j)) * (xs(i) - xs(j)) + (ys(i) - ys(j)) * (ys(i) - ys(j)) <= dd) n += 1
          }
          if (n <= m) out += Row(rows(i).get(0), n)
        }
      }
    }
    Some(spark.createDataFrame(out.asJava, schema))
  }

  /** Exact (M,D)-outliers as a *pruned* grid-bucketed equi-join — the
    * distributed fallback of [[exactOutliers]].
    *
    * Insight (shared with the reference's dense-cell short-circuit,
    * `G016HW2.java:256-260`, applied here to make the EXACT path scale):
    * any two points in the same Λ-cell (Λ = D/(2√2), cell diagonal = D/2
    * per axis pair ⇒ max in-cell distance ≤ D) are neighbors, so a point
    * whose Λ-cell holds > M other points can never be an outlier and needs
    * no exact count. Only points in Λ-cells of size ≤ M (the sparse
    * regions, where outliers live by definition) enter the pairwise join —
    * on clustered data this prunes > 95% of the quadratic work, which is
    * the difference between minutes and seconds at 100k points and between
    * feasible and infeasible at 100 TB.
    *
    * The surviving candidates are counted exactly against the full point
    * set via a 3×3 neighbor-cell equi-join at cell width D (dist ≤ D ⇒
    * Chebyshev cell distance ≤ 1 — no cartesian product, shuffle/broadcast
    * hash join on the cell key).
    */
  private def exactJoin(pts0: DataFrame, d: Double, m: Long): DataFrame = {
    // the point set is consumed three times (Λ-cell histogram, candidate
    // semi-join side, probe side): persist so the upstream is evaluated
    // once, not three times. An INTERNAL projection is persisted, never
    // the caller's frame (which must not gain a cache entry it cannot
    // release as a hidden side effect); when the caller already cached
    // (PointSource), the projection materializes from that cache in one
    // cheap pass. Registered with InternalCaches for scoped release.
    val pts = graft.core.InternalCaches.persist(
      pts0.select(col("id"), col("x"), col("y")))
    val lambda = d / (2.0 * math.sqrt(2.0))
    val smallCells = cellHistogram(pts, lambda)
      .filter(col("sz") <= m)
      .select(col("ci").as("sci"), col("cj").as("scj"))
    val candidates = withCells(pts, lambda)
      .join(smallCells, col("ci") === col("sci") && col("cj") === col("scj"), "left_semi")
      .select(col("id"), col("x"), col("y"))
    val cells = withCells(pts, d)
    val probe = withCells(candidates, d)
      .withColumn("o", explode(offsets(1)))
      .select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"),
              (col("ci") + col("o.di")).as("ti"),
              (col("cj") + col("o.dj")).as("tj"))
    probe.join(cells, col("ti") === col("ci") && col("tj") === col("cj"))
      .filter((col("qx") - col("x")) * (col("qx") - col("x")) +
              (col("qy") - col("y")) * (col("qy") - col("y")) <= d * d)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_neighbors"))
      .filter(col("n_neighbors") <= m)
  }

  // ------------------------------------------------------------------- FFT

  /** Gonzalez farthest-first traversal (reference `G016HW2.java:114-154`
    * semantics: start from the first point, repeatedly add the point with
    * max distance to its nearest center; incremental min-dist array, O(nk);
    * first-index tiebreak for determinism). Driver-side by design: inputs
    * are ≤ K·L coreset points. */
  def sequentialFFT(pts: Array[(Double, Double)], k: Int): Array[(Double, Double)] = {
    require(pts.nonEmpty, "FFT on empty point set")
    val n = pts.length
    val kk = math.min(k, n)
    val centers = new Array[(Double, Double)](kk)
    val minD2 = Array.fill(n)(Double.MaxValue)
    centers(0) = pts(0)
    var c = 0
    while (c < kk - 1) {
      val (cx, cy) = centers(c)
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < n) {
        val dx = pts(i)._1 - cx; val dy = pts(i)._2 - cy
        val d2 = dx * dx + dy * dy
        if (d2 < minD2(i)) minD2(i) = d2
        if (minD2(i) > bestD) { bestD = minD2(i); best = i }
        i += 1
      }
      c += 1
      centers(c) = pts(best)
    }
    centers
  }

  /** FFT over primitive coordinate arrays, returning selected indices —
    * the executor-side kernel behind MRFFT R1. At 100M points the boxed
    * form retained ~6M tuple objects per partition plus an O(n log n)
    * comparator sort; primitive arrays keep the scan allocation-free.
    *
    * `canonical = true` makes the result a pure function of the point SET:
    * the seed is the lexicographically smallest point and max-min-distance
    * ties break toward the lexicographically smaller point — EXACTLY
    * equivalent to sorting the partition lexicographically and running the
    * first-index-tiebreak FFT (the previous deterministic path), minus the
    * sort. `canonical = false` keeps the reference's arrival-order
    * semantics (seed = first point, ties to the earliest index). */
  private[graft] def fftIndices(xs: Array[Double], ys: Array[Double], k: Int,
                                canonical: Boolean): Array[Int] = {
    val n = xs.length
    require(n > 0, "FFT on empty point set")
    val kk = math.min(k, n)
    val centers = new Array[Int](kk)
    val minD2 = Array.fill(n)(Double.MaxValue)
    var seed = 0
    if (canonical) {
      var i = 1
      while (i < n) {
        if (xs(i) < xs(seed) || (xs(i) == xs(seed) && ys(i) < ys(seed))) seed = i
        i += 1
      }
    }
    centers(0) = seed
    var c = 0
    while (c < kk - 1) {
      val cx = xs(centers(c)); val cy = ys(centers(c))
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < n) {
        val dx = xs(i) - cx; val dy = ys(i) - cy
        val d2 = dx * dx + dy * dy
        if (d2 < minD2(i)) minD2(i) = d2
        val m = minD2(i)
        if (m > bestD || (canonical && m == bestD &&
            (xs(i) < xs(best) || (xs(i) == xs(best) && ys(i) < ys(best))))) {
          bestD = m; best = i
        }
        i += 1
      }
      c += 1
      centers(c) = best
    }
    centers
  }

  /** MRFFT (reference Q4, 3 rounds). `deterministic = true` partitions by
    * hash of `id` (stable results for the correctness harness); false keeps
    * the round-robin `repartition(L)` of the reference CLI contract.
    * Returns (radius, centers). */
  def mrFFT(pts: DataFrame, k: Int, l: Int, deterministic: Boolean = true): (Double, Array[(Double, Double)]) = {
    val spark = pts.sparkSession
    // Deterministic path partitions by HASH of id, not by range: range
    // partitioning samples its boundaries with a seed derived from the
    // RDD id, so partition MEMBERSHIP would depend on execution history
    // (how many RDDs the session created before this one) — hash
    // membership is a pure function of (id, L), reproducible anywhere.
    val rows = (if (deterministic) pts.repartition(l, col("id")) else pts.repartition(l))
      .select(col("x").cast(DoubleType), col("y").cast(DoubleType))
    // R1 and R3 both scan every point: persist ONE primitive (xs, ys) array
    // pair per partition, built by R1's job straight from the shuffled
    // rows, so neither round pays a row decode or a separate cache build;
    // DISK spill keeps this safe when the point set exceeds executor storage
    val parts = rows.queryExecution.toRdd.mapPartitions { it =>
      val xb = new scala.collection.mutable.ArrayBuilder.ofDouble
      val yb = new scala.collection.mutable.ArrayBuilder.ofDouble
      it.foreach { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1), "mrFFT: null coordinate")
        xb += r.getDouble(0); yb += r.getDouble(1)
      }
      Iterator.single((xb.result(), yb.result()))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // R1: per-partition coreset (executors), ≤ K points each, via the
      // primitive-array kernel. On the deterministic path the kernel runs
      // in canonical (set-function) mode: hash partitioning fixes WHICH
      // rows land in a partition but shuffle fetch order varies run to
      // run, and canonical seeding/tie-breaks make arrival order
      // irrelevant — same result as sorting first, without the sort.
      val det = deterministic
      val coreset = parts.flatMap { case (xs, ys) =>
        if (xs.isEmpty) Iterator.empty
        else fftIndices(xs, ys, k, canonical = det).iterator.map(i => (xs(i), ys(i)))
      }.collect()
      // R2: driver FFT on ≤ K·L points
      val centers = sequentialFFT(coreset, k)
      // R3: broadcast centers as two primitive arrays (a tuple array costs
      // a pointer chase per center per point — n·k of them), per-point min
      // dist², max-reduce, single sqrt
      val bc = spark.sparkContext.broadcast((centers.map(_._1), centers.map(_._2)))
      val maxMinD2 = parts.map { case (xs, ys) =>
        val (cxs, cys) = bc.value
        var m = 0.0
        var p = 0
        while (p < xs.length) {
          var best = Double.MaxValue
          var i = 0
          while (i < cxs.length) {
            val dx = xs(p) - cxs(i); val dy = ys(p) - cys(i)
            val d2 = dx * dx + dy * dy
            if (d2 < best) best = d2
            i += 1
          }
          if (best > m) m = best
          p += 1
        }
        m
      }.reduce(math.max)
      (math.sqrt(maxMinD2), centers)
    } finally parts.unpersist()
  }

  // --------------------------------------------------- queries for the gate

  /** Deterministic 2-D point set derived from lineitem (x = price, y =
    * scaled quantity) — the oracle recomputes the same derivation. */
  private def lineitemPoints(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_extendedprice").as("x"),
      (col("l_quantity") * 100.0).as("y"))

  /** Smaller point set (customer) for the exact-outlier oracle join. */
  private[graft] def customerPoints(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("id"),
      col("c_acctbal").as("x"),
      (col("c_custkey") % 100).cast(DoubleType).as("y"))

  private val D1 = 500.0             // cell width for the histogram/approx queries
  private[graft] val D2 = 60.0        // exact-outlier radius on customer points
  private val M1 = 40L
  private[graft] val M2 = 6L

  def qCellHistogram(s: SparkSession, dir: String): DataFrame =
    cellHistogram(lineitemPoints(s, dir), D1 / (2.0 * math.sqrt(2.0)))

  def qCellNeighborhood(s: SparkSession, dir: String): DataFrame =
    cellNeighborhoods(cellHistogram(lineitemPoints(s, dir), D1 / (2.0 * math.sqrt(2.0))))

  def qApproxOutliers(s: SparkSession, dir: String): DataFrame =
    approxOutliers(lineitemPoints(s, dir), D1, M1)

  def qExactOutliers(s: SparkSession, dir: String): DataFrame =
    exactOutliers(customerPoints(s, dir), D2, M2)

  /** FFT centers (deterministic path), hash-matched against an unrolled
    * Gonzalez traversal in SQL ([[fftOracleSql]]). L = 1 makes the whole
    * 3-round pipeline a pure function of the point SET — with one
    * partition, R1's canonical kernel IS the full traversal, and R2's
    * re-traversal of the coreset re-selects it in R1 order (greedy
    * permutations are prefix-stable: at step j the R1 pick maximized
    * min-dist over ALL points, so it still wins over the later coreset
    * points, ties resolving to it by both tiebreak rules) — so the SQL
    * twin needs only one unrolled phase. The multi-partition path (where
    * partition membership depends on Spark's internal hash, inexpressible
    * in ANSI SQL) stays covered by q26, the bench anchors, and the pinned
    * 1M-point radii in GeometrySpec. */
  def qFftCenters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (radius, centers) = mrFFT(
      customerPoints(s, dir), k = 16, l = 1, deterministic = true)
    centers.zipWithIndex
      .map { case ((x, y), i) => (i, x, y, radius) }.toSeq
      .toDF("center_idx", "x", "y", "radius")
  }

  /** MRFFT at fact-table scale (lineitem-derived points, K=100, L=32) —
    * the BASELINE.md-comparable workload (reference: MRFFT on 1M points,
    * K=200, L=16 ≈ 1.1 s on 16 executors). Rows-only check. */
  def qFftScale(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.lineitem(s, dir).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
      col("l_extendedprice").as("x"),
      (col("l_quantity") * 100.0).as("y"))
    val (radius, centers) = mrFFT(pts, k = 100, l = 32, deterministic = true)
    centers.zipWithIndex
      .map { case ((x, y), i) => (i, x, y, radius) }.toSeq
      .toDF("center_idx", "x", "y", "radius")
  }

  private val LambdaSql = "(500.0 / (2.0 * sqrt(2.0)))"

  /** The q25 oracle: Gonzalez farthest-first traversal unrolled as K
    * materialized CTE steps (DuckDB has no iteration over state, but K is a
    * query constant, so the loop unrolls). Step i picks the point with max
    * min-distance² to the i centers so far, ties toward the
    * lexicographically smaller (x, y) — exactly the canonical kernel's
    * rule. All arithmetic is the same IEEE double expression shape the
    * Scala kernel evaluates ((px-cx)² + (py-cy)², min, max, one final
    * sqrt), so the match is bit-exact, verified at sf0.001/0.01/0.1.
    * MATERIALIZED is load-bearing: without it DuckDB inlines each CTE into
    * every reference and the unrolled chain re-scans the parquet O(K²)
    * times. */
  private def fftOracleSql(k: Int): String = {
    val steps = (1 until k).map { i =>
      s"""cs$i AS MATERIALIZED (SELECT * FROM cs${i - 1} UNION ALL
         SELECT * FROM (
           SELECT $i AS center_idx, x, y FROM (
             SELECT p.x, p.y, min((p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y)) AS md
             FROM pts p CROSS JOIN cs${i - 1} c GROUP BY p.x, p.y)
           ORDER BY md DESC, x, y LIMIT 1))"""
    }.mkString(",\n")
    s"""WITH pts AS MATERIALIZED (
         SELECT c_acctbal AS x, CAST(c_custkey % 100 AS DOUBLE) AS y FROM customer),
       cs0 AS MATERIALIZED (SELECT 0 AS center_idx, x, y FROM pts ORDER BY x, y LIMIT 1),
       $steps,
       centers AS MATERIALIZED (SELECT * FROM cs${k - 1}),
       rad AS (SELECT sqrt(max(md)) AS radius FROM (
         SELECT min((p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y)) AS md
         FROM pts p CROSS JOIN centers c GROUP BY p.x, p.y))
       SELECT center_idx, x, y, radius FROM centers CROSS JOIN rad"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_cell_histogram"   -> (qCellHistogram _),
    "q22_cell_neighborhood"-> (qCellNeighborhood _),
    "q23_approx_outliers"  -> (qApproxOutliers _),
    "q24_exact_outliers"   -> (qExactOutliers _),
    "q25_fft_centers"      -> (qFftCenters _),
    "q26_fft_scale"        -> (qFftScale _),
  )

  val oracles: Map[String, String] = Map(
    "q21_cell_histogram" ->
      s"""WITH pts AS (SELECT l_extendedprice AS x, l_quantity * 100.0 AS y FROM lineitem)
          SELECT CAST(floor(x / $LambdaSql) AS BIGINT) AS ci,
                 CAST(floor(y / $LambdaSql) AS BIGINT) AS cj,
                 count(*) AS sz
          FROM pts GROUP BY 1, 2""",
    "q22_cell_neighborhood" ->
      s"""WITH pts AS (SELECT l_extendedprice AS x, l_quantity * 100.0 AS y FROM lineitem),
          cells AS (
            SELECT CAST(floor(x / $LambdaSql) AS BIGINT) AS ci,
                   CAST(floor(y / $LambdaSql) AS BIGINT) AS cj,
                   count(*) AS sz
            FROM pts GROUP BY 1, 2)
          SELECT a.ci, a.cj, a.sz,
                 CAST(sum(CASE WHEN greatest(abs(a.ci - b.ci), abs(a.cj - b.cj)) <= 1 THEN b.sz ELSE 0 END) AS BIGINT) AS n3,
                 CAST(sum(b.sz) AS BIGINT) AS n7
          FROM cells a JOIN cells b
            ON abs(a.ci - b.ci) <= 3 AND abs(a.cj - b.cj) <= 3
          GROUP BY a.ci, a.cj, a.sz""",
    "q23_approx_outliers" ->
      s"""WITH pts AS (SELECT l_extendedprice AS x, l_quantity * 100.0 AS y FROM lineitem),
          cells AS (
            SELECT CAST(floor(x / $LambdaSql) AS BIGINT) AS ci,
                   CAST(floor(y / $LambdaSql) AS BIGINT) AS cj,
                   count(*) AS sz
            FROM pts GROUP BY 1, 2),
          nb AS (
            SELECT a.ci, a.cj, a.sz,
                   sum(CASE WHEN greatest(abs(a.ci - b.ci), abs(a.cj - b.cj)) <= 1 THEN b.sz ELSE 0 END) AS n3,
                   sum(b.sz) AS n7
            FROM cells a JOIN cells b
              ON abs(a.ci - b.ci) <= 3 AND abs(a.cj - b.cj) <= 3
            GROUP BY a.ci, a.cj, a.sz)
          SELECT CASE WHEN n7 <= 40 THEN 'sure' WHEN n3 <= 40 THEN 'uncertain' ELSE 'inlier' END AS cls,
                 CAST(sum(sz) AS BIGINT) AS n_points, count(*) AS n_cells
          FROM nb GROUP BY 1""",
    "q24_exact_outliers" ->
      """WITH pts AS (SELECT c_custkey AS id, c_acctbal AS x,
                        CAST(c_custkey % 100 AS DOUBLE) AS y FROM customer)
         SELECT a.id AS qid, count(*) AS n_neighbors
         FROM pts a JOIN pts b
           ON abs(a.x - b.x) <= 60.0 AND abs(a.y - b.y) <= 60.0
         WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 3600.0
         GROUP BY a.id HAVING count(*) <= 6""",
    "q25_fft_centers" -> fftOracleSql(16),
  )
}
