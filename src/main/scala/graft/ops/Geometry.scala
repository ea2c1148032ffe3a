package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.functions.BitMix
import java.util.Arrays
import scala.collection.mutable.ArrayBuilder
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
  *  - Both outlier operators take a driver path while the data allows
  *    it: one job with no shuffle over the once-planned points builds the
  *    Λ-cell histogram on the driver from primitive per-partition maps,
  *    as the reference downloads it (`G019HW1.java:209-261`). Its N3/N7
  *    bound settles every Λ-cell with N3 > M as inliers with no pairwise
  *    work, a second job on the same rows brings back the points of the
  *    remaining cells' 7×7 neighborhoods, and the driver counts them with
  *    the join's own distance expression. When the cell table or those
  *    points exceed `driverCellLimit`, it falls back to a *grid-bucketed equi-join*:
  *    each candidate is exploded to its 3×3 neighbor cells (cell width =
  *    D) and joined on the cell key — a shuffle hash join that scales to a
  *    1000-executor cluster, instead of the reference's driver nested
  *    loop. The prune is exact: dist <= D ⟹ per-axis diff <= D ⟹
  *    Chebyshev cell distance <= 1.
  *  - The N3/N7 neighborhood sums are likewise a driver hash-map pass over
  *    that histogram of at most `driverCellLimit` cells, with a
  *    7×7-offset explode + equi-join + conditional aggregation as the
  *    twin for larger tables: the non-empty cell table is small for dense
  *    data, but a 100 TB sparse dataset can have billions of non-empty
  *    cells — the join formulation survives that; a `collect()` does not.
  *  - MRFFT keeps the reference's 3-round shape (it is optimal): R1
  *    per-partition FFT coreset, R2 driver FFT on ≤ K·L points, R3
  *    max-reduce of min distances to the centers. An input whose size
  *    estimate is within Spark's broadcast threshold runs in one job with
  *    no shuffle: its tasks return primitive (xs, ys) arrays per target
  *    partition, and the three rounds run on the driver. A larger one
  *    reaches its L partitions through one shuffle of those array
  *    chunks, not of rows, and R1 and R3 share the one cached array pair
  *    per partition it builds: two jobs, R1 (with the shuffle's map
  *    stage) and R3. The FFT kernel prunes exactly: a new center skips
  *    every group of points, held by nearest center, that the triangle
  *    inequality (1e-6 margin, normal-range guard) proves it cannot reach;
  *    R3 scans the centers sorted by x outward from each point and stops
  *    where the x distance alone exceeds the point's best.
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

  /** Cell id of one double coordinate at width `cell`, off the plan:
    * [[cellIndex]]'s floor toward −∞, which Catalyst evaluates on the
    * coordinate widened to double. */
  private def cellOf(v: Double, cell: Double): Long = math.floor(v / cell).toLong

  /** (ci, cj) → count on primitive arrays, with no boxed key per cell:
    * the cells sit in `ci/cj/sz(0 until n)` in insertion order, and a
    * power-of-two slot table at most half full holds each one's index
    * (−1 marks a free slot), probed linearly. */
  private[graft] final class CellMap extends Serializable {
    var n = 0
    var ci = new Array[Long](8); var cj = new Array[Long](8); var sz = new Array[Long](8)
    private var slots = Array.fill(16)(-1)

    /** Slot of (i, j), or the free slot where it would go. */
    private def slot(i: Long, j: Long): Int = {
      val mask = slots.length - 1
      var s = BitMix.splitmix64(i * 0x9e3779b97f4a7c15L + j).toInt & mask
      while (slots(s) >= 0 && (ci(slots(s)) != i || cj(slots(s)) != j)) s = (s + 1) & mask
      s
    }

    /** The count of (i, j), 0 when absent. */
    def apply(i: Long, j: Long): Long = { val e = slots(slot(i, j)); if (e < 0) 0L else sz(e) }

    /** Adds `c` to the count of (i, j), inserting it if absent. */
    def add(i: Long, j: Long, c: Long): Unit = {
      var s = slot(i, j)
      if (slots(s) >= 0) sz(slots(s)) += c
      else {
        if (n == ci.length) {
          ci = Arrays.copyOf(ci, 2 * n); cj = Arrays.copyOf(cj, 2 * n); sz = Arrays.copyOf(sz, 2 * n)
          slots = Array.fill(4 * n)(-1)
          for (e <- 0 until n) slots(slot(ci(e), cj(e))) = e
          s = slot(i, j)
        }
        ci(n) = i; cj(n) = j; sz(n) = c; slots(s) = n; n += 1
      }
    }
  }

  /** `pts`' x and y widened to double at ordinals 0 and 1, then `extra`,
    * planned once: the rows a grid pass reads. */
  private[graft] def gridRows(pts: DataFrame, extra: Column*): RDD[InternalRow] =
    pts.select(col("x").cast(DoubleType) +: col("y").cast(DoubleType) +: extra: _*).queryExecution.toRdd

  /** The Λ-cell histogram (reference Step A, `G019HW1.java:183-189`) of
    * [[gridRows]], or None when it holds more than `limit` cells. One job,
    * no shuffle: each partition counts its cells in a [[CellMap]] and
    * ships them as three compact arrays, or nothing once it alone holds
    * more than `limit`; the driver merges the partitions as they arrive
    * and stops once the merged map holds more than `limit`. */
  private[graft] def localHistogram(rows: RDD[InternalRow], lambda: Double, limit: Int): Option[CellMap] = {
    val merged = new CellMap
    var fits = true
    rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val h = new CellMap
      while (h.n <= limit && it.hasNext) {
        val r = it.next()
        require(!r.isNullAt(0) && !r.isNullAt(1), "outliers: null coordinate")
        h.add(cellOf(r.getDouble(0), lambda), cellOf(r.getDouble(1), lambda), 1L)
      }
      if (h.n > limit) None else Some((h.ci.take(h.n), h.cj.take(h.n), h.sz.take(h.n)))
    }, (_: Int, part: Option[(Array[Long], Array[Long], Array[Long])]) => part match {
      case Some((ci, cj, sz)) if fits =>
        var e = 0
        while (e < ci.length && merged.n <= limit) { merged.add(ci(e), cj(e), sz(e)); e += 1 }
        fits = merged.n <= limit
      case _ => fits = false
    })
    if (fits) Some(merged) else None
  }

  /** N3 and N7 of every cell of `h`, the points of its 3×3 and 7×7 blocks
    * (reference Step B, `G019HW1.java:209-261`, on the histogram the
    * assignment allows to download): [[cellNeighborhoods]] is its
    * oracle-verified equi-join twin for billions of non-empty cells. */
  private def neighborhoodSums(h: CellMap): (Array[Long], Array[Long]) = {
    val n3 = new Array[Long](h.n); val n7 = new Array[Long](h.n)
    for (e <- 0 until h.n; a <- -3 to 3; b <- -3 to 3) {
      val s = h(h.ci(e) + a, h.cj(e) + b)
      n7(e) += s
      if (math.abs(a) <= 1 && math.abs(b) <= 1) n3(e) += s
    }
    (n3, n7)
  }

  private def requireRadius(d: Double): Unit =
    require(d > 0 && !d.isInfinite, s"outlier radius must be positive and finite, got $d")

  private val ApproxSchema = StructType.fromDDL("cls string, n_points bigint not null, n_cells bigint not null")

  /** MRApproxOutliers (reference Q2): returns one row per class:
    * sure (N7 <= M), uncertain (N3 <= M < N7), inlier.
    *
    * Job shape: ONE job and no shuffle on the small path, the grid pass
    * of [[localHistogram]]; the class roll-up then runs in-driver over
    * ≤ limit cells. Larger cell tables take the distributed neighborhood
    * equi-join, whose three rows are collected. Either way the result is
    * a 3-row local DataFrame. */
  def approxOutliers(pts: DataFrame, d: Double, m: Long,
                     driverCellLimit: Int = 200000): DataFrame = {
    requireRadius(d)
    val lambda = d / (2.0 * math.sqrt(2.0))
    val rows = localHistogram(gridRows(pts), lambda, driverCellLimit) match {
      case Some(h) =>
        val (n3, n7) = neighborhoodSums(h)
        val classes = Seq("sure", "uncertain", "inlier")
        val points = new Array[Long](3); val cells = new Array[Long](3)
        for (e <- 0 until h.n) {
          val k = if (n7(e) <= m) 0 else if (n3(e) <= m) 1 else 2
          points(k) += h.sz(e); cells(k) += 1
        }
        classes.indices.filter(cells(_) > 0).map(k => Row(classes(k), points(k), cells(k)))
      case None =>
        // cellNeighborhoods persists its own projection of the histogram,
        // so the aggregation runs once without a second cache here
        cellNeighborhoods(cellHistogram(pts, lambda)).select(
            when(col("n7") <= m, lit("sure"))
              .when(col("n3") <= m, lit("uncertain"))
              .otherwise(lit("inlier")).as("cls"),
            col("sz"))
          .groupBy(col("cls"))
          .agg(sum(col("sz")).as("n_points"), count(lit(1)).as("n_cells"))
          .collect().toSeq
    }
    pts.sparkSession.createDataFrame(rows.asJava, ApproxSchema)
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
    * its 7×7 Λ-block (D/Λ = 2.83 < 3). `gridRows(pts, id)` is planned
    * once for two jobs: the grid pass of [[localHistogram]], then one that
    * keeps the points whose Λ-cell is in the primitive set of those blocks
    * (the histogram bounds their count first). The driver counts each
    * candidate's neighbors with the fallback join's own cell condition and
    * distance expression, so both paths return the same rows. The result
    * is a local DataFrame: two jobs in all, one planning, no shuffle.
    *
    * Fallback (the histogram or the candidate points exceed
    * `driverCellLimit`, or non-double coordinates): a *pruned*
    * grid-bucketed equi-join, see [[exactJoin]].
    */
  def exactOutliers(pts: DataFrame, d: Double, m: Long,
                    driverCellLimit: Int = 200000): DataFrame = {
    requireRadius(d)
    val lambda = d / (2.0 * math.sqrt(2.0))
    val doubles = Seq("x", "y").forall(c => pts.schema(c).dataType == DoubleType)
    val local = if (!doubles) None else exactLocal(pts, d, m, lambda, driverCellLimit)
    local.getOrElse(exactJoin(pts, d, m))
  }

  /** [[exactOutliers]]' small path; None when the Λ-cell histogram holds
    * more than `limit` cells or the candidates' 7×7 blocks more than
    * `limit` points. */
  private def exactLocal(pts: DataFrame, d: Double, m: Long, lambda: Double,
                         limit: Int): Option[DataFrame] = {
    val rows = gridRows(pts, col("id"))
    localHistogram(rows, lambda, limit).flatMap { h =>
      val (n3, _) = neighborhoodSums(h)
      val candidates = new CellMap; val needed = new CellMap
      var neededPoints = 0L
      for (e <- 0 until h.n if n3(e) <= m) {
        candidates.add(h.ci(e), h.cj(e), 1L)
        for (a <- -3 to 3; b <- -3 to 3) {
          val (i, j) = (h.ci(e) + a, h.cj(e) + b)
          val s = h(i, j)
          if (s > 0 && needed(i, j) == 0L) { needed.add(i, j, s); neededPoints += s }
        }
      }
      if (neededPoints > limit) None else {
        val idField = pts.schema("id")
        val schema = StructType(Seq(
          StructField("qid", idField.dataType, idField.nullable, idField.metadata),
          StructField("n_neighbors", LongType, nullable = false)))
        val kept = if (candidates.n == 0) Array.empty[InternalRow] else
          rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) =>
            it.filter(r => needed(cellOf(r.getDouble(0), lambda), cellOf(r.getDouble(1), lambda)) > 0)
              .map(_.copy()).toArray).flatten
        val toId = CatalystTypeConverters.createToScalaConverter(idField.dataType)
        val xs = kept.map(_.getDouble(0)); val ys = kept.map(_.getDouble(1))
        val ci = xs.map(cellOf(_, lambda)); val cj = ys.map(cellOf(_, lambda))
        val di = xs.map(cellOf(_, d)); val dj = ys.map(cellOf(_, d))
        val byCell = kept.indices.groupBy(i => (ci(i), cj(i)))
        val dd = d * d
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        for (i <- kept.indices if candidates(ci(i), cj(i)) > 0) {
          var n = 0L
          for (a <- -3 to 3; b <- -3 to 3; j <- byCell.getOrElse((ci(i) + a, cj(i) + b), Nil)) {
            // the fallback join's pair condition: D-cells within Chebyshev
            // distance 1, then the same double expression, same operand order
            if (math.abs(di(j) - di(i)) <= 1 && math.abs(dj(j) - dj(i)) <= 1 &&
                (xs(i) - xs(j)) * (xs(i) - xs(j)) + (ys(i) - ys(j)) * (ys(i) - ys(j)) <= dd) n += 1
          }
          if (n <= m) out += Row(toId(kept(i).get(2, idField.dataType)), n)
        }
        Some(pts.sparkSession.createDataFrame(out.asJava, schema))
      }
    }
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
  def sequentialFFT(pts: Array[(Double, Double)], k: Int): Array[(Double, Double)] =
    fftIndices(pts.map(_._1), pts.map(_._2), k, canonical = false).map(pts)

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
    * semantics (seed = first point, ties to the earliest index).
    *
    * Exact pruning: the points are kept in groups by the center that set
    * their min-dist² last, and each group keeps its argmax under the pick
    * order (min-dist² desc, then (canonical) x asc, y asc, then index asc),
    * so the next center is the argmax over the groups. A new center c
    * skips group g when cc² > 4.000004·gMax, where cc² is g's center to c
    * and gMax the group's largest min-dist²: then |p−c| ≥ |g−c| − |p−g| >
    * |p−g| for every member p, and the 1e-6 margin covers the rounding of
    * all three computed squares, so no member's computed d² from c drops
    * below its min-dist². The guard gMax ≥ 1e-290 keeps those squares in
    * the normal range, where rounding is relative. Points no center has
    * brought below MaxValue (NaN, ±Inf, overflowing squares) never leave
    * group 0, whose gMax is then MaxValue: it is never skipped and, being
    * scanned in index order, ties among them resolve as the plain loop
    * resolves them. Min-dist² values and picks equal the plain O(n·k) loop
    * (GeometrySpec keeps it as the oracle). */
  private[graft] def fftIndices(xs: Array[Double], ys: Array[Double], k: Int,
                                canonical: Boolean): Array[Int] = {
    val n = xs.length
    require(n > 0, "FFT on empty point set")
    val kk = math.min(k, n)
    val centers = new Array[Int](kk)
    val minD2 = Array.fill(n)(Double.MaxValue)
    def lexLess(i: Int, j: Int) = xs(i) < xs(j) || (xs(i) == xs(j) && ys(i) < ys(j))
    // the pick order among equal min-dist²: true when i comes before j
    def tie(i: Int, j: Int) = if (canonical) lexLess(i, j) || (!lexLess(j, i) && i < j) else i < j
    // true when i, at min-dist² d, comes before j at dj (j < 0: no pick yet)
    def ahead(i: Int, d: Double, j: Int, dj: Double) = j < 0 || d > dj || (d == dj && tie(i, j))
    def before(i: Int, j: Int) = j < 0 || ahead(i, minD2(i), j, minD2(j))
    if (canonical) for (i <- 1 until n) if (lexLess(i, centers(0))) centers(0) = i
    // group g: members(g)(0 until size(g)) and its argmax best(g); before
    // step 0 every point sits in group 0 at MaxValue
    val members = new Array[Array[Int]](kk); val size = new Array[Int](kk)
    val best = Array.fill(kk)(-1)
    members(0) = Array.range(0, n); size(0) = n; best(0) = 0
    var c = 0
    while (c < kk - 1) {
      val cx = xs(centers(c)); val cy = ys(centers(c))
      def skip(g: Int) = {
        val gx = xs(centers(g)) - cx; val gy = ys(centers(g)) - cy
        val gMax = minD2(best(g))
        gMax >= 1e-290 && gx * gx + gy * gy > 4.000004 * gMax
      }
      // step 0 scans group 0 against its own center; a later step moves
      // the points c brings closer out of groups 0 until c into group c.
      // Each scanned group's argmax and group c's run in locals (index,
      // min-dist²) and are stored once the scan is done.
      var cb = -1; var cd = 0.0
      var g = 0
      while (g < math.max(c, 1)) {
        if (size(g) > 0 && !skip(g)) {
          val m = members(g)
          var kept = 0; var gb = -1; var gd = 0.0
          var s = 0
          while (s < size(g)) {
            val i = m(s)
            val dx = xs(i) - cx; val dy = ys(i) - cy
            val d2 = dx * dx + dy * dy
            val closer = d2 < minD2(i)
            val d = if (closer) d2 else minD2(i)
            if (closer) minD2(i) = d2
            if (closer && g < c) {
              if (members(c) == null) members(c) = new Array[Int](64)
              else if (size(c) == members(c).length) members(c) = Arrays.copyOf(members(c), 2 * size(c))
              members(c)(size(c)) = i; size(c) += 1
              if (ahead(i, d, cb, cd)) { cb = i; cd = d }
            } else {
              m(kept) = i; kept += 1
              if (ahead(i, d, gb, gd)) { gb = i; gd = d }
            }
            s += 1
          }
          size(g) = kept; best(g) = gb
        }
        g += 1
      }
      if (c > 0) best(c) = cb
      var next = -1
      g = 0
      while (g <= c) { if (size(g) > 0 && before(best(g), next)) next = best(g); g += 1 }
      c += 1
      centers(c) = next
    }
    centers
  }

  /** Max over the points (xs, ys) of each one's min d² to the centers
    * (cxs, cys): MRFFT's R3 kernel, equal bit for bit to the plain O(n·k)
    * loop (each min starts at MaxValue, d² = dx·dx + dy·dy with dx the
    * point's x minus the center's). The centers are sorted by x once, in
    * Double's total order; each point scans outward from its own x and
    * stops in a direction once dx·dx alone exceeds its best d² so far.
    * That is exact because rounding is monotone: past that center every
    * computed dx·dx, and so every computed d² ≥ dx·dx, is larger still.
    * Non-finite values need no guard: the total order puts NaN last, a NaN
    * dx never stops a scan, and an infinite dx·dx exceeds every best,
    * which never exceeds MaxValue, as does every d² it skips.
    * GeometrySpec keeps the plain loop as the oracle. */
  private[graft] def maxMinD2(xs: Array[Double], ys: Array[Double],
                              cxs: Array[Double], cys: Array[Double]): Double = {
    val order = cxs.indices.sortBy(cxs(_))(Ordering.Double.TotalOrdering)
    val sx = order.map(cxs).toArray; val sy = order.map(cys).toArray
    var m = 0.0
    var p = 0
    while (p < xs.length) {
      val x = xs(p); val y = ys(p)
      var best = Double.MaxValue
      // sx(0 until s) are at most x, sx(s until k) at least x
      val found = Arrays.binarySearch(sx, x)
      val s = if (found >= 0) found else -found - 1
      var i = s
      while (i < sx.length) {
        val dx = x - sx(i); val dx2 = dx * dx
        if (dx2 > best) i = sx.length
        else { val dy = y - sy(i); val d2 = dx2 + dy * dy; if (d2 < best) best = d2; i += 1 }
      }
      i = s - 1
      while (i >= 0) {
        val dx = x - sx(i); val dx2 = dx * dx
        if (dx2 > best) i = -1
        else { val dy = y - sy(i); val d2 = dx2 + dy * dy; if (d2 < best) best = d2; i -= 1 }
      }
      if (best > m) m = best
      p += 1
    }
    m
  }

  /** The points of (target, x, y) rows as primitive (xs, ys) chunks of at
    * most 64 Ki points (bounding a task's memory) keyed by target, each
    * target's last chunk once the rows run out: MRFFT's one array build. */
  private def targetChunks(it: Iterator[InternalRow], l: Int): Iterator[(Int, (Array[Double], Array[Double]))] = {
    val xb = Array.fill(l)(new ArrayBuilder.ofDouble); val yb = Array.fill(l)(new ArrayBuilder.ofDouble)
    def chunk(p: Int) = { val c = (p, (xb(p).result(), yb(p).result())); xb(p).clear(); yb(p).clear(); c }
    it.flatMap { r =>
      require(!r.isNullAt(1) && !r.isNullAt(2), "mrFFT: null coordinate")
      val p = r.getInt(0)
      xb(p) += r.getDouble(1); yb(p) += r.getDouble(2)
      if (xb(p).length == (1 << 16)) Iterator.single(chunk(p)) else Iterator.empty
    } ++ (0 until l).iterator.filter(xb(_).length > 0).map(chunk)
  }

  /** One target's chunks as one (xs, ys) array pair. */
  private def joined(cs: Seq[(Array[Double], Array[Double])]): (Array[Double], Array[Double]) =
    (Array.concat(cs.map(_._1): _*), Array.concat(cs.map(_._2): _*))

  /** MRFFT (reference Q4, 3 rounds). `deterministic = true` partitions by
    * hash of `id` (stable results for the correctness harness); false
    * deals each input partition's rows round-robin over the L partitions,
    * the reference CLI's `repartition(L)` contract. Returns (radius,
    * centers).
    *
    * Job shape: one projection (target, x, y) is planned, and each
    * target's points become primitive arrays ([[targetChunks]]). When
    * Spark's size estimate of that projection is within
    * `spark.sql.autoBroadcastJoinThreshold`, the size at which Spark
    * itself brings a relation to the driver (−1 turns this path off, as
    * it turns broadcasts off), ONE job with no shuffle returns every
    * partition's chunks and R1, R2 and R3 run on the driver. Above it,
    * TWO jobs: R1 runs in the job of the shuffle that gathers each
    * target's chunks into one persisted array pair, and R3 runs over
    * those pairs with the centers broadcast.
    *
    * Both paths return the same radius and centers bit for bit: canonical
    * R1 is a function of each target's point set, the coreset is
    * concatenated in target order (the order `collect` returns the
    * partitions in), and R3 takes its max over the same computed values
    * ([[maxMinD2]]). */
  def mrFFT(pts: DataFrame, k: Int, l: Int, deterministic: Boolean = true): (Double, Array[(Double, Double)]) = {
    val spark = pts.sparkSession
    // Deterministic path partitions by HASH of id, not by range: range
    // partitioning samples its boundaries with a seed derived from the
    // RDD id, so partition MEMBERSHIP would depend on execution history
    // (how many RDDs the session created before this one) — hash
    // membership is a pure function of (id, L), reproducible anywhere.
    // `pmod(hash(id), L)` is HashPartitioning's own partition id (Murmur3,
    // seed 42), so membership is that of `repartition(L, id)`.
    val target = pmod(if (deterministic) hash(col("id")) else monotonically_increasing_id(), lit(l))
    val planned = pts.select(target.cast(IntegerType), col("x").cast(DoubleType), col("y").cast(DoubleType))
      .queryExecution
    val rows = planned.toRdd
    // R1: ≤ K points per target via the primitive-array kernel. On the
    // deterministic path the kernel runs in canonical (set-function)
    // mode: hash partitioning fixes WHICH rows share a target, but the
    // order they arrive in varies, and canonical seeding/tie-breaks make
    // arrival order irrelevant — same result as sorting first, without
    // the sort.
    val r1 = (xs: Array[Double], ys: Array[Double]) =>
      if (xs.isEmpty) Iterator.empty
      else fftIndices(xs, ys, k, canonical = deterministic).iterator.map(i => (xs(i), ys(i)))
    // R2: driver FFT on ≤ K·L points; R3: the max min d², one sqrt
    def rounds(coreset: Array[(Double, Double)])(r3: (Array[Double], Array[Double]) => Double) = {
      val centers = sequentialFFT(coreset, k)
      (math.sqrt(r3(centers.map(_._1), centers.map(_._2))), centers)
    }
    if (planned.optimizedPlan.stats.sizeInBytes <= spark.sessionState.conf.autoBroadcastJoinThreshold) {
      val chunks = rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => targetChunks(it, l).toArray).flatten
      val groups = (0 until l).map(p => joined(chunks.collect { case (`p`, c) => c }.toSeq))
      rounds(groups.iterator.flatMap(r1.tupled).toArray) { (cxs, cys) =>
        groups.map { case (xs, ys) => maxMinD2(xs, ys, cxs, cys) }.foldLeft(0.0)(math.max)
      }
    } else {
      // the shuffle moves the chunks keyed by target (HashPartitioner maps
      // p in [0, L) to itself) and persists ONE array pair per target, so
      // R1's collect runs the map stage and R1 in one job and R3 reads the
      // same pairs, with no row decode on either side; DISK spill keeps
      // this safe when the point set exceeds storage
      val parts = rows.mapPartitions(targetChunks(_, l))
        .partitionBy(new org.apache.spark.HashPartitioner(l))
        .mapPartitions(it => Iterator.single(joined(it.map(_._2).toSeq)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try rounds(parts.flatMap(r1.tupled).collect()) { (cxs, cys) =>
        // centers as two primitive arrays: a tuple array costs a pointer
        // chase per center per point
        val bc = spark.sparkContext.broadcast((cxs, cys))
        parts.map { case (xs, ys) => maxMinD2(xs, ys, bc.value._1, bc.value._2) }.reduce(math.max)
      } finally parts.unpersist()
    }
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
