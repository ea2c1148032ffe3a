package graft

import org.apache.spark.sql.functions._
import graft.ops.Geometry
import graft.sources.PointSource

/** Golden-parity (TestN15 from the reference's published outputs — see
  * FIXTURES.md §1) and property tests for the geometric operators. */
class GeometrySpec extends SparkSpec {

  private lazy val testN15 = PointSource.read(
    spark, getClass.getResource("/TestN15-input.txt").getPath, l = 2)

  test("TestN15 golden: 9 exact outliers at D=1.0 M=3") {
    val outliers = Geometry.exactOutliers(testN15, d = 1.0, m = 3).collect()
    assert(outliers.length == 9)
  }

  test("TestN15 golden: 7 sure / 4 uncertain at D=1.0 M=3") {
    val classes = Geometry.approxOutliers(testN15, d = 1.0, m = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(classes.getOrElse("sure", 0L) == 7)
    assert(classes.getOrElse("uncertain", 0L) == 4)
  }

  test("TestN15 golden: 9 non-empty cells, all of size 1, incl (4,10)/(2,3)/(9,13)") {
    val lambda = 1.0 / (2.0 * math.sqrt(2.0))
    val cells = Geometry.cellHistogram(testN15, lambda).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val size1 = cells.filter(_._2 == 1L).keySet
    assert(size1.size == 9)
    assert(Set((4L, 10L), (2L, 3L), (9L, 13L)).subsetOf(size1))
  }

  test("sure outliers are a subset of exact outliers; exact ⊆ sure+uncertain points") {
    // containment property (SURVEY §5.2): for matching D, the grid bounds
    // bracket the exact answer
    val d = 1.0; val m = 3L
    val exact = Geometry.exactOutliers(testN15, d, m).collect().map(_.getLong(0)).toSet
    val lambda = d / (2.0 * math.sqrt(2.0))
    val nb = Geometry.cellNeighborhoods(Geometry.cellHistogram(testN15, lambda))
    val cellsOf = Geometry.withCells(testN15, lambda)
      .select(col("id"), col("ci"), col("cj")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val cls = nb.collect().map { r =>
      ((r.getLong(0), r.getLong(1)),
        if (r.getLong(4) <= m) "sure" else if (r.getLong(3) <= m) "uncertain" else "inlier")
    }.toMap
    val sureIds = cellsOf.filter { case (_, c) => cls(c) == "sure" }.keySet
    val candidateIds = cellsOf.filter { case (_, c) => cls(c) != "inlier" }.keySet
    assert(sureIds.subsetOf(exact))
    assert(exact.subsetOf(candidateIds))
  }

  /** Seeded inputs for the exact-outlier path equivalence: dense clusters
    * (pruned by N3 > M), negative coordinates, duplicate coordinates,
    * points on the extreme corners of diagonal Λ-cells (the tight case of
    * the N3 bound: per-axis diff just under 2Λ, distance just under D),
    * neighbors three Λ-cells apart,
    * pairs at exactly distance D, and uncertain cells (N3 ≤ M < N7) beside
    * a dense blob. Returns (id, x, y) with unique ids. */
  private def edgeCasePoints(seed: Int, d: Double, m: Int): Seq[(Long, Double, Double)] = {
    val rng = new scala.util.Random(seed)
    val lambda = d / (2.0 * math.sqrt(2.0))
    def cell(v: Double): Long = math.floor(v / lambda).toLong
    // smallest / largest double in Λ-cell k, as Spark's floor(v / Λ) assigns it
    def lo(k: Long): Double = {
      var v = k * lambda
      while (cell(v) >= k) v = Math.nextDown(v)
      while (cell(v) < k) v = Math.nextUp(v)
      v
    }
    def hi(k: Long): Double = {
      var v = (k + 1) * lambda
      while (cell(v) > k) v = Math.nextDown(v)
      while (cell(Math.nextUp(v)) <= k) v = Math.nextUp(v)
      v
    }
    val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    // clusters, one of them at negative coordinates
    for ((cx, cy) <- Seq((5.0, 5.0), (-7.0, -3.0), (12.0, -9.0)); _ <- 0 until 400)
      pts += ((cx + rng.nextGaussian() * d / 2, cy + rng.nextGaussian() * d / 2))
    // corner pairs: p alone in its cell, M duplicates at the far corner of
    // the diagonal neighbor ⇒ N3 = M + 1, decided by the bound alone
    for (_ <- 0 until 6) {
      val (k, l) = (rng.nextInt(2000).toLong - 1000 + 5000, rng.nextInt(2000).toLong - 1000 - 5000)
      pts += ((lo(k), lo(l)))
      for (_ <- 0 until m) pts += ((hi(k + 1), hi(l + 1)))
    }
    // the same with M - 1 duplicates: N3 = M, a candidate counted exactly
    for (_ <- 0 until 6) {
      val (k, l) = (rng.nextInt(2000).toLong + 9000, rng.nextInt(2000).toLong - 1000)
      pts += ((lo(k), hi(l)))
      for (_ <- 0 until m - 1) pts += ((hi(k + 1), lo(l - 1)))
    }
    // a candidate whose only neighbors sit three Λ-cells away on an axis
    // (2Λ < diff < D), M + 1 duplicates in a cell the prune settles: only
    // the candidate's 7×7 block reaches them
    for (_ <- 0 until 6) {
      val (k, l) = (rng.nextInt(2000).toLong - 12000, rng.nextInt(2000).toLong + 3000)
      pts += ((hi(k), lo(l)))
      for (_ <- 0 to m) pts += ((lo(k + 3), lo(l)))
      pts += ((hi(k), hi(l + 6)))
      for (_ <- 0 to m) pts += ((lo(k + 3), lo(l + 8)))
    }
    // pairs and chains at exactly distance D (exactly representable sums)
    for (i <- 0 until 8) {
      val (x, y) = (-40.0 - 4.0 * i, 30.0 + 4.0 * i)
      pts += ((x, y)); pts += ((x + d, y)); pts += ((x, y - d)); pts += ((x + d, y - d))
    }
    // uncertain cells: a few points 1.5-2.5Λ beside a tight blob of 20M
    // (the blobs also put more candidate-block points than cells on the
    // driver, so a limit of the cell count trips the point bound)
    for (i <- 0 until 5) {
      val (bx, by) = (60.0 + 3.0 * i, -60.0 - 3.0 * i)
      for (_ <- 0 until 20 * m) pts += ((bx + rng.nextDouble() * lambda * 0.5, by + rng.nextDouble() * lambda * 0.5))
      for (_ <- 0 until 1 + rng.nextInt(2))
        pts += ((bx + lambda * (1.5 + rng.nextDouble()), by + lambda * (1.5 + rng.nextDouble())))
    }
    // scattered singletons, some on negative coordinates
    for (_ <- 0 until 150) pts += ((rng.nextDouble() * 200 - 100, rng.nextDouble() * 200 - 100))
    rng.shuffle(pts.toSeq).zipWithIndex.map { case ((x, y), i) => (i.toLong * 7 + 3, x, y) }
  }

  test("exactOutliers: the N3-pruned driver path equals the distributed fallback") {
    import spark.implicits._
    val d = 0.5; val m = 10
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("LocalTableScan") && !p.contains("Join")
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Any, Long)] =
      df.collect().map(r => (r.get(0), r.getLong(1))).toSet
    for (seed <- Seq(1, 2, 3)) {
      val pts = edgeCasePoints(seed, d, m).toDF("id", "x", "y").cache()
      // the same points with an int id: qid must keep the input's id type
      val intIds = pts.select(col("id").cast("int").as("id"), col("x"), col("y")).cache()
      try {
        val lambda = d / (2.0 * math.sqrt(2.0))
        val nCells = Geometry.cellHistogram(pts, lambda).count().toInt
        for (in <- Seq(pts, intIds); mm <- Seq(m.toLong, -1L)) {
          val small = Geometry.exactOutliers(in, d, mm)
          // cell bound tripped (histogram above the limit), then the point
          // bound tripped (histogram fits, the candidates' blocks do not;
          // with M = -1 there are no candidates, so no points to bound)
          val byCells = Geometry.exactOutliers(in, d, mm, driverCellLimit = 1)
          val byPoints = Geometry.exactOutliers(in, d, mm, driverCellLimit = nCells)
          assert(isLocal(small), s"seed $seed: small path not taken")
          assert(!isLocal(byCells), s"seed $seed: cell bound did not trip")
          assert(isLocal(byPoints) == (mm < 0), s"seed $seed m $mm: point bound")
          val expected = ids(byCells)
          if (mm >= 0) assert(expected.size > 50, s"seed $seed: too few outliers to compare")
          else assert(expected.isEmpty)
          assert(ids(small) == expected, s"seed $seed m $mm: pruned path differs")
          assert(ids(byPoints) == expected)
          assert(small.schema == byCells.schema, s"${small.schema} vs ${byCells.schema}")
          assert(small.schema("qid").dataType == in.schema("id").dataType)
        }
        // float coordinates keep the join's float arithmetic: no driver path
        val floats = pts.select(col("id"), col("x").cast("float").as("x"), col("y").cast("float").as("y"))
        assert(!isLocal(Geometry.exactOutliers(floats, d, m)))
      } finally { pts.unpersist(); intIds.unpersist(); graft.core.InternalCaches.release(spark) }
    }
  }

  test("uber-10k golden: 236 exact / 165 sure / 195 uncertain (published reference output)") {
    // anchors from Homework_1/Data/Example/output_uber10k_0.02_10_5_2.pdf;
    // the uber-100k twin (673/435/658) is asserted inside Bench so the
    // timed workload fails loudly on a correctness regression
    val path = "/root/reference/Homework_1/Data/uber-10k.csv"
    assume(new java.io.File(path).exists(), "reference data not present")
    val pts = PointSource.read(spark, path, l = 8)
    assert(Geometry.exactOutliers(pts, d = 0.02, m = 10).count() == 236L)
    val cls = Geometry.approxOutliers(pts, d = 0.02, m = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cls.getOrElse("sure", 0L) == 165L)
    assert(cls.getOrElse("uncertain", 0L) == 195L)
  }

  test("FFT effectiveness sweep (reference TEST 2 shape): radius shrinks, planted outliers surface as K grows") {
    // planted dataset mirroring the reference's HW2 TEST 2 experiment
    // (Filled TableHW2.docx: K = 50…130 → radius 9.18→1.43, sure outliers
    // 9→99 of 100 planted): 10 tight clusters + 100 isolated outliers;
    // D = MRFFT radius at K, approx outliers at M = 10
    val rng = new scala.util.Random(99)
    val clusterCenters = Array.fill(10)((rng.nextDouble() * 100, rng.nextDouble() * 100))
    val clustered = Array.fill(5000) {
      val (cx, cy) = clusterCenters(rng.nextInt(10))
      (cx + rng.nextGaussian() * 0.5, cy + rng.nextGaussian() * 0.5)
    }
    val planted = Array.tabulate(100)(i => (1000.0 + 70.0 * i, 1000.0 - 70.0 * i))
    import spark.implicits._
    val df = spark.createDataset(
        (clustered ++ planted).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toSeq)
      .toDF("id", "x", "y")
    val sweep = Seq(30, 70, 120).map { k =>
      val (radius, _) = Geometry.mrFFT(df, k, l = 4)
      val cls = Geometry.approxOutliers(df, d = radius, m = 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (radius, cls.getOrElse("sure", 0L))
    }
    val radii = sweep.map(_._1)
    val sure = sweep.map(_._2)
    assert(radii.sliding(2).forall { case Seq(a, b) => b <= a }, s"radii not monotone: $radii")
    assert(sure.sliding(2).forall { case Seq(a, b) => b >= a }, s"sure counts not monotone: $sure")
    // at K = 120 every planted outlier is a center ⇒ D ≈ intra-cluster
    // spread ⇒ the 100 isolated points sit in singleton cells (sure)
    assert(sure.last >= 95L, s"final sweep step detected only ${sure.last} of 100 planted outliers")
  }

  test("sequentialFFT: radius monotone non-increasing in K and 2-approximation") {
    val rng = new scala.util.Random(7)
    val pts = Array.fill(400)((rng.nextDouble() * 10, rng.nextDouble() * 10))
    def radius(centers: Array[(Double, Double)]): Double =
      pts.map { case (x, y) =>
        centers.map { case (cx, cy) => math.hypot(x - cx, y - cy) }.min
      }.max
    val radii = Seq(2, 4, 8, 16, 32).map(k => radius(Geometry.sequentialFFT(pts, k)))
    assert(radii.sliding(2).forall { case Seq(a, b) => b <= a + 1e-12 })
    // FFT is a 2-approximation: r(k) <= 2 * OPT(k); OPT(16) >= r(32)/2 is
    // weaker than we can assert directly, but r(k) must be >= max pairwise
    // distance / (2k) — sanity lower bound
    assert(radii.last > 0.0)
  }

  test("artificial1M anchors: pinned per-L radii, tight cross-L envelope, planted-outlier recall") {
    // the reference's published 1M workload (artificial1M_9_100.csv,
    // 1 000 108 pts, M=10 K=200 — Radius 0.60045445 @16 exec / 0.62610096
    // @4 exec, 100 sure / 0 uncertain) with the original blob stripped:
    // the deterministic ArtificialPoints twin reproduces the shape with a
    // KNOWN ground truth. The reference's own radius varies ~4% per
    // executor count; ours is pinned EXACTLY per L (bit-deterministic
    // generator + sorted deterministic MRFFT) and varies < 1% across L.
    val pts = graft.sources.ArtificialPoints.generate(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(pts.count() == 1000108L) // the published corpus point count
      // deterministic mrFFT hashes ids to partitions (a pure function of
      // (id, L)) and selects centers canonically (fftIndices lexicographic
      // seed/tie-break — arrival order never matters), so these values
      // hold on any machine, session history, or parallelism setting
      val golden = Map(
        4  -> 0.5374876721124834,
        16 -> 0.5376904598128137,
        32 -> 0.5401880119358337)
      val radii = golden.keys.toSeq.sorted.map { l =>
        val (r, _) = Geometry.mrFFT(pts, k = 200, l = l)
        assert(r == golden(l), s"L=$l radius $r != pinned golden ${golden(l)}")
        r
      }
      assert(radii.max / radii.min < 1.01, s"cross-L radius spread too wide: $radii")
      // recall anchor at the L=16 radius (the published config): exactly
      // the 100 planted outliers are sure, nothing uncertain
      val cls = Geometry.approxOutliers(pts, d = golden(16), m = 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cls.getOrElse("sure", 0L) == 100L, s"recall: $cls")
      assert(cls.getOrElse("uncertain", 0L) == 0L, s"false uncertain: $cls")
    } finally pts.unpersist()
  }

  test("mrFFT deterministic path is stable across runs and L") {
    val pts = testN15
    val (r1, c1) = Geometry.mrFFT(pts, k = 4, l = 2)
    val (r2, c2) = Geometry.mrFFT(pts, k = 4, l = 2)
    assert(r1 == r2 && c1.toSeq == c2.toSeq)
    // radius from MRFFT upper-bounds the k-center optimum and is a valid
    // clustering radius: every point within radius of some center
    val maxMin = pts.collect().map { r =>
      val (x, y) = (r.getDouble(1), r.getDouble(2))
      c1.map { case (cx, cy) => math.hypot(x - cx, y - cy) }.min
    }.max
    assert(math.abs(maxMin - r1) < 1e-9)
  }
}
