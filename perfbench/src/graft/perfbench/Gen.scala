package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Seeded input generators for the benchmark workloads. The engine's own
  * generators (`graft.sources`) take no seed, so the benchmark owns these:
  * every value is a pure function of (seed, index), the same seed gives
  * bit-identical inputs on any machine, and the program under test only
  * ever sees the generated DataFrames.
  */
object Gen {

  // ---------------------------------------------------------------- points

  /** Shape of the artificial1M corpus of the paper's HW1/HW2: 9 uniform
    * discs of radius 1 on a grid with spacing 20, plus 100 planted outliers
    * on a far ring (pairwise gap 2π·300/100 ≈ 19, far above any working D).
    * The seed moves the cluster centres, the points inside each disc and
    * the phase of the ring. The planted outliers are the last 100 ids. */
  val Clusters = 9
  val ClusterRadius = 1.0
  val Spacing = 20.0
  val Ring = 300.0
  val Outliers = 100

  private def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + salt * 0xbf58476d1ce4e5b9L + i)

  /** Coordinates of point `id` out of `n` (ids 0 until n). */
  def point(seed: Long, n: Long, id: Long): (Double, Double) = {
    val side = math.ceil(math.sqrt(Clusters.toDouble)).toInt
    val firstOutlier = n - Outliers
    if (id < firstOutlier) {
      val c = (id % Clusters).toInt
      val jitter = rng(seed, 1, c)
      val cx = (c % side) * Spacing + jitter.nextDouble(-2.0, 2.0)
      val cy = (c / side) * Spacing + jitter.nextDouble(-2.0, 2.0)
      val r = rng(seed, 2, id)
      // r = R·√u keeps the disc density uniform up to its edge
      val rad = ClusterRadius * math.sqrt(r.nextDouble())
      val th = 2.0 * math.Pi * r.nextDouble()
      (cx + rad * StrictMath.cos(th), cy + rad * StrictMath.sin(th))
    } else {
      val k = id - firstOutlier
      val mid = (side - 1) * Spacing / 2.0
      val phase = rng(seed, 3, 0).nextDouble()
      val th = 2.0 * math.Pi * (k + phase) / Outliers
      (mid + Ring * StrictMath.cos(th), mid + Ring * StrictMath.sin(th))
    }
  }

  def outlierIds(n: Long): Set[Long] = (n - Outliers until n).toSet

  /** The point set as a cached (id, x, y) DataFrame, materialized. */
  def points(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    val df = spark.range(0L, n, 1L, partitions)
      .map { id => val (x, y) = point(seed, n, id); (id, x, y) }
      .toDF("id", "x", "y")
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  // ----------------------------------------------------------------- items

  /** HW3 stream: `planted` distinct items sharing `share` of the stream
    * (each comfortably above ⌈φn⌉ when share / planted > φ), the rest a
    * uniform int32 tail, in seeded random order. Planted values sit above
    * the int32 range, so no tail value can add to their counts. Returns
    * (items, planted values sorted). */
  def items(seed: Long, n: Int, planted: Int, share: Double): (Array[Long], Seq[Long]) = {
    val r = rng(seed, 4, 0)
    val each = (share * n / planted).toInt
    val values = (0 until planted).map(i => (1L << 40) + (i.toLong << 24) + r.nextInt(1 << 24))
    val counts = values.map(_ => each - r.nextInt(math.max(1, n / 1000)))
    require(counts.sum < n, s"planted items need ${counts.sum} of $n slots")
    val out = new Array[Long](n)
    var pos = 0
    for ((v, c) <- values.zip(counts); _ <- 0 until c) { out(pos) = v; pos += 1 }
    while (pos < n) { out(pos) = r.nextInt().toLong; pos += 1 }
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    (out, values.sorted)
  }

  // ----------------------------------------------------------- fingerprint

  /** Order-sensitive 64-bit fingerprint of a generated input, as hex. */
  def fingerprint(values: Iterator[Long]): String = {
    var h = 0x84222325cbf29ce4L
    values.foreach { v => h = (h ^ v) * 0x100000001b3L; h ^= h >>> 29 }
    f"$h%016x"
  }

  def pointsFingerprint(seed: Long, n: Long): String =
    fingerprint(Iterator.range(0, n.toInt).flatMap { id =>
      val (x, y) = point(seed, n, id)
      Iterator(java.lang.Double.doubleToLongBits(x), java.lang.Double.doubleToLongBits(y))
    })

  def itemsFingerprint(seed: Long, n: Int, planted: Int, share: Double): String =
    fingerprint(items(seed, n, planted, share)._1.iterator)

  /** `Gen <seed> <n>` prints both fingerprints, for the generator test. */
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong; val n = args(1).toInt
    println(s"points ${pointsFingerprint(seed, n)}")
    println(s"items ${itemsFingerprint(seed, n, 10, 0.95)}")
  }
}
