package graft.streaming

import graft.functions.BitMix

/** Driver-held stream sketches with the reference's exact semantics
  * (`G016HW3.java:67-134`): an exact cumulative histogram, reservoir
  * sampling with m = ⌈1/phi⌉, and sticky sampling with
  * r = ln(1/(delta·phi))/epsilon. Sequential by definition — the sketch
  * state depends on arrival order — so these live on the driver inside
  * foreachBatch, exactly like the reference's foreachRDD closures. The
  * order-relaxed distributed variants are in [[DistributedSketches]].
  *
  * All state is primitive: the histogram and the sticky table share one
  * open-addressing long→long map, the reservoir is a `long[m]`, so a fold
  * of a micro-batch allocates nothing per item.
  *
  * RNG is injected (seeded) so tests are deterministic where the reference
  * used `Math.random()`.
  */
object Sketches {

  /** Item → count, linear probing over power-of-two primitive arrays kept
    * at most half full. Key 0 lives outside the table, as 0 marks a free
    * slot. */
  final class LongLongMap {
    private var keys = new Array[Long](16)
    private var vals = new Array[Long](16)
    private var used = 0
    private var hasZero = false
    private var zeroVal = 0L

    def size: Int = used + (if (hasZero) 1 else 0)

    /** Slot of `k` (nonzero), or the free slot where it would go. */
    private def slot(k: Long): Int = {
      val mask = keys.length - 1
      var i = BitMix.splitmix64(k).toInt & mask
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
      i
    }

    def getOrElse(k: Long, default: Long): Long =
      if (k == 0L) { if (hasZero) zeroVal else default }
      else { val i = slot(k); if (keys(i) == k) vals(i) else default }

    /** Adds `c` to the count of `k`, inserting it if absent. */
    def add(k: Long, c: Long): Unit =
      if (k == 0L) { zeroVal += c; hasZero = true }
      else {
        val i = slot(k)
        if (keys(i) == k) vals(i) += c
        else { keys(i) = k; vals(i) = c; used += 1; if (2 * used > keys.length) grow() }
      }

    /** Adds `c` to the count of `k` if it is present; reports whether it was. */
    def addIfPresent(k: Long, c: Long): Boolean =
      if (k == 0L) { if (hasZero) zeroVal += c; hasZero }
      else {
        val i = slot(k)
        if (keys(i) == k) { vals(i) += c; true } else false
      }

    /** Keys whose count is at least `threshold`, ascending. */
    def keysAtLeast(threshold: Double): Seq[Long] = {
      val b = Array.newBuilder[Long]
      if (hasZero && zeroVal >= threshold) b += 0L
      var i = 0
      while (i < keys.length) {
        if (keys(i) != 0L && vals(i) >= threshold) b += keys(i)
        i += 1
      }
      val out = b.result()
      java.util.Arrays.sort(out)
      out.toSeq
    }

    private def grow(): Unit = {
      val (ks, vs) = (keys, vals)
      keys = new Array[Long](ks.length * 2)
      vals = new Array[Long](ks.length * 2)
      var j = 0
      while (j < ks.length) {
        if (ks(j) != 0L) { val i = slot(ks(j)); keys(i) = ks(j); vals(i) = vs(j) }
        j += 1
      }
    }
  }

  /** Exact frequent items: full histogram, report count >= ⌈phi·n⌉. */
  final class ExactHistogram {
    val counts = new LongLongMap
    def add(item: Long, c: Long = 1L): Unit = counts.add(item, c)
    def frequent(phi: Double, n: Long): Seq[Long] =
      counts.keysAtLeast(math.ceil(phi * n))
  }

  /** Reservoir sampling of size m: first m items fill the reservoir; item
    * t (0-based count so far = t) replaces a uniform slot w.p. m/(t+1). */
  final class Reservoir(val m: Int, rng: scala.util.Random) {
    private val slots = new Array[Long](m)
    private var t: Long = 0L
    def add(item: Long): Unit = {
      if (t < m) slots(t.toInt) = item
      else {
        val p = m.toDouble / (t + 1).toDouble
        if (rng.nextDouble() < p) slots(rng.nextInt(m)) = item
      }
      t += 1
    }
    def sample: Seq[Long] = slots.take(math.min(t, m.toLong).toInt).toSeq
    /** Estimated frequent items = distinct sampled values. */
    def estimate: Seq[Long] = sample.distinct.sorted
  }

  /** Sticky sampling: tracked items always increment; untracked admitted
    * w.p. r/n; report items with count >= (phi − epsilon)·n. */
  final class StickySampling(phi: Double, epsilon: Double, delta: Double,
                             n: Long, rng: scala.util.Random) {
    val r: Double = math.log(1.0 / (delta * phi)) / epsilon
    val table = new LongLongMap
    def add(item: Long): Unit =
      if (!table.addIfPresent(item, 1L) && rng.nextDouble() < r / n.toDouble) table.add(item, 1L)
    def estimate: Seq[Long] = table.keysAtLeast((phi - epsilon) * n.toDouble)
  }
}
