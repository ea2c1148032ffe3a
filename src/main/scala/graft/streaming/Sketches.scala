package graft.streaming

import graft.functions.BitMix

/** Driver-held stream sketches with the reference's exact semantics
  * (`G016HW3.java:67-134`): an exact cumulative histogram, reservoir
  * sampling with m = ⌈1/phi⌉, and sticky sampling with
  * r = ln(1/(delta·phi))/epsilon. Sequential by definition — the sketch
  * state depends on arrival order — so they live on the driver, in the
  * sink that [[FrequentItemsJob]] starts its query into, exactly like the
  * reference's foreachRDD closures. The order-relaxed distributed variants
  * are in [[DistributedSketches]].
  *
  * All state is primitive: the histogram and the sticky table are
  * open-addressing long→long maps, the reservoir is a `long[m]`, so a fold
  * of a micro-batch allocates nothing per item.
  *
  * RNG is seeded so tests are deterministic where the reference used
  * `Math.random()`.
  */
object Sketches {

  /** Item → count, linear probing over power-of-two primitive arrays kept
    * at most half full. Key 0 lives outside the table, as 0 marks a free
    * slot. The updates take the key's `splitmix64` hash `h` from the
    * caller, so one hash serves every map an item goes into. */
  final class LongLongMap {
    private var keys = new Array[Long](16)
    private var vals = new Array[Long](16)
    private var used = 0
    private var hasZero = false
    private var zeroVal = 0L

    def size: Int = used + (if (hasZero) 1 else 0)

    /** Slot of `k` (nonzero, hash `h`), or the free slot where it would go. */
    private def slot(k: Long, h: Long): Int = {
      val mask = keys.length - 1
      var i = h.toInt & mask
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
      i
    }

    def getOrElse(k: Long, default: Long): Long =
      if (k == 0L) { if (hasZero) zeroVal else default }
      else { val i = slot(k, BitMix.splitmix64(k)); if (keys(i) == k) vals(i) else default }

    /** Adds `c` to the count of `k`, inserting it if absent. */
    def add(k: Long, h: Long, c: Long): Unit =
      if (k == 0L) { zeroVal += c; hasZero = true }
      else {
        val i = slot(k, h)
        if (keys(i) == k) vals(i) += c
        else { keys(i) = k; vals(i) = c; used += 1; if (2 * used > keys.length) grow() }
      }

    /** Adds `c` to the count of `k` if it is present; reports whether it was. */
    def addIfPresent(k: Long, h: Long, c: Long): Boolean =
      if (k == 0L) { if (hasZero) zeroVal += c; hasZero }
      else {
        val i = slot(k, h)
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
        if (ks(j) != 0L) { val i = slot(ks(j), BitMix.splitmix64(ks(j))); keys(i) = ks(j); vals(i) = vs(j) }
        j += 1
      }
    }
  }

  /** `java.util.Random`'s 48-bit LCG, draw for draw: the same seed
    * scramble, `nextDouble` and `nextInt(bound)` (bound > 0), on a plain
    * field instead of an `AtomicLong`, as one thread owns it. */
  final class Lcg(seed: Long) {
    private final val Multiplier = 0x5DEECE66DL
    private final val Mask = 0xFFFFFFFFFFFFL
    private final val DoubleUnit = 1.1102230246251565e-16 // 2^-53
    private var s = (seed ^ Multiplier) & Mask

    private def next(bits: Int): Int = {
      s = (s * Multiplier + 0xBL) & Mask
      (s >>> (48 - bits)).toInt
    }

    def nextDouble(): Double = ((next(26).toLong << 27) + next(27)) * DoubleUnit

    def nextInt(bound: Int): Int = {
      var r = next(31)
      val m = bound - 1
      if ((bound & m) == 0) r = ((bound * r.toLong) >> 31).toInt
      else {
        var u = r
        while ({ r = u % bound; u - r + m < 0 }) u = next(31)
      }
      r
    }
  }

  /** The three sketches of one stream of at most `n` items, advanced by one
    * step per item: one hash for the histogram and the sticky table, then
    * the reservoir draw (`seed`) and the sticky admission (`seed + 1`).
    *  - exact histogram: frequent items have count ≥ ⌈phi·count⌉;
    *  - reservoir of m slots: the first m items fill it, item t (0-based)
    *    replaces a uniform slot w.p. m/(t+1); its estimate is the distinct
    *    sampled values;
    *  - sticky sampling: tracked items always increment, untracked ones are
    *    admitted w.p. r/n; its estimate is the items with count ≥
    *    (phi − epsilon)·n. */
  final class Fold(phi: Double, epsilon: Double, delta: Double, n: Long, seed: Long) {
    val counts = new LongLongMap
    private val m = math.ceil(1.0 / phi).toInt
    private val slots = new Array[Long](m)
    private val reservoirRng = new Lcg(seed)
    private val r = math.log(1.0 / (delta * phi)) / epsilon
    val table = new LongLongMap
    private val stickyRng = new Lcg(seed + 1)
    private var t = 0L

    /** Items folded so far. */
    def count: Long = t

    def add(item: Long): Unit = {
      val h = BitMix.splitmix64(item)
      counts.add(item, h, 1L)
      if (t < m) slots(t.toInt) = item
      else if (reservoirRng.nextDouble() < m.toDouble / (t + 1).toDouble) slots(reservoirRng.nextInt(m)) = item
      if (!table.addIfPresent(item, h, 1L) && stickyRng.nextDouble() < r / n.toDouble) table.add(item, h, 1L)
      t += 1
    }

    def frequent: Seq[Long] = counts.keysAtLeast(math.ceil(phi * t))
    def sample: Seq[Long] = slots.take(math.min(t, m.toLong).toInt).toSeq
    def reservoirEstimate: Seq[Long] = sample.distinct.sorted
    def stickyEstimate: Seq[Long] = table.keysAtLeast((phi - epsilon) * n.toDouble)
  }
}
