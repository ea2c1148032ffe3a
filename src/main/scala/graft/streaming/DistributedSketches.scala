package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.functions.BitMix

/** Order-relaxed distributed variants of the stream sketches, as typed
  * `Aggregator`s (SURVEY §2.8): at 100 TB the driver-sequential semantics
  * of the reference cannot hold, so these trade exact arrival-order
  * parity for mergeability — the standard distributed reservoir (per-item
  * uniform keys, top-m selection) and a mergeable counting sketch.
  * Property-tested, not byte-parity-tested (the distributions match; the
  * draws differ).
  */
object DistributedSketches {

  /** Distributed uniform reservoir of size m: assign each item a uniform
    * pseudo-random key (seeded hash of value and position) and keep the m
    * smallest keys — associative, commutative, mergeable. */
  final case class ReservoirBuf(var keys: Array[Long], var items: Array[Long])

  final class DistributedReservoir(m: Int, seed: Long)
      extends Aggregator[(Long, Long), ReservoirBuf, Array[Long]] {
    // (position, item) in; key = splitmix64(position ^ seed)
    def zero: ReservoirBuf = ReservoirBuf(Array.empty, Array.empty)
    def reduce(b: ReservoirBuf, a: (Long, Long)): ReservoirBuf =
      mergePairs(b, Array(BitMix.splitmix64(a._1 ^ seed)), Array(a._2))
    def merge(b1: ReservoirBuf, b2: ReservoirBuf): ReservoirBuf =
      mergePairs(b1, b2.keys, b2.items)
    private def mergePairs(b: ReservoirBuf, ks: Array[Long], vs: Array[Long]): ReservoirBuf = {
      val allK = b.keys ++ ks
      val allV = b.items ++ vs
      val idx = allK.indices.sortBy(allK(_)).take(m).toArray
      ReservoirBuf(idx.map(allK(_)), idx.map(allV(_)))
    }
    def finish(b: ReservoirBuf): Array[Long] = {
      val idx = b.keys.indices.sortBy(b.keys(_)).toArray
      idx.map(b.items(_))
    }
    def bufferEncoder: Encoder[ReservoirBuf] = Encoders.product[ReservoirBuf]
    def outputEncoder: Encoder[Array[Long]] = Encoders.javaSerialization[Array[Long]]
  }

  /** Mergeable space-saving-style counter (Misra-Gries with k counters):
    * deterministic, order-relaxed; guarantees true items with frequency
    * > n/k survive — the distributed stand-in for sticky sampling. */
  final case class MGBuf(var items: Array[Long], var counts: Array[Long])

  final class MisraGries(k: Int)
      extends Aggregator[Long, MGBuf, Map[Long, Long]] {
    def zero: MGBuf = MGBuf(Array.empty, Array.empty)
    def reduce(b: MGBuf, item: Long): MGBuf = addCount(b, item, 1L)
    def merge(b1: MGBuf, b2: MGBuf): MGBuf = {
      var b = b1
      var i = 0
      while (i < b2.items.length) { b = addCount(b, b2.items(i), b2.counts(i)); i += 1 }
      b
    }
    private def addCount(b: MGBuf, item: Long, c: Long): MGBuf = {
      val pos = b.items.indexOf(item)
      if (pos >= 0) { b.counts(pos) += c; b }
      else if (b.items.length < k) MGBuf(b.items :+ item, b.counts :+ c)
      else {
        // decrement-all by the min of (c, current min) — standard MG merge
        val dec = math.min(c, b.counts.min)
        val keep = b.counts.indices.filter(i => b.counts(i) - dec > 0)
        val items = keep.map(b.items(_)).toArray
        val counts = keep.map(i => b.counts(i) - dec).toArray
        if (c - dec > 0) MGBuf(items :+ item, counts :+ (c - dec)) else MGBuf(items, counts)
      }
    }
    def finish(b: MGBuf): Map[Long, Long] =
      b.items.zip(b.counts).toMap
    def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
    def outputEncoder: Encoder[Map[Long, Long]] = Encoders.kryo[Map[Long, Long]]
  }

  /** Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 55(1),
    * 2005): a d×w counter matrix, mergeable by CELL-WISE ADDITION — which
    * makes the merged sketch bit-identical to the sequentially-built one
    * regardless of how the stream was partitioned (unlike the reservoir,
    * there is no order relaxation to document). The distributed
    * complement to [[MisraGries]]: MG keeps WHO is frequent, count-min
    * answers ANY point query with a one-sided guarantee — estimates only
    * ever OVERCOUNT, by at most ~2n/w with probability 1−(1/2)^d. Row
    * hashes are splitmix64 with per-row seeds (pairwise-independent
    * enough in practice; the classical analysis needs only 2-universal).
    */
  final case class CMBuf(var cells: Array[Long], var n: Long)

  final class CountMin(d: Int, w: Int, seed: Long)
      extends Aggregator[Long, CMBuf, CMBuf] {
    require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 buckets, got d=$d w=$w")
    def zero: CMBuf = CMBuf(new Array[Long](d * w), 0L)
    def reduce(b: CMBuf, item: Long): CMBuf = {
      var r = 0
      while (r < d) { b.cells(r * w + CountMin.bucket(r, w, seed, item)) += 1L; r += 1 }
      b.n += 1L
      b
    }
    def merge(b1: CMBuf, b2: CMBuf): CMBuf = {
      var i = 0
      while (i < b1.cells.length) { b1.cells(i) += b2.cells(i); i += 1 }
      b1.n += b2.n
      b1
    }
    def finish(b: CMBuf): CMBuf = b
    def bufferEncoder: Encoder[CMBuf] = Encoders.product[CMBuf]
    def outputEncoder: Encoder[CMBuf] = Encoders.product[CMBuf]
  }

  object CountMin {
    private[streaming] def bucket(row: Int, w: Int, seed: Long, item: Long): Int =
      java.lang.Long.remainderUnsigned(
        BitMix.splitmix64(item ^ (seed + 0x5851f42d4c957f2dL * (row + 1))), w.toLong).toInt

    /** Point query: min over the d row counters — never undercounts. */
    def estimate(sk: CMBuf, d: Int, w: Int, seed: Long, item: Long): Long = {
      var best = Long.MaxValue
      var r = 0
      while (r < d) {
        val c = sk.cells(r * w + bucket(r, w, seed, item))
        if (c < best) best = c
        r += 1
      }
      best
    }
  }
}
