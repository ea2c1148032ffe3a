package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-statistic kernels.
  *
  * Same engine rationale as [[DotProduct]]/[[Int8RowStat]]: the
  * declarative higher-order-function formulations of these row-local
  * statistics are semantically right but execute as CodegenFallback —
  * one interpreted `Expression.eval` tree walk per array element per
  * row, whose cost additionally degrades ~7× under megamorphic dispatch
  * once a long-lived JVM has executed many distinct plans (the measured
  * quantize_1m failure mode, BENCH_BIG_r14). Each expression here runs
  * ONE compiled-kernel call per row from inside WholeStageCodegen
  * (`doGenCode` emits a static call into [[TextKernels]] — Scala objects
  * compile with static forwarders, so generated Java reaches them
  * directly), so per-row cost is a monomorphic primitive loop no matter
  * what else the session has run.
  *
  * Every kernel replicates its HOF predecessor's exact IEEE/integer
  * sequence — parity is asserted element-for-element against the literal
  * HOF chains in FunctionsSpec, and the gate hashes (q154, q130, q172,
  * q138) are unchanged at every SF tier. */
object TextKernels {

  /** Character-distribution Shannon entropy of a string — the compiled
    * twin of the q154 HOF chain (sorted char array → run lengths →
    * Σ round₉(p·ln p) in sorted-char order → round₆ of the negation).
    * Code points sorted ascending ARE `array_sort` order on
    * single-character strings (UTF-8 byte order preserves code-point
    * order), so the fold visits the identical −p·ln p terms in the
    * identical order and the round-9/round-6 stream is unchanged.
    * Returns (n_distinct, entropy); the empty string is (0, 0.0) on
    * both engines. */
  def entropy(s: UTF8String): InternalRow = {
    val str = s.toString
    val cps = str.codePoints().toArray
    if (cps.length == 0) return new GenericInternalRow(Array[Any](0L, 0.0))
    java.util.Arrays.sort(cps)
    val len = cps.length.toDouble
    var distinct = 0L
    var sum = 0.0
    var i = 0
    while (i < cps.length) {
      var j = i + 1
      while (j < cps.length && cps(j) == cps(i)) j += 1
      val p = (j - i).toDouble / len
      sum += EngineMath.round(p * math.log(p), 9)
      distinct += 1L
      i = j
    }
    new GenericInternalRow(Array[Any](distinct, EngineMath.round(-sum, 6)))
  }

  /** 31-ary code-point polynomial hash mod `mod`, reducing at EVERY
    * step — the q130/q172 bucket hash:
    * `aggregate(transform(sequence(1, length(w)), j -> ascii(substring(w,
    * j, 1))), 0L, (acc, c) -> (acc * 31 + c) % mod)`. `ascii` of a
    * single-character substring is its code point, so the fold below is
    * the identical integer sequence; the empty string is 0 on both
    * engines (the HOF's descending sequence(1,0) folds two ascii('')=0
    * terms — still 0). */
  def hash31(s: UTF8String, mod: Long): Long =
    hash31Cont(0L, s, mod)

  /** Continue a hash31 fold from a running accumulator — lets the bigram
    * feature hash below fold `concat(a, ' ', b)` without building the
    * concatenated string. */
  private def hash31Cont(acc0: Long, s: UTF8String, mod: Long): Long = {
    val str = s.toString
    var acc = acc0
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** The q130 DSIR feature space in one pass: hash31 of every token,
    * then hash31 of every adjacent-bigram string `w(i-1) + ' ' + w(i)`
    * (folded through the same accumulator — no concat allocation),
    * exactly the multiset the HOF `concat(transform(t, …),
    * transform(sequence(2, size(t)), …))` explodes. A null token hashes
    * to null, as the HOF's null-propagating fold does. */
  def feats31(t: ArrayData, mod: Long): ArrayData = {
    val n = t.numElements()
    val out = new Array[Any](if (n >= 2) 2 * n - 1 else n)
    var i = 0
    while (i < n) {
      out(i) = if (t.isNullAt(i)) null else hash31(t.getUTF8String(i), mod)
      i += 1
    }
    i = 1
    while (i < n) {
      out(n + i - 1) =
        if (t.isNullAt(i - 1) || t.isNullAt(i)) null
        else hash31Cont(
          (hash31(t.getUTF8String(i - 1), mod) * 31L + 32L) % mod,
          t.getUTF8String(i), mod)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Per-row BLEU clip statistics: for n = 1..maxN, (n, m, tot) where
    * tot = max(0, |c| − n + 1) is the candidate n-gram count and
    * m = Σ_g min(cnt_c(g), cnt_r(g)) is the clipped match count — the
    * Papineni et al. modified precision numerator, which is ROW-LOCAL
    * (candidate and reference share the row), so no gram ever needs to
    * leave the scan. Gram identity is exact UTF8String equality of the
    * space-joined tokens — the same strings the declarative
    * (doc, n, gram) clip join keyed on, so corpus sums are unchanged. */
  def bleuStats(c: ArrayData, r: ArrayData, maxN: Int): ArrayData = {
    val nc = c.numElements()
    val nr = r.numElements()
    val cToks = new Array[UTF8String](nc)
    var i = 0
    while (i < nc) {
      cToks(i) = if (c.isNullAt(i)) null else c.getUTF8String(i); i += 1
    }
    val rToks = new Array[UTF8String](nr)
    i = 0
    while (i < nr) {
      rToks(i) = if (r.isNullAt(i)) null else r.getUTF8String(i); i += 1
    }
    def gram(toks: Array[UTF8String], from: Int, k: Int): UTF8String =
      UTF8String.concatWs(Space,
        java.util.Arrays.copyOfRange(toks, from, from + k).toIndexedSeq: _*)
    val out = new Array[Any](maxN)
    var k = 1
    while (k <= maxN) {
      val tot = math.max(0, nc - k + 1)
      var m = 0L
      if (tot > 0 && nr - k + 1 > 0) {
        val ref = new java.util.HashMap[UTF8String, Int]()
        i = 0
        while (i + k <= nr) {
          ref.merge(gram(rToks, i, k), 1, (a, b) => a + b); i += 1
        }
        val cand = new java.util.HashMap[UTF8String, Int]()
        i = 0
        while (i + k <= nc) {
          cand.merge(gram(cToks, i, k), 1, (a, b) => a + b); i += 1
        }
        val it = cand.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val rc = ref.getOrDefault(e.getKey, 0)
          m += math.min(e.getValue, rc).toLong
        }
      }
      out(k - 1) = new GenericInternalRow(Array[Any](k, m, tot.toLong))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** All n-gram (n, gram) structs for n = 1..maxN of a token array in
    * ONE pass — the q138 BLEU gram emission. Gram strings are
    * space-joined exactly as `array_join(slice(t, i, n), ' ')`; orders
    * longer than the array emit nothing (the HOF's `size(t) >= n`
    * filter). One corpus scan replaces the explode(1..4)-then-explode
    * fan-out that copied every (doc, tokens) row four times. */
  def ngramStructs(t: ArrayData, maxN: Int): ArrayData = {
    val n = t.numElements()
    var total = 0
    var k = 1
    while (k <= maxN) { total += math.max(0, n - k + 1); k += 1 }
    val out = new Array[Any](total)
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (t.isNullAt(i)) null else t.getUTF8String(i)
      i += 1
    }
    var idx = 0
    k = 1
    while (k <= maxN) {
      i = 0
      while (i + k <= n) {
        // concatWs skips nulls like array_join does, so a (never-produced
        // by split) null token degrades identically on both forms
        val g = UTF8String.concatWs(Space,
          java.util.Arrays.copyOfRange(toks, i, i + k).toIndexedSeq: _*)
        out(idx) = new GenericInternalRow(Array[Any](k, g))
        idx += 1
        i += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Greedy maximal-munch walk for [[GreedyMunch]]: from each position,
    * emit the longest vocab piece (ties impossible — one candidate per
    * length), falling back to the single character (always a vocab member
    * by the caller's construction — every char of every corpus word is in
    * the length-1 vocabulary). Code-point indexing throughout, matching
    * SQL substring()/length(). The empty word segments to an empty
    * array, like the join ladder's never-entered loop. */
  def munch(w: UTF8String, vocab: java.util.HashSet[UTF8String],
            maxPieceLen: Int): ArrayData = {
    val n = w.numChars()
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.max(1, n))
    var pos = 0
    while (pos < n) {
      var piece: UTF8String = null
      var l = math.min(maxPieceLen, n - pos)
      while (piece == null && l >= 2) {
        val cand = w.substring(pos, pos + l)
        if (vocab.contains(cand)) piece = cand
        l -= 1
      }
      var step = 1
      if (piece == null) piece = w.substring(pos, pos + 1)
      else step = piece.numChars()
      out += piece
      pos += step
    }
    new GenericArrayData(out.toArray)
  }

  /** Schema of [[gopherRep]]'s result — the q135 battery's per-document
    * integer statistics, one struct per row. */
  val gopherRepType: StructType = StructType(
    (Seq("n_lines", "n_dup_lines", "dup_line_chars", "line_chars",
      "tot_chars", "top2_chars", "top3_chars", "top4_chars") ++
      (5 to 10).map(n => s"dup${n}_chars"))
      .map(StructField(_, LongType, nullable = false)))

  /** q135's whole per-document Gopher repetition battery as ONE compiled
    * pass (round 19) — replaces nine interpreted array_sort + aggregate
    * HOF folds per row, the top steady non-profile cost of the sweep.
    * Bit-identity with the SQL formulation (and the DuckDB oracle):
    *  - lines = split(text, '\n', -1), tokens = split(text, '\\s+', -1)
    *    with empties filtered — the same Java regex semantics Spark's
    *    split runs;
    *  - every char count is CODE POINTS (SQL length());
    *  - the top-n winner is max count with ties to the UTF8-binary-
    *    smallest n-gram (the SQL ascending binary sort + strictly-greater
    *    fold kept the first of a tie);
    *  - dup-n covered chars are the UNION of [s, s+n-1] over ascending
    *    duplicate starts — the SQL one-pass interval merge, walked with a
    *    covered-through pointer so overlap never double-counts. */
  def gopherRep(text: UTF8String): InternalRow = {
    val s = text.toString
    def cp(x: String): Long = x.codePointCount(0, x.length).toLong
    val lines = s.split("\n", -1)
    var lineChars = 0L
    val lineCnt = new java.util.HashMap[String, Array[Long]]()
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      lineChars += cp(l)
      val e = lineCnt.get(l)
      if (e == null) lineCnt.put(l, Array(1L)) else e(0) += 1L
      i += 1
    }
    var dupLineChars = 0L
    val lit = lineCnt.entrySet().iterator()
    while (lit.hasNext) {
      val e = lit.next()
      if (e.getValue()(0) > 1L)
        dupLineChars += (e.getValue()(0) - 1L) * cp(e.getKey)
    }
    val nLines = lines.length.toLong
    val nDupLines = nLines - lineCnt.size.toLong
    val raw = s.split("\\s+", -1)
    var nTok = 0
    i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) nTok += 1; i += 1 }
    val tk = new Array[String](nTok)
    val tkLen = new Array[Long](nTok)
    var totChars = 0L
    var j = 0
    i = 0
    while (i < raw.length) {
      if (!raw(i).isEmpty) {
        tk(j) = raw(i); tkLen(j) = cp(raw(i)); totChars += tkLen(j); j += 1
      }
      i += 1
    }
    def gram(start: Int, n: Int): String = {
      val sb = new java.lang.StringBuilder()
      var p = start
      while (p < start + n) {
        if (p > start) sb.append(' ')
        sb.append(tk(p))
        p += 1
      }
      sb.toString
    }
    // binary (UTF-8 byte) order — what SQL array_sort applies to strings;
    // consulted only on count ties, so the per-tie allocation is cold
    def utf8Less(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    def topChars(n: Int): Long = {
      val m = nTok - n + 1
      if (m < 1) return 0L
      val cnt = new java.util.HashMap[String, Array[Long]](m * 2)
      var p = 0
      while (p < m) {
        val g = gram(p, n)
        val e = cnt.get(g)
        if (e == null) cnt.put(g, Array(1L)) else e(0) += 1L
        p += 1
      }
      var bestCnt = 0L
      var bestNg: String = null
      val it = cnt.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c > bestCnt || (c == bestCnt && utf8Less(e.getKey, bestNg))) {
          bestCnt = c; bestNg = e.getKey
        }
      }
      // length(join) - (n-1) = token chars only: the n-1 single-space
      // separators subtract straight off the joined string's length
      bestCnt * (cp(bestNg) - (n - 1).toLong)
    }
    def dupChars(n: Int): Long = {
      val m = nTok - n + 1
      if (m < 1) return 0L
      val grams = new Array[String](m)
      val cnt = new java.util.HashMap[String, Array[Long]](m * 2)
      var p = 0
      while (p < m) {
        val g = gram(p, n)
        grams(p) = g
        val e = cnt.get(g)
        if (e == null) cnt.put(g, Array(1L)) else e(0) += 1L
        p += 1
      }
      var covered = 0L
      var prevEnd = -1
      p = 0
      while (p < m) {
        if (cnt.get(grams(p))(0) > 1L) {
          val e0 = p + n - 1
          var q = math.max(p, prevEnd + 1)
          while (q <= e0) { covered += tkLen(q); q += 1 }
          prevEnd = e0
        }
        p += 1
      }
      covered
    }
    new GenericInternalRow(Array[Any](
      nLines, nDupLines, dupLineChars, lineChars, totChars,
      topChars(2), topChars(3), topChars(4),
      dupChars(5), dupChars(6), dupChars(7), dupChars(8),
      dupChars(9), dupChars(10)))
  }
}

/** `graft_entropy(text)` → struct<n_distinct: bigint, entropy: double> —
  * the q154 per-row statistic as one compiled kernel call inside
  * WholeStageCodegen (see [[TextKernels.entropy]]). */
case class CharEntropyStat(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_entropy expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_distinct", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))

  override def nullSafeEval(a: Any): Any =
    TextKernels.entropy(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.entropy($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_entropy"
}

/** `graft_hash31(s, mod)` → bigint — the cross-engine-exact 31-ary
  * code-point polynomial bucket hash (see [[TextKernels.hash31]]).
  * `mod` is a literal pinned at plan time, like graft_int8's mode. */
case class Hash31(child: Expression, mod: Long) extends UnaryExpression {

  require(mod >= 2 && mod <= (1L << 20),
    s"graft_hash31 mod must be in [2, 2^20], got $mod")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hash31 expects a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(a: Any): Any =
    TextKernels.hash31(a.asInstanceOf[UTF8String], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.hash31($a, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_hash31"
}

/** `graft_feats31(t, mod)` → array<bigint> — the q130 DSIR unigram+bigram
  * hashed feature multiset in one compiled pass (see
  * [[TextKernels.feats31]]). */
case class Feats31(child: Expression, mod: Long) extends UnaryExpression {

  require(mod >= 2 && mod <= (1L << 20),
    s"graft_feats31 mod must be in [2, 2^20], got $mod")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_feats31 expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    TextKernels.feats31(a.asInstanceOf[ArrayData], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.feats31($a, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_feats31"
}

/** `graft_bleu(c, r, maxN)` → array<struct<n: int, m: bigint, tot:
  * bigint>> — the per-row BLEU clipped-match statistics (see
  * [[TextKernels.bleuStats]]): the clip is row-local, so the q138 corpus
  * rollup shuffles maxN rows per document instead of every gram. */
case class BleuClipStats(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression {

  require(maxN >= 1 && maxN <= 8, s"graft_bleu maxN must be in [1,8], got $maxN")

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("m", LongType, nullable = false),
    StructField("tot", LongType, nullable = false))), containsNull = false)

  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bleu expects array<string> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.bleuStats(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextKernels.bleuStats($a, $b, $maxN);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_bleu"
}

/** `graft_ngrams(t, maxN)` → array<struct<n: int, g: string>> — every
  * 1..maxN-gram of a token array in one compiled pass (see
  * [[TextKernels.ngramStructs]]). */
case class NGramStructs(child: Expression, maxN: Int) extends UnaryExpression {

  require(maxN >= 1 && maxN <= 8, s"graft_ngrams maxN must be in [1,8], got $maxN")

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("g", StringType, nullable = true))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    TextKernels.ngramStructs(a.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.ngramStructs($a, $maxN);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_ngrams"
}

/** Greedy maximal-munch segmentation of one word against a fixed piece
  * vocabulary — the q134 WordPiece inference walk as ONE compiled pass.
  *
  * Why an expression (round 18): the loop formulation ran ≤ maxWordLen
  * dataframe steps, each a guarded projection over maxPieceLen broadcast
  * vocab joins plus a localCheckpoint and an isEmpty loop-guard probe —
  * ~2 driver round-trips per step, ~32 jobs per call, which is exactly
  * the many-tiny-job shape this box's scheduler regime punishes (q134 was
  * the top clean-window sweep cost at ~2.7 s). The vocabulary is BOUNDED
  * by construction — length-l pieces need corpus mass ≥ total/thrDiv, so
  * ≤ thrDiv·(avg word len) entries per length, plus the charset — so the
  * whole walk is a per-row pure function of (word, vocab): one projection,
  * zero joins, zero checkpoints, zero loop-guard probes. Same recipe as
  * the q140 Viterbi broadcast-map fold.
  *
  * Bit-identity with the join ladder (and the DuckDB recursive-CTE
  * oracle): at each position try the LONGEST candidate first
  * (coalesce(p_maxLen..p1) order); candidates shorter than l because the
  * word ran out cannot falsely match a length-l vocab entry (string
  * equality implies equal length — the join compared substring(w,pos,l)
  * against length-l keys, same effect); the length-1 vocabulary contains
  * every character of every corpus word by construction, so the
  * single-char fallback always terminates the walk exactly as the p1 join
  * row did. All indices are CODE POINTS (UTF8String.substring/numChars),
  * matching SQL substring()/length() semantics. */
case class GreedyMunch(child: Expression, vocab: Seq[String], maxPieceLen: Int)
    extends UnaryExpression {

  require(maxPieceLen >= 1 && maxPieceLen <= 64,
    s"graft_munch maxPieceLen must be in [1,64], got $maxPieceLen")

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_munch expects a string argument, got ${child.dataType.simpleString}")

  /** Vocabulary as a hash set of UTF8String (what the scan hands eval);
    * rebuilt lazily on each executor after deserialization. */
  @transient private lazy val lookup: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(16, vocab.size * 2))
    vocab.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  override def nullSafeEval(a: Any): Any =
    TextKernels.munch(a.asInstanceOf[UTF8String], lookup, maxPieceLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("munchVocab", lookup, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.munch($a, $setRef, $maxPieceLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  /** The vocab Seq must not print itself into plan strings, toString, or
    * error messages (round 19, advisor — the default product-based
    * renderings embed the full vocabulary, hundreds of strings, in every
    * explain/UI line this expression appears on): render its size. */
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"vocab(${vocab.size})", maxPieceLen)
  override protected def flatArguments: Iterator[Any] =
    Iterator(child, s"vocab(${vocab.size})", maxPieceLen)

  override def prettyName: String = "graft_munch"
}

/** `graft_gopher_rep(text)` → struct of the q135 Gopher repetition
  * battery's 14 per-document integer statistics, one compiled kernel call
  * inside WholeStageCodegen (see [[TextKernels.gopherRep]] for the
  * bit-identity contract with the HOF/oracle formulation). */
case class GopherRepStats(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = TextKernels.gopherRepType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_gopher_rep expects a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(a: Any): Any =
    TextKernels.gopherRep(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextKernels.gopherRep($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_gopher_rep"
}
