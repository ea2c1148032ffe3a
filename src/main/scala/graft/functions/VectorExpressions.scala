package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression for the vector hot path.
  *
  * The declarative formulation (`aggregate(zip_with(a, b, (x,y) -> …))`)
  * is semantically right but executes as interpreted higher-order
  * functions: one array allocation per pair per zip_with, no whole-stage
  * codegen. On an all-pairs similarity join that allocation dominates. This
  * expression generates a tight primitive loop (doGenCode), keeping the
  * join inside WholeStageCodegen — same left-to-right double accumulation,
  * so results are bit-identical to the HOF form and the DuckDB oracle.
  *
  * Registered as SQL function `graft_dot` via [[GraftFunctions.register]]
  * (callable from any session) and [[graft.plans.GraftExtensions]] (for
  * `spark.sql.extensions`-configured sessions).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  /** Null semantics match the HOF form `aggregate(zip_with(a, b, (x,y) ->
    * acc + x*y), …)` exactly: mismatched lengths (zip_with pads with null)
    * or any null element yield NULL — never garbage or silent truncation.
    * The expression is therefore nullable even over non-null inputs. */
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** Distinct hashed n-gram shingles of a token array, in one pass.
  *
  * Replaces the declarative chain `array_distinct(transform(sequence(…),
  * i -> concat_ws(' ', element_at…)))` which runs as interpreted
  * higher-order functions and materializes every intermediate array —
  * the dominant cost of the near-dup pipeline. Downstream consumers
  * (Jaccard counts, MinHash signatures) only need set identity, not the
  * shingle text, so emitting 64-bit hashes loses nothing (collision
  * probability ~2^-40 at 10^6 shingles). Each token is hashed once and
  * n-gram hashes are mixed from the token hashes — no string concatenation
  * at all. CodegenFallback: the per-row work is a single tight loop, so
  * codegen would only inline the call.
  */
object ShingleHashes {
  /** ONE definition of the shingle mix for the expression and the
    * JVM-side callers (streaming decontamination) — if the two hashed
    * independently, a rule change in one would silently desynchronize
    * ingest-time flags from the batch operator's. */
  private[functions] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Early-exit membership: does any n-gram shingle of `toks` hash into
    * the SORTED set? Token hashing goes through UTF8String so the values
    * are identical to the expression's (which hashes Spark's internal
    * UTF8 representation). Binary search per shingle: O(t · log m), no
    * per-row allocation beyond the token-hash array. */
  def anyShingleIn(toks: Array[String], n: Int, sorted: Array[Long]): Boolean = {
    val len = toks.length
    if (len < n || sorted.length == 0) return false
    val tokHash = new Array[Long](len)
    var i = 0
    while (i < len) {
      tokHash(i) = mix(
        org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)).hashCode().toLong)
      i += 1
    }
    i = 0
    while (i <= len - n) {
      var h = 0x9e3779b97f4a7c15L
      var j = 0
      while (j < n) { h = mix(h ^ tokHash(i + j)); j += 1 }
      if (java.util.Arrays.binarySearch(sorted, h) >= 0) return true
      i += 1
    }
    false
  }
}

case class ShingleHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val tokHash = new Array[Long](len)
    var i = 0
    while (i < len) {
      tokHash(i) = ShingleHashes.mix(arr.getUTF8String(i).hashCode().toLong)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= len - n) {
      var h = 0x9e3779b97f4a7c15L
      var j = 0
      while (j < n) { h = ShingleHashes.mix(h ^ tokHash(i + j)); j += 1 }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

/** The `nprobe` nearest coarse-quantizer cells of a vector, as ONE compact
  * expression node: returns the argmin cell id (IntegerType) when
  * nprobe == 1, else the ascending-(dist², id) list of the nprobe nearest
  * cell ids (array<int>).
  *
  * Why an expression and not columns: materializing nlist distance columns
  * plus a least()/CASE argmin (or an array_sort of nlist structs) hands the
  * optimizer a tree with the centroid literals duplicated across every
  * consumer — predicate pushdown inlines them into join conditions and
  * constraint propagation then canonicalizes each copy's commutative
  * Add/Multiply chains, which measured as an OOM at nlist = 16, dim = 64.
  * One opaque node keeps the plan tiny AND evaluates the whole argmin in a
  * single primitive loop (no struct allocation, no sort).
  *
  * Numerics match the column formulation exactly: d² = (‖x‖² − 2·x·c) +
  * ‖c‖², every dot left-to-right like graft_dot, ties → lowest cell id —
  * so assignments are bit-for-bit the plans the sorted-struct form picked.
  * CodegenFallback: per-row work is nlist·dim fused multiply-adds, so the
  * one virtual call is noise (same reasoning as ShingleHashes).
  */
case class NearestCells(child: Expression, centroids: Array[Array[Double]], nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(nprobe >= 1 && nprobe <= centroids.length)

  override def nullIntolerant: Boolean = true

  override def dataType: DataType =
    if (nprobe == 1) IntegerType else ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cells expects array<float|double>, got ${other.simpleString}")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // ‖c‖² exactly as the literal-expression form computed it (driver-side sum)
  private lazy val cnorms: Array[Double] = centroids.map(_.map(v => v * v).sum)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val xs = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      xs(i) = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
    var xnorm = 0.0
    i = 0
    while (i < dim) { xnorm += xs(i) * xs(i); i += 1 }
    val k = centroids.length
    val d2 = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = centroids(c)
      // dimension drift would silently mix a truncated cross-term with
      // full-length norms — wrong-but-plausible assignments; fail loudly
      // instead (same no-silent-truncation rule as graft_dot)
      if (cv.length != dim) throw new IllegalArgumentException(
        s"graft_nearest_cells: vector dim $dim != centroid dim ${cv.length}")
      var dot = 0.0
      i = 0
      while (i < dim) { dot += xs(i) * cv(i); i += 1 }
      d2(c) = (xnorm - 2.0 * dot) + cnorms(c)
      c += 1
    }
    if (nprobe == 1) {
      var best = 0
      c = 1
      while (c < k) { if (d2(c) < d2(best)) best = c; c += 1 }
      best
    } else {
      // partial selection sort by (d2, id): k ≤ a few hundred by contract
      val ids = Array.tabulate(k)(identity)
      var s = 0
      while (s < nprobe) {
        var m = s
        var j = s + 1
        while (j < k) {
          if (d2(ids(j)) < d2(ids(m)) ||
              (d2(ids(j)) == d2(ids(m)) && ids(j) < ids(m))) m = j
          j += 1
        }
        val t = ids(s); ids(s) = ids(m); ids(m) = t
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        java.util.Arrays.copyOfRange(ids, 0, nprobe))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_nearest_cells"
}

/** Longest-common-subsequence LENGTH of two token arrays — the ROUGE-L
  * kernel (q173), as one tight O(|c|·|r|) rolling-row DP.
  *
  * Why an expression: the declarative prefix-max formulation (each DP row
  * one `transform` over the previous) is oracle-mirrorable but emulates
  * the row update with an inner `aggregate(sequence(1, j), …)`, making
  * each row O(|r|²) and the whole LCS O(|c|·|r|²) per pair in interpreted
  * HOF evaluation — measured as the #2 cost of the round-13 gate sweep.
  * The classic two-row DP here is the textbook recurrence (dp[i][j] =
  * diag+1 on match else max(up, left)); both compute THE LCS length, an
  * exact integer, so the result is bit-identical to the HOF form and the
  * DuckDB recursive-CTE oracle, at O(|c|·|r|) with zero allocation beyond
  * one int row. Null semantics match the HOF chain: null arrays → NULL,
  * null ELEMENTS simply never match (the CASE's null comparison was
  * false-y). CodegenFallback: per-row work is the DP loop itself, so the
  * one virtual call is noise (same reasoning as ShingleHashes).
  */
case class LcsLength(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_lcs expects array<string> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val c = a.asInstanceOf[ArrayData]
    val r = b.asInstanceOf[ArrayData]
    val nc = c.numElements()
    val nr = r.numElements()
    if (nc == 0 || nr == 0) return 0L
    // materialize r once; c tokens are read once per outer step
    val rt = new Array[org.apache.spark.unsafe.types.UTF8String](nr)
    var j = 0
    while (j < nr) {
      rt(j) = if (r.isNullAt(j)) null else r.getUTF8String(j)
      j += 1
    }
    val row = new Array[Int](nr + 1)
    var i = 0
    while (i < nc) {
      val ci = if (c.isNullAt(i)) null else c.getUTF8String(i)
      var diag = row(0)
      j = 1
      while (j <= nr) {
        val tmp = row(j)
        if (ci != null && ci.equals(rt(j - 1))) {
          row(j) = diag + 1
        } else if (row(j - 1) > row(j)) {
          row(j) = row(j - 1)
        }
        diag = tmp
        j += 1
      }
      i += 1
    }
    row(nr).toLong
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_lcs"
}

/** Morton (Z-order) interleave of two signed 32-bit cell coordinates into
  * one long sort key. Sorting/range-partitioning geometric or 2-key data by
  * this key before writing clusters spatial neighbors into the same files
  * and row groups, so min/max statistics prune 2-D range predicates — the
  * layout lever for 100 TB geo/grid datasets (one sort at write time buys
  * every subsequent query's pruning). Sign bit is flipped so negative
  * coordinates order correctly. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  private def okType(e: Expression): Boolean =
    e.dataType == IntegerType || e.dataType == LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zorder expects int/long arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  private def toBits(v: Long): Long = (v.toInt.toLong ^ 0x80000000L) & 0xffffffffL

  /** Spread the low 32 bits of v into the even bit positions of a long. */
  private def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8))  & 0x00ff00ff00ff00ffL
    v = (v | (v << 4))  & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a match { case i: Int => i.toLong; case l: Long => l }
    val y = b match { case i: Int => i.toLong; case l: Long => l }
    spread(toBits(x)) | (spread(toBits(y)) << 1)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_zorder"
}

/** Per-row int8 scalar-quantization statistic: with scale = max|x|/127
  * over the vector, code_i = floor(x_i·127/max|x| + 0.5); mode 0 returns
  * Σ code_i, mode 1 returns |{i : |code_i| = 127}| — the two row-local
  * inputs of [[graft.ops.Embeddings.quantizeInt8Report]]'s label rollup.
  *
  * Why an expression: the declarative chain (`array_max(transform(…))` →
  * `transform` → two `aggregate`s) is a tower of higher-order functions,
  * which are CodegenFallback — the row stage drops out of WholeStageCodegen
  * into interpreted `Expression.eval`. In a fresh JVM that runs ~1 s/1M
  * vectors, but interpreted eval rides megamorphic virtual dispatch, so in
  * a long-lived session that has already executed hundreds of distinct
  * plans the same chain measured ~7× slower (BENCH_BIG_r14
  * quantize_1m 1.12 s → 7.40 s with operator and input unchanged). The
  * primitive loop here generates into the WholeStageCodegen body
  * (doGenCode), so its cost cannot depend on what else the JVM has run.
  *
  * Bit-exactness: the same IEEE double sequence as the HOF form and the
  * DuckDB oracle — abs((double) x) for the max, x·127.0/ma + 0.5 floored;
  * see quantizeInt8Report's scaladoc for why no knife-edge exists at the
  * saturation boundary. Null semantics replicate the HOF chain: null array
  * → NULL; a null ELEMENT makes the code sum NULL (`acc + NULL`) while the
  * saturation count skips it (`CASE WHEN abs(NULL) = 127` is false-y) —
  * EXCEPT when max|x| over the non-null elements is exactly 0.0: the
  * HOF's `CASE WHEN ma = 0.0 THEN 0L` fires before the element is ever
  * read, so every code (null elements included) is 0L and both modes
  * return 0, never NULL. The fold below short-circuits that whole case
  * to 0L up front, matching the HOF corner the round-15 advisor
  * flagged as divergent. */
case class Int8RowStat(child: Expression, mode: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(mode == 0 || mode == 1, s"graft_int8 mode must be 0 (sum) or 1 (sat), got $mode")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(child)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_int8 expects an array<float|double> argument, got ${child.dataType.simpleString}")

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val isF = elemIsFloat
    // pass 1: ma = array_max(transform(x -> abs(double(x)))) — nulls skipped
    var ma = 0.0
    var hasMa = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = math.abs(if (isF) arr.getFloat(i).toDouble else arr.getDouble(i))
        if (!hasMa || v > ma) { ma = v; hasMa = true }
      }
      i += 1
    }
    // ma == 0.0 short-circuit FIRST (HOF parity): `CASE WHEN ma = 0.0
    // THEN 0L` never reads the element, so nulls code to 0L too — both
    // modes are 0, even when the vector mixes nulls with a zero max
    if (hasMa && ma == 0.0) return 0L
    // pass 2: fold the codes; a null element (or null ma) nulls the sum
    // and is skipped by the saturation count, matching the HOF chain
    var acc = 0L
    i = 0
    while (i < n) {
      if (arr.isNullAt(i) || !hasMa) {
        if (mode == 0) return null
      } else {
        val x = if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
        val code = math.floor(x * 127.0 / ma + 0.5).toLong
        if (mode == 0) acc += code
        else if (math.abs(code) == 127L) acc += 1L
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ma = ctx.freshName("ma")
      val hasMa = ctx.freshName("hasMa")
      val v = ctx.freshName("v")
      val x = ctx.freshName("x")
      val code = ctx.freshName("code")
      val acc = ctx.freshName("acc")
      val fold =
        if (mode == 0)
          s"""
             |if ($a.isNullAt($i) || !$hasMa) { ${ev.isNull} = true; break; }
             |double $x = (double) $a.$get($i);
             |long $code = (long) Math.floor($x * 127.0 / $ma + 0.5);
             |$acc += $code;
           """.stripMargin
        else
          s"""
             |if (!$a.isNullAt($i) && $hasMa) {
             |  double $x = (double) $a.$get($i);
             |  long $code = (long) Math.floor($x * 127.0 / $ma + 0.5);
             |  if (Math.abs($code) == 127L) $acc += 1L;
             |}
           """.stripMargin
      s"""
         |int $n = $a.numElements();
         |double $ma = 0.0;
         |boolean $hasMa = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = Math.abs((double) $a.$get($i));
         |    if (!$hasMa || $v > $ma) { $ma = $v; $hasMa = true; }
         |  }
         |}
         |long $acc = 0L;
         |// HOF parity: a zero max short-circuits every code (null
         |// elements included) to 0L before the element is read
         |if (!($hasMa && $ma == 0.0)) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $fold
         |  }
         |}
         |if (!${ev.isNull}) ${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_int8"
}

/** Idempotent per-session registration of the graft SQL functions. */
object GraftFunctions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(clazz: Class[_], name: String, usage: String)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "", "", "", "built-in"),
      build)

  private def toInt(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  private def toLong(e: Expression): Long =
    e.eval(null).asInstanceOf[Number].longValue()

  /** Every graft_* function, the one table both [[register]] and the
    * `graft.plans.GraftExtensions` session extension install — so a
    * cluster session configured only through spark.sql.extensions sees
    * the same functions as a locally registered one. */
  val table: Seq[Entry] = Seq(
    fn(classOf[DotProduct], "graft_dot",
      "graft_dot(a, b) - double dot product of two float/double arrays")(
      c => DotProduct(c(0), c(1))),
    fn(classOf[ShingleHashes], "graft_shingles",
      "graft_shingles(tokens, n) - distinct 64-bit hashes of the n-gram shingles of a token array")(
      c => ShingleHashes(c(0), toInt(c(1)))),
    fn(classOf[ZOrder2], "graft_zorder",
      "graft_zorder(i, j) - Morton (Z-order) interleave of two 32-bit coordinates into a long sort key")(
      c => ZOrder2(c(0), c(1))),
    fn(classOf[LcsLength], "graft_lcs",
      "graft_lcs(c, r) - longest-common-subsequence length of two string arrays")(
      c => LcsLength(c(0), c(1))),
    fn(classOf[Int8RowStat], "graft_int8",
      "graft_int8(v, mode) - int8-quantization row stat of a float/double array: mode 0 = code sum, mode 1 = saturation count")(
      c => Int8RowStat(c(0), toInt(c(1)))),
    fn(classOf[CharEntropyStat], "graft_entropy",
      "graft_entropy(s) - struct(n_distinct, entropy): character-distribution Shannon entropy of a string")(
      c => CharEntropyStat(c(0))),
    fn(classOf[Hash31], "graft_hash31",
      "graft_hash31(s, mod) - 31-ary code-point polynomial bucket hash of a string, reduced mod `mod` at every step")(
      c => Hash31(c(0), toLong(c(1)))),
    fn(classOf[Feats31], "graft_feats31",
      "graft_feats31(t, mod) - hash31 of every token and every adjacent bigram of a token array (the DSIR feature space)")(
      c => Feats31(c(0), toLong(c(1)))),
    fn(classOf[NGramStructs], "graft_ngrams",
      "graft_ngrams(t, maxN) - all (n, gram) structs for n = 1..maxN of a token array in one pass")(
      c => NGramStructs(c(0), toInt(c(1)))),
    fn(classOf[BleuClipStats], "graft_bleu",
      "graft_bleu(c, r, maxN) - per-row BLEU clipped-match (n, m, tot) structs for n = 1..maxN")(
      c => BleuClipStats(c(0), c(1), toInt(c(2)))),
  )

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((id, info, build) <- table if !registry.functionExists(id))
      registry.registerFunction(id, info, build)
  }
}
