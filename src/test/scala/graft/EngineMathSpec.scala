package graft

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.{LocalTableScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.EngineMath

/** EngineMath against Catalyst. Every input runs through the Catalyst
  * expression twice: over a local frame, where the optimizer folds the
  * projection into the local relation and evaluates it interpreted, and
  * over an RDD-backed frame, where it runs as generated code. Both
  * results must equal EngineMath's bit for bit. The inputs are ScalaCheck
  * draws from fixed seeds plus the hand-picked edge cases. */
class EngineMathSpec extends SparkSpec {

  private def draws[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Iterator.iterate(Seed(seed))(_.next).take(n)
      .map(s => g.pureApply(Gen.Parameters.default, s)).toSeq

  /** `rows` as a frame evaluated interpreted and as one run through
    * generated code, each checked to take its mode. */
  private def bothModes[T <: Product : Encoder : scala.reflect.ClassTag](rows: Seq[T], names: String*)(
      project: DataFrame => DataFrame): Seq[(String, Array[org.apache.spark.sql.Row])] = {
    import spark.implicits._
    val local = project(rows.toDF(names: _*))
    assert(local.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      "the local frame must evaluate interpreted, folded into its relation")
    val rdd = project(spark.sparkContext.parallelize(rows, 4).toDF(names: _*))
    assert(rdd.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec]).nonEmpty,
      "the RDD-backed frame must run through generated code")
    Seq("interpreted" -> local.collect(), "codegen" -> rdd.collect())
  }

  private val scales = Seq(0, 1, 6, 9)

  test("round: EngineMath.round equals Catalyst's round on DOUBLE, bit for bit") {
    import spark.implicits._
    val signed = Gen.zip(Gen.oneOf(1.0, -1.0), Gen.choose(-300.0, 300.0), Gen.choose(1.0, 9.999))
      .map { case (sign, e, m) => sign * m * math.pow(10.0, math.floor(e)) }
    val seeded = draws(signed, 3000, 71L) ++ draws(Gen.choose(-1e4, 1e4), 1000, 72L)
    // x.5 at the last kept place, exactly in decimal, and its ±1-ulp neighbours
    val boundaries = for {
      s <- scales
      k <- Seq(0L, 1L, 2L, 7L, 99L, 12344L) ++ draws(Gen.choose(0L, 999999L), 40, 75L)
      sign <- Seq(1.0, -1.0)
      mid = sign * java.math.BigDecimal.valueOf(k).add(new java.math.BigDecimal("0.5"))
        .movePointLeft(s).doubleValue
      x <- Seq(mid, math.nextUp(mid), math.nextDown(mid))
    } yield x
    val special = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, java.lang.Double.MIN_NORMAL / 3, -java.lang.Double.MIN_NORMAL / 7,
      Double.MaxValue, -Double.MaxValue, 5e-7, -5e-7, 2.5e-10, 1.0000000005, 0.15, 2.675, 1e300,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val xs = (seeded ++ boundaries ++ special).zipWithIndex.map { case (x, i) => (i.toLong, x) }
    val bits = java.lang.Double.doubleToLongBits _
    for ((mode, got) <- bothModes(xs, "i", "x")(_.select(
        col("i") +: scales.map(s => round(col("x"), s)): _*))) {
      assert(got.length == xs.length)
      val bad = for {
        r <- got.toSeq
        x = xs(r.getLong(0).toInt)._2
        (s, k) <- scales.zipWithIndex
        want = EngineMath.round(x, s)
        if bits(r.getDouble(k + 1)) != bits(want)
      } yield (x, s, r.getDouble(k + 1), want)
      assert(bad.isEmpty, s"$mode: (x, scale, catalyst, EngineMath) differ, e.g. ${bad.take(5)}")
    }
  }

  test("utf8Lt: EngineMath.utf8Lt equals Catalyst's STRING <") {
    import spark.implicits._
    // ASCII, a backslash, Latin-1, high BMP (U+FF21, U+FFFD), a combining
    // mark, and non-BMP (U+10000, U+1F600: surrogates in UTF-16)
    val chars = Seq("a", "b", "Z", "0", "\\", "\u00e9", "\u00ff", "\uff21", "\ufffd",
      "\u0301", "\ud800\udc00", "\ud83d\ude00")
    val str = Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf(chars)).map(_.mkString))
    val pairs = draws(Gen.zip(str, str, str), 4000, 73L).flatMap { case (p, a, b) =>
      Seq((a, b), (p + a, p + b), (p, p + b), (p + a, p)) }
    val all = (pairs ++ pairs.map(_.swap) ++ chars.map(c => (c, c)) ++
      Seq(("", ""), ("", "a"), ("\uff21", "\ud800\udc00"), ("\u00e9", "z"))).distinct
    for ((mode, got) <- bothModes(all, "a", "b")(
        _.select(col("a"), col("b"), (col("a") < col("b")).as("lt")))) {
      assert(got.length == all.length)
      val bad = got.filter(r => r.getBoolean(2) != EngineMath.utf8Lt(r.getString(0), r.getString(1)))
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      assert(bad.isEmpty, s"$mode: (a, b, catalyst a < b) differ, e.g. ${bad.take(5).toSeq}")
    }
  }

  test("tokens: EngineMath.tokens equals Catalyst's split(text, ' ')") {
    import spark.implicits._
    val fixed = Seq("", " ", "  ", "a", "a  b", " a ", "a ", " a", "a b c",
      "\ud83d\ude00 \ud800\udc00", "\ud83d\ude00  x ")
    val text = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", " ", " ", "\u00e9", "\ud83d\ude00")).map(_.mkString))
    val texts = (fixed ++ draws(text, 2000, 74L)).distinct.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    for ((mode, got) <- bothModes(texts, "i", "text")(
        _.select(col("i"), split(col("text"), " ")))) {
      assert(got.length == texts.length)
      val bad = got.map(r => (texts(r.getLong(0).toInt)._2, r.getSeq[String](1)))
        .filter { case (t, toks) => toks != EngineMath.tokens(t).toSeq }
      assert(bad.isEmpty, s"$mode: (text, catalyst tokens) differ, e.g. ${bad.take(5).toSeq}")
    }
  }
}
