package graft

import org.apache.spark.sql.functions._
import graft.plans.{TopK, TopKPerKeyExec}

class TopKPerKeySpec extends SparkSpec {

  test("custom top-k per key equals the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.core.Tables.orders(spark, sfDir)
    val custom = TopK.perKey(orders, Seq("o_custkey"),
        Seq(TopK.desc("o_totalprice"), TopK.asc("o_orderkey")), 3)
      .select(col("o_custkey"), col("o_orderkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val windowed = orders.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(custom == windowed)
    assert(custom.nonEmpty)
  }

  test("plan contains partial and final bounded-heap passes around the exchange") {
    val df = TopK.perKey(graft.core.Tables.orders(spark, sfDir),
      Seq("o_custkey"), Seq(TopK.desc("o_totalprice")), 2)
    df.collect()  // force planning through AQE
    // AQE hides stage subtrees inside QueryStageExec leaves — assert on the
    // rendered final plan instead of a tree collect
    // the AQE string includes both the initial and final plan; take the
    // final section only
    val rendered = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(rendered.contains(", true") && rendered.contains(", false"),
      s"expected partial (true) + final (false) TopKPerKey passes, got:\n$rendered")
    assert(rendered.contains("Exchange hashpartitioning"),
      s"expected a key shuffle between the passes:\n$rendered")
    // no SortExec anywhere — that's the point vs the window plan
    assert(!rendered.contains("Sort "), s"bounded heaps should not sort:\n$rendered")
  }

  test("ranked equals the row_number window formulation, schema included") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val nan = 0.0 / 0.0 // a zero vector's cosine
    // qid 1: ties on sim broken by nid; qid 2: a NaN sim and fewer than k
    // rows; qid 3: one row
    val rows = Seq((1L, 0.5, 3L), (1L, 0.5, 1L), (1L, 0.9, 7L), (1L, 0.5, 2L),
      (1L, 0.1, 9L), (2L, nan, 4L), (2L, 0.2, 5L), (3L, -0.3, 6L))
    for (parts <- Seq(1, 4)) {
      val df = rows.toDF("qid", "sim", "nid").repartition(parts)
      val got = TopK.ranked(df, Seq("qid"), Seq(TopK.desc("sim"), TopK.asc("nid")), 3, "rk")
      val want = df.withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
        .filter(col("rk") <= 3)
      assert(got.schema == want.schema, s"$parts partitions")
      val (g, w) = (got.collect().map(_.toString).sorted, want.collect().map(_.toString).sorted)
      assert(g.sameElements(w), s"$parts partitions: ${g.mkString(" ")} vs ${w.mkString(" ")}")
      assert(g.contains("[2,NaN,4,1]") && g.contains("[1,0.5,1,2]"))
    }
  }

  test("k larger than group size returns whole groups") {
    import spark.implicits._
    val df = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v")
    val out = TopK.perKey(df, Seq("k"), Seq(TopK.desc("v")), 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((1L, 10.0), (1L, 20.0), (2L, 5.0)))
  }
}
