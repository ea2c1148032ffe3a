package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev scratchpad for optimization-round A/B experiments: times named
  * query variants with the noop sink (5 runs) and prints a result
  * fingerprint (count + xxhash over the stringified sorted rows) so a
  * candidate rewrite proves result-identity before it touches the real
  * operator. NOT part of any graded surface, and — round 20, advisor —
  * lives in src/test so lab churn never invalidates the resumable bench
  * manifest (keyed on src/main/scala only). `_base` variants call the
  * SHIPPED operators via SparkEntry; only not-yet-shipped candidate
  * bodies are inlined, and they are deleted once a candidate ships.
  * Usage: sbt "Test/runMain graft.OptLab [variant ...]"  (default: all)
  */
object OptLab {
  private def fingerprint(df: DataFrame): String = {
    val cols = df.columns.map(c => col(c).cast("string")).toSeq
    val row = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(concat_ws("|", cols: _*)).cast("decimal(38,0)")).as("h")).collect()(0)
    s"n=${row.get(0)} h=${row.get(1)}"
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local("optlab")
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .limit(10000).groupBy("l_returnflag").count().collect()

    def bench(name: String)(df: => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(name)
      val runs = (1 to 5).map(_ => Bench.timeNoop(df))
      val fp = fingerprint(df)
      graft.core.InternalCaches.release(spark)
      println(f"LAB $name%-28s ${runs.map(v => f"$v%.2f").mkString(" ")}  $fp")
      spark.sparkContext.setJobDescription(null)
    }

    val variants: Map[String, () => DataFrame] = Map(
      "q188_base" -> (() => SparkEntry.queries("q188_wordpiece_inference")(spark, dir)),
      "q122_base" -> (() => SparkEntry.queries("q122_trigram_score")(spark, dir)),
      "q130_base" -> (() => SparkEntry.queries("q130_dsir_weights")(spark, dir)),
      "q145_base" -> (() => SparkEntry.queries("q145_phrase_search")(spark, dir)),
      "q187_base" -> (() => SparkEntry.queries("q187_wordpiece_train")(spark, dir)),
      "q133_base" -> (() => SparkEntry.queries("q133_duplicated_spans")(spark, dir)),
      "q91_base" -> (() => SparkEntry.queries("q91_grouping_sets")(spark, dir)),
      "q159_base" -> (() => SparkEntry.queries("q159_oov_rate")(spark, dir)),
      "q127_base" -> (() => SparkEntry.queries("q127_fivegram_score")(spark, dir)),
      "q121_base" -> (() => SparkEntry.queries("q121_containment")(spark, dir)),
      "q185_base" -> (() => SparkEntry.queries("q185_unigram_train")(spark, dir)),
      "q186_base" -> (() => SparkEntry.queries("q186_unigram_apply")(spark, dir)),
      "q140_base" -> (() => SparkEntry.queries("q140_unigram_viterbi")(spark, dir)),
      "q136_base" -> (() => SparkEntry.queries("q136_tokenizer_fertility")(spark, dir)),
      "q124_base" -> (() => SparkEntry.queries("q124_bpe_inference")(spark, dir)),
      "q75_base" -> (() => SparkEntry.queries("q75_range_join")(spark, dir)),
      "q84_base" -> (() => SparkEntry.queries("q84_inverted_index")(spark, dir)),
      "q113_base" -> (() => SparkEntry.queries("q113_bm25")(spark, dir)),
      "q125_base" -> (() => SparkEntry.queries("q125_rrf_fusion")(spark, dir)),
      "q157_base" -> (() => SparkEntry.queries("q157_rm3_expansion")(spark, dir)),
      "q161_base" -> (() => SparkEntry.queries("q161_ndcg")(spark, dir)),
      "q169_base" -> (() => SparkEntry.queries("q169_dirichlet_ql")(spark, dir)),
      "q177_base" -> (() => SparkEntry.queries("q177_mrr")(spark, dir)),
    )

    val chosen = if (args.isEmpty) variants.keys.toSeq.sorted else args.toSeq
    for (name <- chosen) variants.get(name) match {
      case Some(f) => bench(name)(f())
      case None => System.err.println(s"unknown variant $name")
    }
    spark.stop()
  }
}
