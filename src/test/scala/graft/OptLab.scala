package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .limit(10000).groupBy("l_returnflag").count().collect()

    def time1(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def bench(name: String)(df: => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(name)
      val runs = (1 to 5).map(_ => time1(df))
      val fp = fingerprint(df)
      graft.core.InternalCaches.release(spark)
      println(f"LAB $name%-28s ${runs.map(v => f"$v%.2f").mkString(" ")}  $fp")
      spark.sparkContext.setJobDescription(null)
    }

    // ---------------------------------------------------------------
    // q122 candidate: the q127 fused-gram recipe at trigram order —
    // one tier-tagged explode + ONE aggregation shuffle replaces the
    // three per-tier count jobs and the separate count/countDistinct
    // totals pass (whose mixed agg costs an Expand).
    // ---------------------------------------------------------------
    def q122Fused(): DataFrame = {
      val alpha = 0.4
      val docs = graft.core.Tables.documents(spark, dir)
      val train = docs.filter(expr("doc_id % 2 = 0"))
      val eval0 = docs.filter(expr("doc_id % 2 = 1"))
      val trigramExpr = expr(
        "transform(sequence(3, size(t)), i -> " +
          "struct(element_at(t, i - 2) AS w1, element_at(t, i - 1) AS w2, " +
          "element_at(t, i) AS w3))")
      val trainTok = graft.core.InternalCaches.persist(
        graft.ops.Text.withTokens(train).select(col("t")))
      val gramAll = graft.core.InternalCaches.persist(
        trainTok.filter(size(col("t")) >= 1).select(explode(expr(
          """flatten(transform(sequence(1, size(t)), i ->
               transform(sequence(1, least(3, i)), n -> struct(
                 n AS n,
                 element_at(t, i - n + 1) AS w1,
                 CASE WHEN n >= 2 THEN element_at(t, i - n + 2) END AS w2,
                 CASE WHEN n >= 3 THEN element_at(t, i - n + 3) END AS w3))))"""))
          .as("g"))
          .select(col("g.n").as("n"), col("g.w1").as("w1"),
            col("g.w2").as("w2"), col("g.w3").as("w3"))
          .groupBy(col("n"), col("w1"), col("w2"), col("w3"))
          .agg(count(lit(1)).cast(LongType).as("cnt")))
      val n123 = gramAll.filter(col("n") === 3)
        .select(col("w1"), col("w2"), col("w3"), col("cnt").as("n123"))
      val n2 = gramAll.filter(col("n") === 2)
        .select(col("w1"), col("w2"), col("cnt").as("n2"))
      val n1 = gramAll.filter(col("n") === 1)
        .select(col("w1").as("w"), col("cnt").as("n1"))
      val tot = n1.agg(sum(col("n1")).cast(LongType).as("nn"),
        count(lit(1)).cast(LongType).as("v"))
      graft.ops.Text.withTokens(eval0).filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(trigramExpr).as("g"))
        .select(col("doc_id"), col("g.w1"), col("g.w2"), col("g.w3"))
        .join(broadcast(n123), Seq("w1", "w2", "w3"), "left")
        .join(broadcast(n2.withColumnRenamed("n2", "n12")), Seq("w1", "w2"), "left")
        .join(broadcast(n2.select(col("w1").as("w2"), col("w2").as("w3"),
          col("n2").as("n23"))), Seq("w2", "w3"), "left")
        .join(broadcast(n1.select(col("w").as("w2"), col("n1").as("n1_2"))),
          Seq("w2"), "left")
        .join(broadcast(n1.select(col("w").as("w3"), col("n1").as("n1_3"))),
          Seq("w3"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp", round(log(
          when(col("n123").isNotNull,
            col("n123").cast(DoubleType) / col("n12"))
          .when(col("n23").isNotNull,
            (lit(alpha) * col("n23")) / col("n1_2"))
          .otherwise(
            ((lit(alpha) * lit(alpha)) * (coalesce(col("n1_3"), lit(0L)) + lit(1.0)))
              / (col("nn") + col("v")).cast(DoubleType))), 9))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("n_trigrams"),
          round(sum(col("lp").cast(DecimalType(28, 12))).cast(DoubleType)
            / count(lit(1)), 6).as("avg_lp"))
    }

    // ---------------------------------------------------------------
    // q130 candidate: target and raw bucket counts fused into ONE
    // aggregation over the persisted feature scan (cr counts every row,
    // ct the is_t slice), one broadcast probe instead of two, totals in
    // one 1-row agg instead of two cross-joined ones. coalesce(ct,0)+1
    // == (conditional-sum 0)+1, so values are bit-identical.
    // ---------------------------------------------------------------
    def q130Fused(): DataFrame = {
      val buckets = 10000
      graft.functions.GraftFunctions.register(spark)
      val feats = graft.core.InternalCaches.persist(
        graft.ops.Text.withTokens(graft.core.Tables.documents(spark, dir))
          .select(col("doc_id"), (col("lang") === "en").as("is_t"),
            explode(expr(s"graft_feats31(t, $buckets)")).as("b")))
      val bc = graft.core.InternalCaches.persist(
        feats.groupBy(col("b")).agg(
          sum(when(col("is_t"), 1L).otherwise(0L)).cast(LongType).as("ct"),
          count(lit(1)).cast(LongType).as("cr")))
      val tot = bc.agg(sum(col("ct")).cast(LongType).as("nt"),
        sum(col("cr")).cast(LongType).as("nr"))
      feats.select(col("doc_id"), col("b"))
        .join(broadcast(bc), Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp", round(
          log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + lit(buckets.toLong))) -
          log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("nr") + lit(buckets.toLong))), 9))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("n_feat"),
          round(sum(col("lp").cast(DecimalType(28, 12))).cast(DoubleType), 6)
            .as("dsir_lw"))
    }

    // ---------------------------------------------------------------
    // q145 candidate: serve-path pruning — the probed phrases are known
    // before the index is consulted, so the per-query index BUILD keeps
    // only the six probed tokens' postings (the q68 IVF bucket-pruned
    // serve precedent): the posting aggregation's shuffle shrinks from
    // every token occurrence to the probed tokens' occurrences, and the
    // 3-row phrase table collects once instead of running its corpus
    // aggregation under two separate broadcasts.
    // ---------------------------------------------------------------
    def q145Pruned(): DataFrame = {
      import spark.implicits._
      val topP = 3
      val docs = graft.core.Tables.documents(spark, dir)
      val bigramExpr = expr(
        "transform(sequence(2, size(t)), i -> " +
          "struct(element_at(t, i - 1) AS w1, element_at(t, i) AS w2))")
      val phraseRows = graft.ops.Text.withTokens(docs).filter(size(col("t")) >= 2)
        .select(explode(bigramExpr).as("bg"))
        .select(col("bg.w1"), col("bg.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
        .limit(topP)
        .select(col("w1"), col("w2"))
        .collect() // bounded: topP rows
      val phrases = phraseRows.map(r => (r.getString(0), r.getString(1)))
        .toSeq.toDF("w1", "w2")
      val toks = phraseRows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.toSeq
      val idx = graft.core.InternalCaches.persist(
        graft.ops.Text.invertedIndex(docs)
          .filter(col("token").isin(toks: _*)))
      val left = idx.join(broadcast(phrases), col("token") === col("w1"))
        .select(col("w1"), col("w2"), col("doc_id"),
          expr("transform(split(positions, ','), x -> CAST(x AS BIGINT) + 1)")
            .as("pp1"))
      val right = idx.join(broadcast(phrases), col("token") === col("w2"))
        .select(col("w1"), col("w2"), col("doc_id"),
          expr("transform(split(positions, ','), x -> CAST(x AS BIGINT))")
            .as("pp2"))
      left.join(right, Seq("w1", "w2", "doc_id"))
        .withColumn("o",
          size(array_intersect(col("pp1"), col("pp2"))).cast(LongType))
        .filter(col("o") >= 1L)
        .groupBy(concat(col("w1"), lit(" "), col("w2")).as("phrase"))
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum(col("o")).cast(LongType).as("n_occurrences"))
        .orderBy(col("phrase"))
    }

    // ---------------------------------------------------------------
    // q133 / q121 experiment: hash-repartition the capped shingle frame
    // by h BEFORE the persist feeding the pair self-join, so both join
    // sides read one co-partitioned cache instead of re-exchanging.
    // ---------------------------------------------------------------
    def q133Reparth(): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val (n, maxDf, minSpanTokens) = (3, 64L, 5L)
      val docs = graft.core.Tables.documents(spark, dir)
      val posShingles = expr(
        s"transform(sequence(1, size(t) - $n + 1), i -> " +
          s"struct(CAST(i AS BIGINT) AS pos, " +
          s"xxhash64(concat_ws(' ', slice(t, i, $n))) AS h))")
      val sh = graft.core.InternalCaches.persist(
        graft.ops.Text.withTokens(docs).filter(size(col("t")) >= n)
          .select(col("doc_id"), explode(posShingles).as("g"))
          .select(col("doc_id"), col("g.pos"), col("g.h")))
      val keep = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("h"))
      val ex = graft.core.InternalCaches.persist(
        sh.join(keep, Seq("h"), "leftsemi").repartition(col("h")))
      val pairs = ex.as("a")
        .join(ex.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.pos").as("p1"), col("b.pos").as("p2"))
      val byDiag = Window.partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
      pairs
        .withColumn("diag", col("p1") - col("p2"))
        .withColumn("grp", col("p1") - row_number().over(byDiag))
        .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
        .agg(count(lit(1)).cast(LongType).as("run"))
        .groupBy(col("d1"), col("d2"))
        .agg(sum(col("run")).cast(LongType).as("n_matched"),
          count(lit(1)).cast(LongType).as("n_spans"),
          (max(col("run")) + lit((n - 1).toLong)).cast(LongType).as("max_span_tokens"))
        .filter(col("max_span_tokens") >= minSpanTokens)
    }

    val variants: Map[String, () => DataFrame] = Map(
      "q188_base" -> (() => SparkEntry.queries("q188_wordpiece_inference")(spark, dir)),
      "q122_base" -> (() => SparkEntry.queries("q122_trigram_score")(spark, dir)),
      "q122_fused" -> (() => q122Fused()),
      "q130_base" -> (() => SparkEntry.queries("q130_dsir_weights")(spark, dir)),
      "q130_fused" -> (() => q130Fused()),
      "q145_base" -> (() => SparkEntry.queries("q145_phrase_search")(spark, dir)),
      "q145_pruned" -> (() => q145Pruned()),
      "q187_base" -> (() => SparkEntry.queries("q187_wordpiece_train")(spark, dir)),
      "q133_base" -> (() => SparkEntry.queries("q133_duplicated_spans")(spark, dir)),
      "q133_reparth" -> (() => q133Reparth()),
      "q91_new" -> (() => SparkEntry.queries("q91_grouping_sets")(spark, dir)),
      "q159_new" -> (() => SparkEntry.queries("q159_oov_rate")(spark, dir)),
      "q127_new" -> (() => SparkEntry.queries("q127_fivegram_score")(spark, dir)),
      "q121_base" -> (() => SparkEntry.queries("q121_containment")(spark, dir)),
      "q185_base" -> (() => SparkEntry.queries("q185_unigram_train")(spark, dir)),
      "q186_base" -> (() => SparkEntry.queries("q186_unigram_apply")(spark, dir)),
      "q140_base" -> (() => SparkEntry.queries("q140_unigram_viterbi")(spark, dir)),
      "q136_base" -> (() => SparkEntry.queries("q136_tokenizer_fertility")(spark, dir)),
      "q124_base" -> (() => SparkEntry.queries("q124_bpe_inference")(spark, dir)),
      "q75_base" -> (() => SparkEntry.queries("q75_range_join")(spark, dir)),
    )

    val chosen = if (args.isEmpty) variants.keys.toSeq.sorted else args.toSeq
    for (name <- chosen) variants.get(name) match {
      case Some(f) => bench(name)(f())
      case None => System.err.println(s"unknown variant $name")
    }
    spark.stop()
  }
}
