package graft

import org.apache.spark.sql.functions._
import graft.ops.Embeddings

class EmbeddingsSpec extends SparkSpec {

  private lazy val emb = graft.core.Tables.embeddings(spark, sfDir)

  test("block outer-product near-dup is identical to the brute-force oracle, any block count") {
    val bf = Embeddings.cosineNearDupBruteForce(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (nBlocks <- Seq(1, 3, 16)) {
      val blocked = Embeddings.cosineNearDup(emb, 0.4, nBlocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(blocked == bf, s"nBlocks=$nBlocks diverged from brute force")
    }
  }

  test("auto-sized blocks (non-default target) match brute force") {
    val bf = Embeddings.cosineNearDupBruteForce(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // tiny target forces many blocks: exercises the count-driven sizing
    // path end to end, not just explicit nBlocks values
    val auto = Embeddings.cosineNearDup(emb, 0.4, nBlocks = 0, targetRowsPerBlock = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == bf, "auto-sized block count diverged from brute force")
  }

  test("block near-dup result is partitioning-independent") {
    val a = Embeddings.cosineNearDup(emb, 0.4)
      .collect().map(_.toString).sorted.toSeq
    val b = Embeddings.cosineNearDup(emb.repartition(7), 0.4)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("low-threshold block near-dup emits every pair exactly once") {
    val n = emb.count()
    val pairs = Embeddings.cosineNearDup(emb, -1.0).collect()
    assert(pairs.length.toLong == n * (n - 1) / 2)
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
    assert(keys.forall { case (d1, d2) => d1 < d2 })
  }

  test("triangles: a 3-clique yields one triangle per member, outsiders absent") {
    import spark.implicits._
    try {
      // three identical vectors (pairwise cosine 1.0) + one orthogonal
      val e1 = Seq(1f, 0f, 0f, 0f); val e2 = Seq(0f, 1f, 0f, 0f)
      val tiny = Seq((0L, e1), (1L, e1), (2L, e1), (3L, e2))
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      val got = Embeddings.cosineTriangles(tiny, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((0L, 1L), (1L, 1L), (2L, 1L)), s"got $got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("triangle counts match a driver-side enumeration of the edge set") {
    try {
      val embBig = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
      val edges = Embeddings.cosineNearDup(embBig, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (Seq(a, b, c) <- nodes.combinations(3)
           if edges((a, b)) && edges((b, c)) && edges((a, c))) {
        want(a) += 1; want(b) += 1; want(c) += 1
      }
      val got = Embeddings.cosineTriangles(embBig, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want.toMap, s"got $got want $want")
      assert(got.nonEmpty, "sf0.01 graph should contain triangles")
      // every triangle contributes exactly 3 participations
      assert(got.values.sum % 3 == 0)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("classifier margins are the exact plan-literal dot; keep thresholds the raw margin") {
    val (w, b) = Embeddings.q93Model
    val scored = Embeddings.classifierScores(emb, w, b)
      .select(col("vec_id"), col("margin"), col("keep")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
    assert(rows.nonEmpty && scored.size == rows.length)
    for (r <- rows) {
      val v = r.getSeq[Float](1)
      // same left-to-right fold as graft_dot
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * w(i); i += 1 }
      val raw = s + b
      val (m, k) = scored(r.getLong(0))
      // mirror Spark's Round: BigDecimal.valueOf (toString repr), HALF_UP
      val want = java.math.BigDecimal.valueOf(raw)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      assert(m == want, s"vec ${r.getLong(0)}: margin $m != $want")
      assert(k == (if (raw >= 0.0) 1 else 0), s"vec ${r.getLong(0)}: keep flag wrong")
    }
  }

  test("pagerank: integer fixed-point matches a driver power iteration exactly") {
    import spark.implicits._
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
    val s1000 = 1000000000000L
    val got = Embeddings.pageRank(edgeSeq.toDF("d1", "d2"), iters = 3, scale = s1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = edgeSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toLong
    val tele = 15L * s1000 / (100L * n)
    var r = deg.keys.map(_ -> s1000 / n).toMap
    for (_ <- 1 to 3)
      r = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> (tele + 85L * es.map { case (src, _) => r(src) / deg(src) }.sum / 100L)
      }
    assert(got == r, s"got $got want $r")
  }

  test("pagerank on the cosine graph: partitioning-invariant, mass conserved to truncation") {
    try {
      val embBig = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
      val edges = graft.core.InternalCaches.persist(
        Embeddings.cosineNearDup(embBig, 0.4).select(col("d1"), col("d2")))
      val a = Embeddings.pageRank(edges, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = Embeddings.pageRank(edges.repartition(7), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, "integer pagerank must be bit-identical across partitionings")
      assert(a.nonEmpty, "sf0.01 cosine graph should be non-empty")
      val e = edges.count(); val n = a.size.toLong
      val total = a.values.sum
      val scale = 1000000000000L
      // every division truncates toward zero, so mass only leaks DOWN, and
      // by < 1 unit per division: per iteration < n (teleport) + 2e
      // (contrib splits) + n (damping) divisions
      assert(total <= scale, s"mass grew: $total > $scale")
      assert(total >= scale - 3L * (2L * e + 2L * n),
        s"mass leaked beyond the truncation bound: $total")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("pagerank on a 6-regular graph hits the exact uniform fixed point") {
    // vertex transitivity ⇒ every node runs the identical integer
    // sequence: r1 = 15e12/(100n) + (85 * 6*(r0 div 6)) div 100, which is
    // already the fixed point. At n=1000: 150000000 + 849999996 =
    // 999999996 — the closed form the reference_graph_1m BIG anchor
    // asserts at 1M nodes.
    import spark.implicits._
    val n = 1000L
    val base = spark.range(n).toDF("i")
    def chord(k: Long) = base.select(col("i").as("d1"), ((col("i") + k) % n).as("d2"))
    val edges = chord(1L).union(chord(17L)).union(chord(101L))
    val ranks = graft.ops.Embeddings.pageRank(edges, iters = 3)
      .collect().map(_.getLong(1))
    assert(ranks.length == n)
    assert(ranks.min == ranks.max, s"spread ${ranks.max - ranks.min} on a transitive graph")
    assert(ranks.head == 999999996L, s"fixed point moved: ${ranks.head}")
  }

  test("int8 quantization report matches a driver recompute exactly") {
    val rows = emb.select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val expected = rows.groupBy(_._1).map { case (label, vs) =>
      var sumCodes = 0L; var nSat = 0L
      vs.foreach { case (_, v) =>
        val ma = v.map(x => math.abs(x.toDouble)).max
        v.foreach { x =>
          val c = if (ma == 0.0) 0L
                  else math.floor(x.toDouble * 127.0 / ma + 0.5).toLong
          sumCodes += c; if (math.abs(c) == 127L) nSat += 1L
        }
      }
      label -> ((vs.length.toLong, sumCodes, nSat))
    }
    val got = Embeddings.quantizeInt8Report(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, "quantization report diverged from driver recompute")
    // a non-zero vector's max-|x| element always saturates: every vector
    // contributes >= 1 to n_sat, so the per-label counts are bounded below
    got.foreach { case (label, (n, _, sat)) =>
      assert(sat >= n, s"label $label: $sat saturated < $n vectors") }
  }

  test("int8 quantization: zero vectors code to all-zeros, codes stay in [-127,127]") {
    import spark.implicits._
    val tiny = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, -2.0f, 4.0f), 1),
      (2L, Array(-3.0f, 3.0f, 1.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Embeddings.quantizeInt8Report(tiny).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // label 0: zero vector -> all codes 0, nothing saturates
    assert(out(0) == ((1L, 0L, 0L)))
    // label 1: (1,-2,4) -> round(31.75)=32, round(-63.5)=-63 (half toward
    // +inf), 127; (-3,3,1.5) -> -127, 127, round(63.5)=64
    assert(out(1) == ((2L, 32L - 63L + 127L - 127L + 127L + 64L, 3L)))
  }

  test("ann recall report equals a driver-side overlap of the two knn outputs") {
    val pred = col("vec_id") < 8
    val exact = Embeddings.bruteForceKnn(emb, pred, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val approx = Embeddings.annKnn(emb, pred, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val apByQ = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = exact.groupBy(_._1).map { case (qid, es) =>
      val ex = es.map(_._2).toSet
      val ap = apByQ.getOrElse(qid, Set.empty[Long])
      val hit = (ex intersect ap).size.toLong
      qid -> ((ex.size.toLong, ap.size.toLong, hit, hit.toDouble / ex.size))
    }
    val got = Embeddings.annRecallReport(emb, pred, 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expected, s"report diverged from driver overlap:\n$got\nvs\n$expected")
    got.values.foreach { case (nEx, nAp, nHit, rec) =>
      assert(nHit <= math.min(nEx, nAp) && rec >= 0.0 && rec <= 1.0)
    }
  }

  test("covariance report matches a driver recompute with the identical numeric sequence") {
    val vecs = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val n = vecs.length
    val d = vecs.head.length
    def q6(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    val got = Embeddings.covarianceReport(emb).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == d * (d + 1) / 2)
    for (i <- 0 until d; j <- i until d) {
      val sxy = vecs.map(v => q6(v(i).toDouble * v(j).toDouble)).sum
      val sx = vecs.map(v => q6(v(i).toDouble)).sum
      val sy = vecs.map(v => q6(v(j).toDouble)).sum
      // the exact engine sequence: scaled-long sums, then double divides
      // BigDecimal.decimal = java BigDecimal.valueOf — Catalyst Round's
      // exact double→decimal path
      val cov = BigDecimal.decimal(sxy.toDouble / 1000000.0 / n -
          (sx.toDouble / 1000000.0 / n) * (sy.toDouble / 1000000.0 / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      val (gn, gcov) = got((i.toLong, j.toLong))
      assert(gn == n.toLong)
      assert(gcov == cov, s"cell ($i,$j): got $gcov, driver $cov")
    }
    // the matrix covers the upper triangle exactly once, diagonal included
    assert(got.keySet == (for (i <- 0 until d; j <- i until d)
      yield (i.toLong, j.toLong)).toSet)
  }

  test("covariance: treeAggregate default and declarative explode twin are identical") {
    val fast = Embeddings.covarianceReport(emb).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val declarative = Embeddings.covarianceReportExplode(emb).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(fast == declarative, "the two covariance paths diverged")
    // and the fold is partitioning-independent (long sums commute)
    val repart = Embeddings.covarianceReport(emb.repartition(7)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(repart == fast, "treeAggregate result moved under repartitioning")
  }

  test("hardNegatives: matches a driver brute force and never emits the query's label") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val all = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val expected = all.filter(_._1 < 8).flatMap { case (qid, ql, qv) =>
      val qn = math.sqrt(dot(qv, qv))
      all.filter(_._2 != ql)
        .map { case (nid, nl, nv) =>
          (nid, nl, round6(dot(qv, nv) / (qn * math.sqrt(dot(nv, nv))))) }
        .sortBy { case (nid, _, sim) => (-sim, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, nl, sim), i) => (qid, (i + 1).toLong, nid, nl, sim) }
    }.toSet
    val got = Embeddings.hardNegatives(emb, col("vec_id") < 8, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getInt(3), r.getDouble(4)))
      .toSet
    assert(got == expected)
    val labels = all.toSeq.map(t => t._1 -> t._2).toMap
    got.foreach { case (qid, _, nid, nlabel, _) =>
      assert(labels(qid) != nlabel && labels(nid) == nlabel, s"q$qid -> n$nid label")
    }
  }

  test("driftPsi: fixed bucket domain, conserved counts, non-negative PSI, partition-stable") {
    val rows = Embeddings.driftPsi(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).sorted.toSeq == (0L until 20L).toSeq, "bucket domain")
    val n = emb.count()
    assert(rows.map(_._2).sum + rows.map(_._3).sum == n, "counts conserve")
    rows.foreach { case (b, _, _, contrib, total) =>
      assert(contrib >= 0.0, s"bucket $b contrib negative")
      assert(total >= 0.0 && total == rows.head._5, s"bucket $b total")
    }
    val again = Embeddings.driftPsi(emb.repartition(7)).collect()
      .map(_.toString).sorted.toSeq
    assert(again == rows.map { case (b, a2, b2, c, t) =>
      org.apache.spark.sql.Row(b, a2, b2, c, t).toString }.sorted.toSeq)
    // identical snapshots -> PSI exactly 0 (pa == pb in every bucket)
    val sym = Embeddings.driftPsi(
      emb.withColumn("vec_id", col("vec_id") * 2)
        .unionByName(emb.withColumn("vec_id", col("vec_id") * 2 + 1)))
    assert(sym.collect().forall(r => r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0))
  }

  test("calibrationReport: bins conserve counts, gaps match means, perfect bins score 0") {
    import spark.implicits._
    val (w, b) = Embeddings.q93Model
    val rows = Embeddings.calibrationReport(emb, w, b).collect()
    val n = emb.count()
    assert(rows.map(_.getLong(1)).sum == n, "bin counts conserve the corpus")
    rows.foreach { r =>
      val (bkt, cnt, pos, meanP, rate, gap) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(bkt >= 0 && bkt <= 9 && pos <= cnt, s"$r")
      assert(meanP >= bkt / 10.0 - 1e-6 && meanP <= (bkt + 1) / 10.0 + 1e-6,
        s"mean_p outside its own bin: $r")
      assert(math.abs(gap - math.abs(meanP - rate)) < 2e-6, s"gap mismatch: $r")
    }
    // a planted perfectly-calibrated bin: two vectors scoring p≈0.5 with
    // one positive → mean_p ≈ rate → gap ≈ 0
    val flat = Seq(
      (0L, Seq.fill(64)(0f), 0),    // margin = bias → p ≈ .5, y = 1
      (1L, Seq.fill(64)(0f), 1))    // same p, y = 0
      .toDF("vec_id", "embedding", "label")
    val fr = Embeddings.calibrationReport(flat, Array.fill(64)(0.0), 0.0).collect()
    assert(fr.length == 1 && fr.head.getLong(1) == 2L &&
      fr.head.getDouble(5) == 0.0, s"${fr.toSeq}")
  }

  test("logreg: the treeAggregate gradient epoch equals the declarative explode epoch bit for bit") {
    // the round-15 fold (logregTrainWeights) and the lazy posexplode
    // epoch it replaced (logregEpochExplode) must produce the SAME
    // trained trajectory — the q106 covariance fold/explode contract
    val data = emb.select(col("embedding"),
      when(col("label") % 2 === 0, lit(1.0)).otherwise(lit(0.0)).as("y"))
    val n = data.count()
    def epochOf(w: Array[Double], b: Double): (Array[Double], Double) = {
      val m = Embeddings.logregEpochExplode(data, w, b, lr = 0.5, n = n)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      (Array.tabulate(64)(i => m(i + 1L)), m(0L))
    }
    val (w1, b1) = Embeddings.logregTrainWeights(emb, iters = 1)
    val (we1, be1) = epochOf(Array.fill(64)(0.0), 0.0)
    assert(b1 == be1 && w1.sameElements(we1),
      s"epoch 1 diverged: fold ($b1, ${w1.take(3).toSeq}...) vs explode ($be1, ${we1.take(3).toSeq}...)")
    val (w2, b2) = Embeddings.logregTrainWeights(emb, iters = 2)
    val (we2, be2) = epochOf(w1, b1)
    assert(b2 == be2 && w2.sameElements(we2),
      "epoch 2 diverged between the fold and the explode twin")
    assert(w1.exists(_ != 0.0), "trained model did not move off the zero start")
  }

  test("logregTrain: loss decreases, training is partitioning-invariant, model separates a separable corpus") {
    import spark.implicits._
    val (w, b) = Embeddings.logregTrainWeights(emb, iters = 3)
    // 1. determinism across physical partitionings: decimal gradient sums
    //    are order-free, so a 7-partition re-run must be bit-identical
    val (w2, b2) = Embeddings.logregTrainWeights(emb.repartition(7), iters = 3)
    assert(b == b2 && w.sameElements(w2),
      "trained model differs across partitionings")
    // 2. training reduces the log-loss vs the w=0 start (driver recompute
    //    of the UNROUNDED loss — the direction, not the pinned digits)
    val rows = emb.select(col("embedding"), (col("label") % 2 === 0).as("y"))
      .collect().map(r => (r.getSeq[Float](0).map(_.toDouble).toArray, r.getBoolean(1)))
    def loss(wv: Array[Double], bv: Double): Double = {
      val ls = rows.map { case (x, y) =>
        val m = x.indices.foldLeft(bv)((acc, j) => acc + wv(j) * x(j))
        math.log1p(math.exp(m)) - (if (y) m else 0.0)
      }
      ls.sum / ls.length
    }
    val l0 = loss(Array.fill(64)(0.0), 0.0)
    val lT = loss(w, b)
    assert(lT < l0, s"training did not reduce loss: $l0 -> $lT")
    // 3. on a linearly separable planted corpus the trained model must
    //    classify every example correctly after a few epochs
    val sep = (0 until 40).map { i =>
      val v = Array.fill(64)(0f); v(0) = if (i % 2 == 0) 3f else -3f
      (i.toLong, v.toSeq, i % 2)   // label parity == sign of dim 0
    }.toDF("vec_id", "embedding", "label")
    val (ws, bs) = Embeddings.logregTrainWeights(sep, iters = 8, lr = 1.0)
    val preds = sep.collect()
    assert(ws(0) > 0.0, "separating weight has the wrong sign")
    preds.foreach { r =>
      val x = r.getSeq[Float](1).map(_.toDouble)
      val m = x.indices.foldLeft(bs)((acc, j) => acc + ws(j) * x(j))
      val keep = m >= 0.0
      assert(keep == (r.getInt(2) % 2 == 0), s"misclassified ${r.getLong(0)}")
    }
    // 4. the gate frame carries exactly the 65 coefficients
    val frame = Embeddings.logregTrain(emb).collect()
    assert(frame.length == 65 &&
      frame.map(_.getLong(0)).sorted.sameElements(0L to 64L))
  }

  test("classifierAuc: closed forms for separation, ties, and anti-separation; trained model lifts AUC") {
    import spark.implicits._
    def mk(rows: Seq[(Long, Float, Int)]) = rows.map { case (id, v, l) =>
      (id, Seq(v) ++ Seq.fill(63)(0f), l) }.toDF("vec_id", "embedding", "label")
    val w = Array.fill(64)(0.0).updated(0, 1.0)
    try {
      // perfectly separated: every positive margin above every negative
      val sep = mk(Seq((0L, 3f, 0), (1L, 2f, 0), (2L, -2f, 1), (3L, -3f, 1)))
      val rSep = Embeddings.classifierAuc(sep, w, 0.0).collect().head
      assert((rSep.getLong(0), rSep.getLong(1), rSep.getDouble(3)) == ((2L, 2L, 1.0)), s"$rSep")
      // all margins tied → AUC exactly 0.5 (the tie-correction path)
      val tied = mk(Seq((0L, 1f, 0), (1L, 1f, 1), (2L, 1f, 0), (3L, 1f, 1)))
      val rTied = Embeddings.classifierAuc(tied, w, 0.0).collect().head
      assert(rTied.getLong(2) == 1L && rTied.getDouble(3) == 0.5, s"$rTied")
      // anti-separated → AUC 0
      val anti = mk(Seq((0L, -2f, 0), (1L, 2f, 1)))
      assert(Embeddings.classifierAuc(anti, w, 0.0).collect().head.getDouble(3) == 0.0)

      // composition with q147: on the separable planted corpus the TRAINED
      // model must rank near-perfectly where the zero model sits at 0.5
      val sepCorpus = (0 until 40).map { i =>
        val v = Array.fill(64)(0f); v(0) = if (i % 2 == 0) 3f else -3f
        (i.toLong, v.toSeq, i % 2)
      }.toDF("vec_id", "embedding", "label")
      val (tw, tb) = Embeddings.logregTrainWeights(sepCorpus, iters = 8, lr = 1.0)
      val auc = Embeddings.classifierAuc(sepCorpus, tw, tb).collect().head.getDouble(3)
      assert(auc == 1.0, s"trained model should separate the separable corpus: $auc")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("mmrRerank: redundant near-twin demoted below the diverse candidate") {
    import spark.implicits._
    def pad(v: Seq[Float]) = v ++ Seq.fill(64 - v.size)(0f)
    // q = e1; A and A' near-identical high-relevance; B diverse, lower rel.
    // relevance order is A, A', B — MMR at lambda = .5 must pick A, then B
    // (A' pays ~1.0 redundancy penalty), then A'.
    val vecs = Seq(
      (0L, pad(Seq(1f, 0f, 0f, 0f)), 0),
      (1L, pad(Seq(0.95f, 0.31f, 0f, 0f)), 0),     // A
      (2L, pad(Seq(0.95f, 0.31f, 0.01f, 0f)), 0),  // A' ~ A
      (3L, pad(Seq(0.8f, 0f, 0f, 0.6f)), 0))       // B
      .toDF("vec_id", "embedding", "label")
    try {
      val got = Embeddings.mmrRerank(vecs, col("vec_id") === 0, k = 3, nCand = 3,
          lambda = 0.5, oneMinusLambda = 0.5)
        .orderBy(col("sel_rank")).collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)),
        s"MMR did not diversify: ${got.toSeq}")
      // pure relevance would have ranked A' second — MMR moved B up
      val rel = Embeddings.bruteForceKnn(vecs, col("vec_id") === 0, 3)
        .orderBy(col("rk")).collect().map(_.getLong(2))
      assert(rel.toSeq == Seq(1L, 2L, 3L), s"relevance baseline moved: ${rel.toSeq}")

      // real corpus: 3 distinct selections per query, ranks 1..3
      val emb = graft.core.Tables.embeddings(spark, sfDir)
      val rows = Embeddings.mmrRerank(emb, col("vec_id") < 8).collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.size == 8 && byQ.values.forall { g =>
        g.map(_.getLong(1)).sorted.sameElements(1L to 3L) &&
          g.map(_.getLong(2)).distinct.length == 3
      }, s"malformed slates: ${rows.toSeq}")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("truncationRecall: planted neighbor flip at k=1 heals at k=2") {
    import spark.implicits._
    // query id0 = (1,0,0,0). Full-dim nearest is id2 (sim ≈ .995); under
    // the first-2-dims slice id1 becomes exact (sim 1.0) — top-1 flips,
    // recall 0; at k=2 both sides hold {1,2}, recall 1
    val planted = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f, 10f)),
      (2L, Seq(1f, 0.1f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val pred = col("vec_id") === 0
    val r1 = Embeddings.truncationRecall(planted, dPrime = 2, k = 1, queryPred = pred)
      .collect().head
    assert(r1.getLong(0) == 0L && r1.getLong(1) == 0L && r1.getDouble(2) == 0.0, s"$r1")
    val r2 = Embeddings.truncationRecall(planted, dPrime = 2, k = 2, queryPred = pred)
      .collect().head
    assert(r2.getLong(1) == 2L && r2.getDouble(2) == 1.0, s"$r2")
    // slicing to the full width is the identity: recall 1 for every query
    val idq = Embeddings.truncationRecall(emb, dPrime = 64, k = 5,
      queryPred = col("vec_id") < 4).collect()
    assert(idq.length == 4 && idq.forall(_.getDouble(2) == 1.0), s"${idq.toSeq}")
  }

  test("hits: planted hub/authority chain follows the exact integer sequence") {
    import spark.implicits._
    try {
      // 1→3, 2→3, 3→4: nodes 1,2 are pure twin hubs, 3 the sole authority
      // of the hub pair AND the only hub of 4. Integer halving per
      // iteration: a(4) = h(3)·scale div 2·scale halves each round (max
      // stays 2·scale on the a-side, scale on the h-side), so after 3
      // iters a(4) = h(3) = scale/8 exactly — any drift in the
      // max-normalize order or the div semantics moves these integers.
      val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("d1", "d2")
      val got = graft.ops.Embeddings.hits(edges, iters = 3)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == Map(
        1L -> ((1000000L, 0L)),
        2L -> ((1000000L, 0L)),
        3L -> ((125000L, 1000000L)),
        4L -> ((0L, 125000L))), s"got $got")
      // pure-star sanity: 1→3, 2→3 reaches its fixed point in one iter
      val star = Seq((1L, 3L), (2L, 3L)).toDF("d1", "d2")
      val s1 = graft.ops.Embeddings.hits(star, iters = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val s3 = graft.ops.Embeddings.hits(star, iters = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(s1 == s3 && s1 == Set((1L, 1000000L, 0L), (2L, 1000000L, 0L),
        (3L, 0L, 1000000L)), s"star: $s1 vs $s3")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("centroidAffinity: orthogonal and diagonal label centroids hit closed-form cosines") {
    import spark.implicits._
    try {
      // identical vectors per label make the centroid the vector itself:
      // label 0 = (1,0), label 1 = (0,1), label 2 = (1,1) ⇒ cos(0,1)=0,
      // cos(0,2)=cos(1,2)=1/√2 — the decimal-mean and round-12 product
      // paths are exact on these values, so the assert is equality.
      val tiny = Seq(
        (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
        (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.0f, 1.0f), 1),
        (4L, Array(1.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
      val got = graft.ops.Embeddings.centroidAffinity(tiny)
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      assert(got == Map((0, 1) -> 0.0, (0, 2) -> 0.707107, (1, 2) -> 0.707107),
        s"got $got")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("thresholdSweep: planted margins produce exact confusion counts and guarded P/R/F1") {
    import spark.implicits._
    // w=(1,0), b=0 ⇒ margins +1, −1, +0.5, −0.5; even labels are the
    // positive class ⇒ y = 1,0,1,0. Three operating points: all-keep
    // (thr −2), the separator (thr 0), all-drop (thr 2) — the guards on
    // zero predicted/actual positives are exercised by the last one.
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(-1.0f, 0.0f), 1),
      (2L, Array(0.5f, 0.0f), 2), (3L, Array(-0.5f, 0.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Embeddings
      .thresholdSweep(tiny, Array(1.0, 0.0), 0.0, Seq(-2.0, 0.0, 2.0))
      .collect().map(r => r.getDouble(0) ->
        (((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
          (r.getDouble(5), r.getDouble(6), r.getDouble(7))))).toMap
    assert(got(-2.0) == (((2L, 2L, 0L, 0L), (0.5, 1.0, 0.666667))), s"$got")
    assert(got(0.0) == (((2L, 0L, 0L, 2L), (1.0, 1.0, 1.0))), s"$got")
    assert(got(2.0) == (((0L, 0L, 2L, 2L), (0.0, 0.0, 0.0))), s"$got")
  }

  test("assortativity: star is exactly -1, regular graphs guard to 0") {
    import spark.implicits._
    try {
      // K1,3 star: hub degree 3, leaves 1. Over the 6 directed edges
      // Σj=12, Σjk=18, Σj²=30 → r = (6·18−144)/(6·30−144) = −1 exactly —
      // the perfectly disassortative hub-and-spoke shape.
      val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("d1", "d2")
      val s = graft.ops.Embeddings.assortativity(star).collect().head
      assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getDouble(3)) ==
        ((4L, 3L, 3L, -1.0)), s"$s")
      // triangle: 2-regular → zero denominator → 0.0 by guard, never NaN
      val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("d1", "d2")
      val t = graft.ops.Embeddings.assortativity(tri).collect().head
      assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getDouble(3)) ==
        ((3L, 3L, 2L, 0.0)), s"$t")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("kCore: the triangle survives, the tail peels off round by round") {
    import spark.implicits._
    try {
      // triangle {1,2,3} + tail 3-4-5: peel 1 drops 5 (deg 1) and edge
      // (4,5); peel 2 drops 4; peel 3 is stable — the 2-core is exactly
      // the triangle, every survivor at degree 2
      val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
        .toDF("d1", "d2")
      val got3 = graft.ops.Embeddings.kCore(g, k = 2, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got3 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"$got3")
      // one peel only: 4 still present (its degree was 2 before the peel)
      val got1 = graft.ops.Embeddings.kCore(g, k = 2, iters = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got1 == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L), s"$got1")
      // k above the max degree: everything peels, empty result
      assert(graft.ops.Embeddings.kCore(g, k = 4, iters = 2).count() == 0L)
    } finally graft.core.InternalCaches.release(spark)
  }

  test("jlProjectionRecall: identical-vector clusters survive any projection; signs are reproducible") {
    import spark.implicits._
    try {
      // two clusters of IDENTICAL vectors (e1 and e2): linear projection
      // maps equal vectors to equal vectors, so the within-cluster top-k
      // (cosine exactly 1, id tie-break) is invariant → recall 1.0; the
      // cross-cluster projected cosine would need all 16 sign rows to
      // align to reach 1.0 (it doesn't at this seed).
      val e1 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
      val e2 = Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
      val emb2 = ((0L until 10L).map(id => (id, e1, 0)) ++
        (10L until 20L).map(id => (id, e2, 1))).toDF("vec_id", "embedding", "label")
      val r = Embeddings.jlProjectionRecall(emb2, dPrime = 16, k = 5,
        queryPred = col("vec_id") === 0L).collect()
      assert(r.length == 1 && r.head.getLong(1) == 5L && r.head.getDouble(2) == 1.0,
        s"${r.toSeq}")
      // the sign matrix is a pure function of (dPrime, dim, seed)
      val a = Embeddings.jlSigns(4, 8, 7L)
      val b = Embeddings.jlSigns(4, 8, 7L)
      assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
      assert(a.flatten.forall(v => v == 1.0 || v == -1.0))
      assert(a.flatten.toSet.size == 2, "degenerate all-equal sign matrix")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("transitivity: triangle-plus-tail is exactly 0.5, stars are 0") {
    import spark.implicits._
    try {
      // triangle {1,2,3} + tail 3-4-5: T=1, wedges = 1+1+3+1+0 = 6 ⇒
      // C = 3·1/6 = 0.5 exactly
      val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
        .toDF("d1", "d2")
      val r = graft.ops.Embeddings.transitivity(g).collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)) == ((5L, 5L, 1L, 6L, 0.5)), s"$r")
      // K1,3 star: 3 wedges through the hub, zero triangles → 0.0
      val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("d1", "d2")
      val sR = graft.ops.Embeddings.transitivity(star).collect().head
      assert((sR.getLong(2), sR.getLong(3), sR.getDouble(4)) == ((0L, 3L, 0.0)),
        s"$sR")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("graph operators share one degree rule on a multigraph input") {
    import spark.implicits._
    try {
      // triangle {1,2,3} + tail 3-4-5, with (1,2) listed twice and (4,5)
      // also listed as (5,4): 7 edge rows. Every row counts at both of its
      // endpoints, so deg = 1:3 (1-2 twice, 1-3), 2:3 (2-1 twice, 2-3),
      // 3:3 (3-1, 3-2, 3-4), 4:3 (4-3, 4-5, 5-4), 5:2 (5-4, 4-5); Σ = 14.
      //   pageRank: 5 nodes;
      //   assortativity: n_nodes 5, n_edges 14 div 2 = 7, max_degree 3;
      //   transitivity: n_nodes 5, n_edges 7 (rows),
      //     n_wedges = (4·(3·2) + 2·1) / 2 = 13;
      //   kCore(k = 2): every degree ≥ 2, nothing peels, degrees unchanged
      //     (a simple-graph rule would give 5 degree 1 and peel 5, then 4).
      val g = Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 4L))
        .toDF("d1", "d2")
      assert(Embeddings.pageRank(g, iters = 3).count() == 5L)
      val a = Embeddings.assortativity(g).collect().head
      assert((a.getLong(0), a.getLong(1), a.getLong(2)) == ((5L, 7L, 3L)), s"$a")
      val t = Embeddings.transitivity(g).collect().head
      assert((t.getLong(0), t.getLong(1), t.getLong(3)) == ((5L, 7L, 13L)), s"$t")
      val core = Embeddings.kCore(g, k = 2, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 2L), s"$core")
    } finally graft.core.InternalCaches.release(spark)
  }

  test("brierDecomposition: closed-form plant and the Murphy identity on the corpus") {
    import spark.implicits._
    try {
      // w=(1,0), b=0, all margins 0 ⇒ p = 0.5 exactly, one bucket, half
      // positives: BS = 0.25, REL = 0 (p̄ = ȳ_k), RES = 0 (one bin),
      // UNC = 0.25 — the no-skill point, every statistic exact.
      val flat = Seq(
        (0L, Array(0.0f, 0.0f), 0), (1L, Array(0.0f, 0.0f), 1),
        (2L, Array(0.0f, 0.0f), 2), (3L, Array(0.0f, 0.0f), 3))
        .toDF("vec_id", "embedding", "label")
      val r = Embeddings.brierDecomposition(flat, Array(1.0, 0.0), 0.0)
        .collect().head
      assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)) == ((4L, 0.25, 0.0, 0.0, 0.25)), s"$r")
      // real corpus: BS = REL − RES + UNC holds up to the binning residual
      // (within-bin variance of p) plus rounding — the identity is exact
      // only when p is constant per bin, so assert the reconstruction gap
      // is small and positively biased (BS ≥ REL − RES + UNC − ε)
      val (w, b) = Embeddings.q93Model
      val c = Embeddings.brierDecomposition(emb, w, b).collect().head
      val (bs, rel, res, unc) =
        (c.getDouble(1), c.getDouble(2), c.getDouble(3), c.getDouble(4))
      assert(c.getLong(0) == emb.count(), "row coverage")
      assert(math.abs(bs - (rel - res + unc)) < 0.02,
        s"Murphy identity broke: bs=$bs rel=$rel res=$res unc=$unc")
      assert(unc > 0.0 && unc <= 0.25 && rel >= 0.0 && res >= 0.0)
    } finally graft.core.InternalCaches.release(spark)
  }
}
