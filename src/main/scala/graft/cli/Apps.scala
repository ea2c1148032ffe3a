package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Sessions
import graft.ops.Geometry
import graft.sources.PointSource

/** CLI entry points matching the reference programs' argv contracts and
  * printed report shapes, so a user of the reference can run the same
  * invocations against this engine.
  *
  *  - OutlierApp  ≙ HW1 `G019HW1.main` (file D M K L)
  *  - ClusterApp  ≙ HW2 `G016HW2.main` (file M K L)
  *  - StreamApp   ≙ HW3 `G016HW3.main` (n phi epsilon delta host port)
  */
object CliSession {
  def make(app: String): SparkSession = {
    val b = SparkSession.builder().appName(app).config("spark.locality.wait", "0s")
    // spark-submit injects spark.master; standalone runs default to local
    val withMaster =
      if (sys.props.contains("spark.master")) b else b.master(s"local[${Sessions.cpus}]")
    Sessions.configure(withMaster, Sessions.cpus).getOrCreate()
  }
}

object OutlierApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 5, "usage: OutlierApp <file> <D> <M> <K> <L>")
    val Array(file, dS, mS, kS, lS) = args
    val (d, m, k, l) = (dS.toDouble, mS.toLong, kS.toInt, lS.toInt)
    val spark = CliSession.make("OutlierApp")
    spark.sparkContext.setLogLevel("WARN")
    println(s"$file D=$d M=$m K=$k L=$l")
    val pts = PointSource.read(spark, file, l)
    val n = pts.count()
    println(s"Number of points = $n")

    if (n <= 200000) {
      val t0 = System.currentTimeMillis()
      val outliers = Geometry.exactOutliers(pts, d, m)
        .join(pts, col("qid") === col("id"))
        .orderBy(col("n_neighbors").asc, col("qid").asc)
        .select(col("x"), col("y"), col("n_neighbors"))
        .collect()
      println(s"Number of Outliers = ${outliers.length}")
      outliers.take(k).foreach(r => println(s"Point: (${r.getDouble(0)},${r.getDouble(1)})"))
      println(s"Running time of ExactOutliers = ${System.currentTimeMillis() - t0} ms")
    }

    val t1 = System.currentTimeMillis()
    val classes = Geometry.approxOutliers(pts, d, m).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"Number of sure outliers = ${classes.getOrElse("sure", 0L)}")
    println(s"Number of uncertain points = ${classes.getOrElse("uncertain", 0L)}")
    val lambda = d / (2.0 * math.sqrt(2.0))
    Geometry.cellHistogram(pts, lambda)
      .orderBy(col("sz").asc, col("ci").asc, col("cj").asc).limit(k).collect()
      .foreach(r => println(s"Cell: (${r.getLong(0)},${r.getLong(1)})  Size = ${r.getLong(2)}"))
    println(s"Running time of MRApproxOutliers = ${System.currentTimeMillis() - t1} ms")
    spark.stop()
  }
}

object ClusterApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: ClusterApp <file> <M> <K> <L>")
    val Array(file, mS, kS, lS) = args
    val (m, k, l) = (mS.toLong, kS.toInt, lS.toInt)
    val spark = CliSession.make("ClusterApp")
    spark.sparkContext.setLogLevel("WARN")
    println(s"$file M=$m K=$k L=$l")
    val pts = PointSource.read(spark, file, l)
    println(s"Number of points = ${pts.count()}")
    val t0 = System.currentTimeMillis()
    val (radius, _) = Geometry.mrFFT(pts, k, l, deterministic = false)
    println(s"Radius = ${radius.toFloat}")
    println(s"Running time of MRFFT = ${System.currentTimeMillis() - t0} ms")
    val t1 = System.currentTimeMillis()
    val classes = Geometry.approxOutliers(pts, radius, m).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"Number of sure outliers = ${classes.getOrElse("sure", 0L)}")
    println(s"Number of uncertain points = ${classes.getOrElse("uncertain", 0L)}")
    println(s"Running time of MRApproxOutliers = ${System.currentTimeMillis() - t1} ms")
    spark.stop()
  }
}

object StreamApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: StreamApp <n> <phi> <epsilon> <delta> <host> <port>")
    val n = args(0).toLong
    val (phi, eps, delta) = (args(1).toDouble, args(2).toDouble, args(3).toDouble)
    val (host, port) = (args(4), args(5))
    val spark = CliSession.make("StreamApp")
    spark.sparkContext.setLogLevel("WARN")
    // one partition: the source deals a batch's lines round-robin over
    // `numPartitions` slices, and the fold reads partition after partition
    val stream = spark.readStream.format("socket")
      .option("host", host).option("port", port).option("numPartitions", 1).load()
      .selectExpr("CAST(value AS LONG) AS item")
    val rep = graft.streaming.FrequentItemsJob.run(spark, stream, n, phi, eps, delta)
    println(s"Number of items processed = ${rep.n}")
    println(s"Number of distinct items = ${rep.histogramSize}")
    println(s"Number of true frequent items = ${rep.trueFrequent.size}")
    rep.trueFrequent.foreach(println)
    println(s"Size of Reservoir sample = ${rep.reservoirSample.size}")
    println(s"Number of estimated frequent items (Reservoir) = ${rep.reservoirEstimate.size}")
    rep.reservoirEstimate.foreach(i =>
      println(s"$i ${if (rep.trueFrequent.contains(i)) "+" else "-"}"))
    println(s"Size of Sticky Sampling table = ${rep.stickyTableSize}")
    println(s"Number of estimated frequent items (Sticky) = ${rep.stickyEstimate.size}")
    rep.stickyEstimate.foreach(i =>
      println(s"$i ${if (rep.trueFrequent.contains(i)) "+" else "-"}"))
    spark.stop()
  }
}
