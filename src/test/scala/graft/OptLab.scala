package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.JobCount.jobsOf

/** Dev scratchpad for optimization-round A/B experiments: times named gate
  * queries with the noop sink (5 runs) and prints a result fingerprint
  * (count + xxhash over the stringified rows + schema string), so a
  * candidate rewrite proves result-identity against the shipped operator
  * before it replaces it. Every run starts from released `InternalCaches`,
  * so each one is cold in its caches and its Spark job count (printed per
  * run, construct + noop write) is the operator's own. NOT part of any
  * graded surface, and lives in src/test so lab churn never invalidates the
  * resumable bench manifest (keyed on src/main/scala only). Names are
  * SparkEntry query names, as in TimeProbe.
  * Usage: sbt "Test/runMain graft.OptLab <query name> [...]"
  */
object OptLab {
  private def fingerprint(df: DataFrame): String = {
    val cols = df.columns.map(c => col(c).cast("string")).toSeq
    val row = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(concat_ws("|", cols: _*)).cast("decimal(38,0)")).as("h")).collect()(0)
    s"n=${row.get(0)} h=${row.get(1)} schema=${df.schema.simpleString}"
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Test/runMain graft.OptLab <query name>...\n  queries: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      return
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local("optlab")
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .limit(10000).groupBy("l_returnflag").count().collect()

    def bench(name: String)(df: => DataFrame): Unit = {
      val runs = (1 to 5).map { _ =>
        graft.core.InternalCaches.release(spark)
        var secs = 0.0
        val jobs = jobsOf(spark) { secs = Bench.timeNoop(df) }
        (secs, jobs)
      }
      graft.core.InternalCaches.release(spark)
      val fp = fingerprint(df)
      graft.core.InternalCaches.release(spark)
      println(f"LAB $name%-28s ${runs.map(r => f"${r._1}%.2f").mkString(" ")}  " +
        s"jobs=${runs.map(_._2).mkString(",")}  $fp")
    }

    for (name <- args) SparkEntry.queries.get(name) match {
      case Some(q) => bench(name)(q(spark, dir))
      case None => System.err.println(s"unknown query $name")
    }
    spark.stop()
  }
}
