package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: print the formatted physical plan of named gate queries at
  * sf0.01 (the source of PLANS.md). Usage: runMain graft.PlanDump q41_...
  * Pinned at 8 cores so the dumps do not depend on the host. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("plandump", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (name <- args) {
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"#### PLAN $name ####")
      println(df.queryExecution.explainString(FormattedMode))
      println(s"#### END $name ####")
    }
    spark.stop()
  }
}
