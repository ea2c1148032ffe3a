package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: print the formatted physical plan of named gate queries at
  * sf0.01 (the source of PLANS.md). Usage: runMain graft.PlanDump q41_...
  * Pinned at 8 cores so the dumps do not depend on the host, with every
  * `[plan_id=N]` printed as `[plan_id=*]` so they do not depend on run
  * history. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("plandump", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (name <- args) {
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"#### PLAN $name ####")
      // plan ids count every plan the session built so far, eager jobs
      // during a query's construction included: mask them so a dump of
      // the same tree is the same text
      println(df.queryExecution.explainString(FormattedMode)
        .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=*]"))
      println(s"#### END $name ####")
    }
    spark.stop()
  }
}
