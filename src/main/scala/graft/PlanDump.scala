package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: print the formatted physical plan of named gate queries at
  * sf0.01 (the source of PLANS.md). Usage: runMain graft.PlanDump q41_...
  * Pinned at 8 cores so the dumps do not depend on the host, and
  * [[masked]] so they do not depend on run history. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("plandump", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (name <- args) {
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"#### PLAN $name ####")
      println(masked(df.queryExecution.explainString(FormattedMode)))
      println(s"#### END $name ####")
    }
    spark.stop()
  }

  /** `plan` with what counts the session's history masked, so a dump of the
    * same tree is the same text: plan ids (every plan built so far, eager
    * jobs during construction included), lambda identities
    * (`$$Lambda$N/0x…@…`) and RDD ids with their call-site lines
    * (`MapPartitionsRDD[N] at localCheckpoint at File.scala:N`). */
  def masked(plan: String): String = plan
    .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=*]")
    .replaceAll("\\$\\$Lambda[$\\d]*/0x\\p{XDigit}+(@\\p{XDigit}+)?", "\\$\\$Lambda\\$*")
    .replaceAll("(\\w+RDD)\\[\\d+\\] at (\\w+) at ([\\w.]+):\\d+", "$1[*] at $2 at $3:*")
}
