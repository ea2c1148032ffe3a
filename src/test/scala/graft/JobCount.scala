package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** The test side's one Spark job counter, shared by PlanContractSpec's
  * job contracts and OptLab's per-run job counts. */
object JobCount {

  /** Spark jobs started while `body` runs. */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = jobsAndStagesOf(spark)(body)._1

  /** Spark jobs started while `body` runs, and the stages they ran (a
    * shuffle's map stage counts once, where it runs, and not where a later
    * job skips it), counted by a SparkListener on a local-property tag. A
    * marker job submitted afterwards travels the same listener queue, so
    * once it is seen every earlier job and stage start is. */
  def jobsAndStagesOf(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val key = "graft.contract.tag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => jobs.add(e.jobId)
          case Some(t) if t == s"$tag-marker" => marker.countDown()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          stages.add((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    }
    def tagged(t: String)(f: => Unit): Unit = {
      sc.setLocalProperty(key, t)
      try f finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(s"$tag-marker")(sc.parallelize(Seq(1), 1).count())
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener queue did not drain")
      (jobs.size, stages.size)
    } finally sc.removeSparkListener(listener)
  }
}
