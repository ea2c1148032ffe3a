package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session, local[4]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at `v`, then the
    * previous setting back. */
  def withBroadcastThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.Sessions.CheckpointFileManager._1, graft.core.Sessions.CheckpointFileManager._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
