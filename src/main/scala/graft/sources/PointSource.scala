package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Point-file source (reference data format: headerless CSV, one `x,y`
  * float pair per line — `G019HW1.java:61-66`). FAILFAST matches the
  * reference's crash-on-garbage NumberFormatException behavior. The schema
  * parses FloatType then widens to double for distance math, mirroring the
  * reference's float-parse / double-accumulate split (SURVEY §7.4 risk 2).
  */
object PointSource {

  val schema: StructType = StructType(Seq(
    StructField("x", FloatType, nullable = false),
    StructField("y", FloatType, nullable = false)))

  /** Read, add a stable row id, repartition to L (the reference CLI's
    * explicit parallelism contract), cache for reuse across jobs.
    *
    * A second read of the same path and L in one session plans on the
    * first read's cache: Spark's CacheManager matches the new plan to the
    * cached one, so the rows and their ids are the cached ones. After an
    * `unpersist()` the next read caches afresh, which also picks up a
    * file changed in place. */
  def read(spark: SparkSession, path: String, l: Int): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").csv(path)
      .withColumn("id", monotonically_increasing_id())
      .select(col("id"), col("x").cast(DoubleType).as("x"), col("y").cast(DoubleType).as("y"))
      .repartition(l)
      .cache()
}
