package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tolerant readers for dirty ingest data. The point-file reader
  * (PointSource) is FAILFAST for reference parity; real training-data
  * ingest wants the opposite: keep every parseable row, quarantine the
  * rest. PERMISSIVE mode + an explicit corrupt-record column gives an
  * auditable split — at 100 TB you never want one bad line to kill a job,
  * and you never want silent row loss either.
  */
object Lenient {

  val CorruptCol = "_corrupt_record"

  /** CSV with schema; malformed lines land in [[CorruptCol]]. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, StringType, nullable = true))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)

  /** Split a lenient read into (clean rows without the audit column,
    * quarantined raw lines).
    *
    * The cache() is REQUIRED, not an optimization: Spark disallows
    * querying only the corrupt-record column from a raw CSV/JSON scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the parsed
    * result must be cached or saved first. Lifecycle stays with the
    * caller: the cache entry is registered on the caller's `df`, so
    * `df.unpersist()` releases it once both branches are materialized.
    * MEMORY_AND_DISK (the default) spills rather than OOMs at ingest
    * scale; a production pipeline saves the parsed split to a table
    * instead of holding it in storage memory. */
  def partitionClean(df: DataFrame): (DataFrame, DataFrame) = {
    val cached = df.cache()
    val clean = cached.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val dirty = cached.filter(col(CorruptCol).isNotNull).select(col(CorruptCol))
    (clean, dirty)
  }
}
