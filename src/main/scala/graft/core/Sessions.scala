package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration: every
  * in-repo entry point (Bench, TimeProbe, Verify, PlanDump, the CLI, the
  * benchmark) builds its session here. Local mode sizes shuffle partitions
  * to the core count; on a cluster, leave master to spark-submit and size
  * `spark.sql.shuffle.partitions` to 2-3× total executor cores (and let AQE
  * coalesce down). */
object Sessions {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else the host's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(app: String = "graft", cores: Int = cpus): SparkSession =
    configure(SparkSession.builder().appName(app).master(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // RDD-lane shuffles/broadcasts (the HITS co-partitioned loop, the
    // logreg treeAggregate) serialize records with Kryo — Tungsten rows
    // never touch this, but Java serialization on boxed tuples makes an
    // RDD shuffle several times wider than it needs to be
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // offset/commit logs and state-store files on a local checkpoint are
    // written without forking chmod/readlink processes
    .config(CheckpointFileManager._1, CheckpointFileManager._2)

  /** Spark's checkpoint-file-manager key, pointed at [[LocalCheckpointFileManager]]. */
  val CheckpointFileManager: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFileManager].getName
}
