package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.LocalCheckpointFileManager

/** The fork-free local checkpoint manager writes what Spark's FileContext
  * manager writes, and streaming queries recover from it. */
class CheckpointSpec extends SparkSpec {

  private def fixture(): (File, Path, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft_ckpt_fm").toFile
    val base = new Path(dir.toURI)
    (dir, base, new LocalCheckpointFileManager(base, spark.sessionState.newHadoopConf()))
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def perms(f: File) = Files.getPosixFilePermissions(f.toPath)

  test("sessions write checkpoints through LocalCheckpointFileManager") {
    val (_, base, _) = fixture()
    val fm = CheckpointFileManager.create(base, spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager] && fm.isLocal)
  }

  test("createAtomic + close leaves the file and its .crc as Spark's default manager does") {
    val (dir, base, fm) = fixture()
    val spark0 = new FileContextBasedCheckpointFileManager(base, spark.sessionState.newHadoopConf())
    write(fm, new Path(base, "a"), "v1\n{\"batchWatermarkMs\":0}")
    write(spark0, new Path(base, "b"), "v1\n{\"batchWatermarkMs\":0}")
    assert(dir.list().toSet == Set("a", ".a.crc", "b", ".b.crc"))
    assert(perms(new File(dir, "a")) == perms(new File(dir, "b")))
    assert(perms(new File(dir, ".a.crc")) == perms(new File(dir, ".b.crc")))
    assert(Files.readAllBytes(new File(dir, ".a.crc").toPath).sameElements(
      Files.readAllBytes(new File(dir, ".b.crc").toPath)))
    assert(read(spark0, new Path(base, "a")) == read(fm, new Path(base, "b")))
    fm.mkdirs(new Path(base, "d1/e"))
    spark0.mkdirs(new Path(base, "d2/e"))
    assert(perms(new File(dir, "d1")) == perms(new File(dir, "d2")))
    assert(perms(new File(dir, "d1/e")) == perms(new File(dir, "d2/e")))
  }

  test("createAtomic without overwrite on an existing file throws and keeps the first") {
    val (_, base, fm) = fixture()
    val p = new Path(base, "0")
    write(fm, p, "first")
    intercept[FileAlreadyExistsException](write(fm, p, "second"))
    assert(read(fm, p) == "first")
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
  }

  test("cancel leaves no temp file") {
    val (dir, base, fm) = fixture()
    val out = fm.createAtomic(new Path(base, "1"), overwriteIfPossible = false)
    out.write(Array[Byte](1, 2, 3))
    assert(dir.list().exists(_.endsWith(".tmp")))
    out.cancel()
    assert(dir.list().isEmpty)
  }

  test("a restarted query resumes after its last committed batch, none re-run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = new File(Files.createTempDirectory("graft_ckpt_restart").toFile, "q").toString
    val mem = MemoryStream[Long]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]
    def start() = mem.toDF().writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) => seen.add(id -> b.collect().map(_.getLong(0)).toSeq); () }
      .start()
    val q1 = start()
    mem.addData(1L, 2L, 3L)
    q1.processAllAvailable()
    mem.addData(4L, 5L)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    mem.addData(6L, 7L)
    q2.processAllAvailable()
    q2.stop()
    assert(seen.asScala.toSeq == Seq(0L -> Seq(1L, 2L, 3L), 1L -> Seq(4L, 5L), 2L -> Seq(6L, 7L)))
    for (log <- Seq("offsets", "commits"); f <- Seq("2", ".2.crc"))
      assert(new File(s"$ckpt/$log/$f").isFile, s"$log/$f")
  }
}
