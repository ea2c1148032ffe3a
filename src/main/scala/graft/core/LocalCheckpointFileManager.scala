package graft.core

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's FileContext checkpoint manager, minus the process forks on a
  * local checkpoint directory.
  *
  * Without Hadoop's native library, two calls on the write path of every
  * offset-log and commit-log entry fork a process:
  *  - `RawLocalFileSystem.setPermission` runs `chmod`, once for the new
  *    file and once for its `.crc`;
  *  - `FileContext.rename` reads the link status of source and destination
  *    twice each through `FileUtil.readLink`, which runs `readlink`, for
  *    the file and again for its `.crc`.
  * Ten forks per log write, twenty per micro-batch, out of a large JVM cost
  * tens of milliseconds, far more than the writes themselves.
  *
  * When the checkpoint is local, temp-file creation, rename and `mkdirs`
  * go through a checksummed `LocalFileSystem` whose raw file system sets
  * permissions with `java.nio`. Everything is as with Spark's manager: the
  * `.crc` files, the file and directory permissions, the atomic rename,
  * and the `FileAlreadyExistsException` that `HDFSMetadataLog` relies on
  * when the destination exists and overwriting is not allowed. Every other
  * operation, and every non-local scheme, is Spark's code unchanged.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {
  import LocalCheckpointFileManager.NioPermissions

  private val localFs: Option[LocalFileSystem] =
    if (!isLocal) None
    else {
      val fs = new LocalFileSystem(new NioPermissions)
      fs.initialize(URI.create("file:///"), hadoopConf)
      Some(fs)
    }

  override def createTempFile(path: Path): FSDataOutputStream = localFs match {
    case Some(fs) =>
      // FileContext.create: umasked file default, parent must exist
      fs.createNonRecursive(path,
        FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(hadoopConf)),
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        hadoopConf.getInt("io.file.buffer.size", 4096),
        fs.getDefaultReplication(path), fs.getDefaultBlockSize(path), null)
    case None => super.createTempFile(path)
  }

  override def renameTempFile(srcPath: Path, dstPath: Path, overwriteIfPossible: Boolean): Unit =
    localFs match {
      case Some(fs) =>
        // the existence check is as non-atomic as FileContext's own
        if (!overwriteIfPossible && fs.exists(dstPath))
          throw new FileAlreadyExistsException(s"Rename destination $dstPath already exists.")
        if (!fs.rename(srcPath, dstPath))
          throw new IOException(s"Failed to rename $srcPath to $dstPath")
      case None => super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    }

  override def mkdirs(path: Path): Unit = localFs match {
    case Some(fs) =>
      if (!fs.mkdirs(path, FsPermission.getDirDefault)) throw new IOException(s"mkdir of $path failed")
    case None => super.mkdirs(path)
  }
}

object LocalCheckpointFileManager {

  /** Sets plain rwx permission bits with `java.nio` instead of a `chmod`
    * process; a sticky, setuid or setgid bit still takes Hadoop's path. */
  private final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
