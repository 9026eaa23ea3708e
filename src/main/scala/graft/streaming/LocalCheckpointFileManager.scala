package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's `FileSystem`-based checkpoint manager over a local file system
  * that launches no process: without Hadoop's native library, Spark's
  * default manager forks `readlink` per rename and `chmod` per created file,
  * `.crc` and dir. Renames are `FileSystem.rename`; rwx bits are set through
  * NIO (the sticky bit still goes to Hadoop); `.crc` sidecars stay. The file
  * system is built, not looked up: with Hive on the classpath, `file:` is
  * Hive's `ProxyLocalFileSystem`, whose rename onto an existing file returns
  * false, which Spark's manager reads as a finished overwrite. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  // set up as FileSystem.get sets up a LocalFileSystem
  override protected val fs = new LocalFileSystem(new LocalCheckpointFileManager.NioPermissions)
  fs.setConf(hadoopConf)
  fs.initialize(URI.create("file:///"), hadoopConf)
}

object LocalCheckpointFileManager {

  private class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  /** This class's name when `checkpoint` qualifies to the `file` scheme
    * (read from the default file system's URI, contacting none), else None. */
  def forLocation(checkpoint: String, hadoopConf: Configuration): Option[String] =
    Option(new Path(checkpoint).toUri.getScheme)
      .orElse(Option(FileSystem.getDefaultUri(hadoopConf).getScheme))
      .filter(_ == "file").map(_ => classOf[LocalCheckpointFileManager].getName)
}
