package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The drains' checkpoint manager keeps the contract of Spark's own
  * `FileSystemBasedCheckpointFileManager`: every check runs the same steps
  * on a fresh scratch dir under each manager and compares what they saw.
  * Spark's manager runs over Hadoop's `LocalFileSystem`, the file system
  * the local manager wraps: the `file:` scheme's registered implementation
  * on this classpath is Hive's `ProxyLocalFileSystem`, whose rename onto an
  * existing file returns false, and Spark's manager takes that as a
  * finished overwrite (the old file stays, and so does the temp file). */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val hadoopLocal = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** What `steps` returns under the local manager and under Spark's. */
  private def both[A](steps: (CheckpointFileManager, JPath) => A): (A, A) = {
    def run(make: Path => CheckpointFileManager): A = {
      val dir = QueriesRelational.tempDirCleanedOnExit("graft-cfm")
      steps(make(new Path(dir.toUri)), dir)
    }
    (run(new LocalCheckpointFileManager(_, conf)),
      run(new FileSystemBasedCheckpointFileManager(_, hadoopLocal)))
  }

  private def names(dir: JPath): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).sorted.toSeq finally s.close()
  }

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def p(dir: JPath, name: String) = new Path(dir.resolve(name).toUri)

  test("createAtomic publishes the whole file on close(), with its .crc sidecar") {
    val text = "offset-log-entry\n" * 2000
    val (local, spark) = both { (m, dir) =>
      val out = m.createAtomic(p(dir, "0"), overwriteIfPossible = false)
      out.write(text.getBytes(UTF_8))
      val before = m.exists(p(dir, "0"))
      out.close()
      (before, read(m, p(dir, "0")) == text, names(dir))
    }
    assert(local === spark)
    assert(local === ((false, true, Seq(".0.crc", "0"))))
  }

  test("cancel() leaves neither the file nor its temp file") {
    val (local, spark) = both { (m, dir) =>
      val out = m.createAtomic(p(dir, "0"), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      (m.exists(p(dir, "0")), names(dir))
    }
    assert(local === spark)
    assert(local === ((false, Seq.empty[String])))
  }

  test("overwriteIfPossible = false onto an existing file raises the same exception") {
    val (local, spark) = both { (m, dir) =>
      write(m, p(dir, "0"), "first")
      val e = intercept[Exception](write(m, p(dir, "0"), "second"))
      (e.getClass, read(m, p(dir, "0")))
    }
    assert(local === spark)
    assert(local._2 === "first")
  }

  test("overwriteIfPossible = true replaces the file") {
    val (local, spark) = both { (m, dir) =>
      write(m, p(dir, "0"), "first")
      write(m, p(dir, "0"), "second", overwrite = true)
      (read(m, p(dir, "0")), names(dir))
    }
    assert(local === spark)
    assert(local === (("second", Seq(".0.crc", "0"))))
  }

  test("list, exists, delete, mkdirs and isLocal agree") {
    val (local, spark) = both { (m, dir) =>
      m.mkdirs(p(dir, "state/0/0"))
      write(m, p(dir, "state/0/0/1.delta"), "delta")
      write(m, p(dir, "offsets"), "offsets")
      val listed = m.list(new Path(dir.toUri)).map(_.getPath.getName).sorted.toSeq
      val exists = Seq("state/0/0", "state/0/0/1.delta", "missing").map(n => m.exists(p(dir, n)))
      m.delete(p(dir, "offsets"))
      m.delete(p(dir, "missing"))
      m.delete(p(dir, "state"))
      (listed, exists, names(dir), m.isLocal)
    }
    assert(local === spark)
    assert(local === ((Seq("offsets", "state"), Seq(true, true, false), Seq.empty[String], true)))
  }

  test("created files, sidecars and dirs get the default manager's permission bits") {
    def bits(f: JPath) = java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(f))
    val (local, spark) = both { (m, dir) =>
      m.mkdirs(p(dir, "state/0"))
      write(m, p(dir, "state/0/1.delta"), "delta")
      Seq("state", "state/0", "state/0/1.delta", "state/0/.1.delta.crc")
        .map(n => n -> bits(dir.resolve(n)))
    }
    assert(local === spark)
  }

  test("the local manager launches no process") {
    val dir = QueriesRelational.tempDirCleanedOnExit("graft-cfm")
    val m = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    val (_, forks) = SparkTestSession.forksIn {
      m.createCheckpointDirectory()
      m.mkdirs(p(dir, "state/0"))
      write(m, p(dir, "state/0/1.delta"), "delta")
      write(m, p(dir, "state/0/1.delta"), "delta2", overwrite = true)
      m.delete(p(dir, "state"))
    }
    assert(forks.isEmpty, forks.mkString("; "))
  }
}
