package graft.ops

import java.io.{File, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, FileSystemException, StandardCopyOption}
import java.security.MessageDigest
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Cross-run staging of intermediate artifacts — the reference's
  * materialized staging tables (dbt `{{ config(materialized='table') }}`):
  * an artifact is built once and every later call, in this application or
  * a later one, reads it instead of recomputing.
  *
  * Key. An artifact of `family` over the input tables `inputs` of the
  * dataset `dir` lives in `<java.io.tmpdir>/graft_<family>_<key>`. The key
  * digests the input files' content ([[datasetKey]]), the family and
  * [[buildId]] (this program's code plus the Spark version). Unchanged data
  * under the same build is reused; changed data or any code change —
  * including one to the staged query itself — restages. A call site
  * therefore states only its family, its inputs and how to write the
  * artifact, never a hand-maintained version prefix.
  *
  * Lifecycle of one call:
  *   1. catalog hit (bucketed tables only): this session already registered
  *      the tables over the published dir; they are returned and the build
  *      is never evaluated;
  *   2. published dir on disk (a fresh application over unchanged data and
  *      the same build): bucketed tables are re-registered metadata-only —
  *      the build is analyzed for its schema, no job runs; other artifacts
  *      are read from the returned path;
  *   3. otherwise the artifact is written into a hidden
  *      `.graft-scratch-<uuid>` dir and published by one atomic rename. A
  *      lost rename race can only mean another application of the same
  *      build published the same data first, so its copy is used and the
  *      scratch dir dropped.
  *
  * Stale generations. Each published dir carries a marker recording its
  * (family, source dir, build, layout). Every call evicts the other
  * `graft_*` dirs whose marker records the same family and source — older
  * data or another build — so tmpdir holds one generation per (family,
  * dataset). Matching is on the marker, never on a name prefix, and hidden
  * scratch dirs are never candidates: one application's cleanup cannot
  * touch another's in-flight write. An evicted dir is renamed to a hidden trash name before it is
  * deleted, so a `graft_*` dir is either whole or absent.
  *
  * Layout. A staging's bucketed tables share one bucket count, derived from
  * the stage's input bytes ([[buckets]]), so joins between them stay
  * co-located. The marker records it; a published dir laid out for another
  * count (the session's file-split settings changed) counts as stale.
  *
  * Caveat: two different builds, or two sessions whose settings give
  * different bucket counts, running at once over the same dataset evict
  * each other's generation; a scan already reading the evicted files then
  * fails with FileNotFoundException — the contract of replacing any
  * external table's files under a live reader.
  */
object Staged {

  /** One bucketed, bucket-sorted parquet table of a staging: subdirectory
    * `name`, bucketed on column `key` into the stage's [[buckets]]. `build`
    * is evaluated at most once, and only when the table is not already in
    * the catalog. */
  final class Table(val name: String, val key: String, build: => DataFrame) {
    lazy val df: DataFrame = build
  }

  /** Where one artifact lives. `build` defaults to this program's
    * [[buildId]]; another value addresses the artifact another build
    * would publish. */
  final case class Stage(family: String, dir: String, inputs: Seq[String],
      build: String = buildId) {
    private lazy val files = inputFiles(dir, inputs)
    lazy val key: String = digest(s"${fingerprint(dir, files)}|$family|$build")
    /** Total size of the input files. */
    lazy val bytes: Long = files.map(_.length).sum
    def path: File = new File(System.getProperty("java.io.tmpdir"), s"graft_${family}_$key")
    def table(name: String): String = s"graft_${family}_${name}_$key"
  }

  /** Stage bucketed tables together under one key; returns them in the
    * order given. */
  def tables(spark: SparkSession, stage: Stage)(ts: Table*): Seq[DataFrame] = {
    val nBuckets = buckets(spark, stage.bytes)
    val layout = s"buckets=$nBuckets"
    evictStale(stage, layout)
    val names = ts.map(t => stage.table(t.name))
    if (stage.path.isDirectory && names.forall(n => spark.catalog.tableExists(n)))
      return names.map(spark.table)
    publish(stage, layout) { scratch =>
      ts.foreach { t =>
        val tmp = "graft_scratch_" + UUID.randomUUID.toString.replace("-", "")
        t.df.write.format("parquet")
          .option("path", new File(scratch, t.name).getAbsolutePath)
          .bucketBy(nBuckets, t.key).sortBy(t.key)
          .saveAsTable(tmp)
        spark.sql(s"DROP TABLE IF EXISTS `$tmp`") // external: files stay
      }
    }
    ts.zip(names).map { case (t, n) =>
      spark.sql(s"DROP TABLE IF EXISTS `$n`") // a registration over evicted files
      spark.sql(
        s"""CREATE TABLE `$n` (${t.df.schema.toDDL})
           |USING PARQUET
           |CLUSTERED BY (`${t.key}`) SORTED BY (`${t.key}`) INTO $nBuckets BUCKETS
           |LOCATION '${new File(stage.path, t.name).getAbsolutePath}'""".stripMargin)
      spark.table(n)
    }
  }

  /** Stage an artifact `write` lays out under the path it is given (e.g.
    * [[graft.sim.IvfIndex.save]]); returns the published path. */
  def artifact(stage: Stage)(write: String => Unit): String = {
    evictStale(stage, "")
    publish(stage, "")(scratch => write(scratch.getAbsolutePath))
    stage.path.getAbsolutePath
  }

  /** Bucket count for a staging over `bytes` of input: the number of
    * splits Spark's `FilePartition.maxSplitBytes` would cut a plain scan of
    * those bytes into, `ceil(bytes / min(maxPartitionBytes,
    * max(openCostInBytes, bytes / minPartitionNum)))`, clamped to
    * `[1, spark.sql.sources.bucketing.maxBuckets]`. A bucket is then one
    * scan split's worth of data: small inputs get one bucket, a task and a
    * file per table instead of a fixed fan-out. */
  def buckets(spark: SparkSession, bytes: Long): Int = {
    val conf = spark.sessionState.conf
    val minPartitionNum = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(spark.sparkContext.defaultParallelism)
    val split = math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, bytes / minPartitionNum))
    val wanted = (bytes + split - 1) / split
    math.max(1L, math.min(wanted, conf.bucketingMaxBuckets.toLong)).toInt
  }

  /** This program's build: a digest of its code source (class directory or
    * jar) and the Spark version, computed once per JVM. Without a readable
    * code source a per-JVM random id is used — nothing is then reused
    * across runs, and nothing stale is ever served. */
  lazy val buildId: String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(org.apache.spark.SPARK_VERSION.getBytes(UTF_8))
    val root = try Option(getClass.getProtectionDomain.getCodeSource)
      .map(cs => new File(cs.getLocation.toURI)).filter(_.exists)
    catch { case _: Exception => None }
    root match {
      case Some(r) => walk(r).foreach { f =>
        md.update(r.toPath.relativize(f.toPath).toString.getBytes(UTF_8))
        md.update(Files.readAllBytes(f.toPath))
      }
      case None => md.update(UUID.randomUUID.toString.getBytes(UTF_8))
    }
    hex(md.digest())
  }

  /** Content fingerprint of the input files backing a staging: path,
    * length, mtime and an edge-block CRC of every file under each input,
    * walked recursively (a partitioned dataset keeps its data in
    * subdirectories). Same bytes on disk → same key; touched or replaced
    * data → new key. */
  def datasetKey(dir: String, inputs: Seq[String]): String =
    fingerprint(dir, inputFiles(dir, inputs))

  private def inputFiles(dir: String, inputs: Seq[String]): Seq[File] =
    inputs.sorted.flatMap(in => walk(new File(dir, in)))

  private def fingerprint(dir: String, files: Seq[File]): String = {
    val stats = files
      .map(f => s"${f.getAbsolutePath}:${f.length}:${f.lastModified}:${edgeBlockCrc(f)}")
    digest(dir + "|" + stats.mkString(","))
  }

  private val Marker = "_graft_stage"

  private def publish(stage: Stage, layout: String)(write: File => Unit): Unit =
    if (!stage.path.isDirectory) {
      val scratch = new File(stage.path.getParentFile, ".graft-scratch-" + UUID.randomUUID)
      try {
        scratch.mkdirs()
        write(scratch)
        Files.write(new File(scratch, Marker).toPath,
          s"${stage.family}\n${stage.dir}\n${stage.build}\n$layout".getBytes(UTF_8))
        // a rename onto a published dir fails (ENOTEMPTY): the race was lost
        // to the same build publishing the same data, whose copy is used
        try Files.move(scratch.toPath, stage.path.toPath, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if stage.path.isDirectory => }
      } finally deleteRecursively(scratch)
    }

  /** Evicts the other generations of `stage`'s (family, source), and the
    * current one too when it was laid out other than `layout`. */
  private def evictStale(stage: Stage, layout: String): Unit = {
    val root = stage.path.getParentFile
    val current = stage.path.getName
    Option(root.listFiles()).getOrElse(Array.empty).filter { d =>
      d.getName.startsWith("graft_") && markerOf(d).exists { m =>
        m.take(2) == Seq(stage.family, stage.dir) &&
          (d.getName != current || m.lift(3).getOrElse("") != layout)
      }
    }.foreach { d =>
      val trash = new File(root, ".graft-trash-" + UUID.randomUUID)
      if (d.renameTo(trash)) deleteRecursively(trash)
    }
  }

  // a dir vanishing or being renamed mid-read means "not a candidate now"
  private def markerOf(d: File): Option[Seq[String]] =
    try Some(new String(Files.readAllBytes(new File(d, Marker).toPath), UTF_8)
      .split("\n", -1).toSeq)
    catch { case _: IOException => None }

  /** CRC32 of a file's first and last 64 KiB — the cheap content signal in
    * [[datasetKey]]: length+mtime alone miss a same-length replace within
    * the filesystem's mtime granularity, and for parquet the tail block
    * covers the footer. A file that vanishes or shrinks mid-read yields a
    * `missing` sentinel instead of throwing: a changed key just restages. */
  private def edgeBlockCrc(f: File): String = {
    val block = 64 * 1024
    val crc = new java.util.zip.CRC32()
    try {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val len = raf.length()
        val head = new Array[Byte](math.min(block.toLong, len).toInt)
        raf.readFully(head)
        crc.update(head)
        if (len > block) {
          raf.seek(len - block)
          val tail = new Array[Byte](block)
          raf.readFully(tail)
          crc.update(tail)
        }
        crc.getValue.toString
      } finally raf.close()
    } catch {
      case _: IOException => "missing"
    }
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).toSeq.flatMap(walk)
    else Seq(f)

  /** SHA-256 prefix, not `hashCode` — 32 bits of a Java string hash
    * collide in practice. */
  private def digest(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  private def hex(d: Array[Byte]): String = d.take(8).map(b => f"$b%02x").mkString

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }
}
