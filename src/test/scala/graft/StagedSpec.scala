package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.ops.Staged
import graft.ops.Staged.{Stage, Table}
import org.scalatest.funsuite.AnyFunSuite

/** The staging primitive's lifecycle: reuse paths, stale-generation
  * eviction, and the scratch dirs eviction must never touch. The
  * query-level reuse, restage and zero-Exchange properties are pinned in
  * PlanShapeSpec (q50) and SourcesAndIvfSpec (x48/x85). */
class StagedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  /** A one-input dataset dir of its own: its path is the staging source. */
  private def source(): File = {
    val d = Files.createTempDirectory("graft-staged-src")
    Files.write(Files.createDirectory(d.resolve("t")).resolve("a.bin"), "x".getBytes)
    d.toFile
  }

  private def publish(st: Stage): File = {
    Staged.artifact(st)(p => Files.write(Paths.get(p, "data.bin"), "d".getBytes): Unit)
    st.path
  }

  test("cleanup matches the exact family and source, never a name prefix") {
    val (a, b) = (source(), source())
    val stale = publish(Stage("specfam", a.toString, Seq("t"), build = "old"))
    val otherSource = publish(Stage("specfam", b.toString, Seq("t"), build = "old"))
    // graft_specfam_x_<key> starts with graft_specfam_: only the marker
    // tells the two families apart
    val otherFamily = publish(Stage("specfam_x", a.toString, Seq("t"), build = "old"))
    val live = publish(Stage("specfam", a.toString, Seq("t")))
    try {
      assert(!stale.exists, "stale same-family, same-source generation survived")
      assert(live.isDirectory && otherSource.isDirectory && otherFamily.isDirectory,
        "cleanup crossed its family or source boundary")
    } finally Seq(stale, otherSource, otherFamily, live, a, b).foreach(rm)
  }

  test("cleanup leaves another application's in-flight scratch dir alone") {
    val a = source()
    val old = publish(Stage("specscratch", a.toString, Seq("t"), build = "old"))
    // another application mid-publish: a scratch dir holding everything a
    // generation of the same family and source holds, marker included,
    // not yet renamed into place
    val scratch = new File(old.getParentFile, s".graft-scratch-${java.util.UUID.randomUUID}")
    scratch.mkdirs()
    old.listFiles().foreach(f => Files.copy(f.toPath, new File(scratch, f.getName).toPath))
    val live = publish(Stage("specscratch", a.toString, Seq("t")))
    try {
      assert(!old.exists, "the stale published generation survived")
      assert(new File(scratch, "data.bin").isFile && new File(scratch, "_graft_stage").isFile,
        "cleanup touched an in-flight scratch dir")
    } finally Seq(old, scratch, live, a).foreach(rm)
  }

  test("a lost publish race serves the winner's copy and drops the scratch dir") {
    val a = source()
    val st = Stage("specrace", a.toString, Seq("t"))
    var loser = ""
    // the same build publishes the same artifact while this write is in flight
    val got = Staged.artifact(st) { p =>
      loser = p
      Files.write(Paths.get(p, "data.bin"), "loser".getBytes)
      Staged.artifact(st)(q => Files.write(Paths.get(q, "data.bin"), "winner".getBytes): Unit): Unit
    }
    try {
      assert(got === st.path.getAbsolutePath)
      assert(new String(Files.readAllBytes(Paths.get(got, "data.bin"))) === "winner")
      assert(!new File(loser).exists, "the losing scratch dir was left behind")
    } finally Seq(st.path, a).foreach(rm)
  }

  test("a catalog hit never evaluates the build; a published dir re-registers with no job") {
    val a = source()
    val st = Stage("spectables", a.toString, Seq("t"))
    var builds = 0
    def table = new Table("t", "k", {
      builds += 1; Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    })
    try {
      val first = Staged.tables(spark, st)(table).head
      assert(builds === 1 && st.path.isDirectory)
      assert(first.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b"), (3, "c")))
      Staged.tables(spark, st)(table): Unit
      assert(builds === 1, "a catalog hit evaluated the build")
      // a fresh application: the files are published, the catalog is empty
      spark.sql(s"DROP TABLE `${st.table("t")}`")
      val (again, n) = SparkTestSession.jobsIn("staged-spec-register")(
        Staged.tables(spark, st)(table).head)
      assert(n === 0, "re-registering a published staging ran a job")
      assert(builds === 2, "the build is analyzed once for its schema")
      assert(again.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b"), (3, "c")))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${st.table("t")}`")
      Seq(st.path, a).foreach(rm)
    }
  }

  private def numBuckets(table: String): Option[Int] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)

  test("a stage's bucket count is Spark's split count for its input bytes; its tables share it") {
    val sf = "/root/testdata/sf0.001"
    val conf = spark.sessionState.conf
    // FilePartition.maxSplitBytes over the stage's bytes, then the split count
    def rule(bytes: Long): Int = {
      val split = math.min(conf.filesMaxPartitionBytes, math.max(conf.filesOpenCostInBytes,
        bytes / spark.sparkContext.defaultParallelism))
      math.max(1L, math.min((bytes + split - 1) / split, conf.bucketingMaxBuckets.toLong)).toInt
    }
    assert(Staged.buckets(spark, 0L) === 1)
    assert(Staged.buckets(spark, 10L << 30) === rule(10L << 30))
    assert(rule(10L << 30) === 80, "10 GiB at 128 MiB splits")
    Seq(
      (QueriesRelational.q50Stage(sf), "q50_bucketed_join", Seq("lineitem", "orders")),
      (Stage("diffstage", sf, Seq("documents.parquet")), "x45_bucketed_snapshot_diff",
        Seq("old", "new"))).foreach { case (st, q, names) =>
      val bytes = st.inputs.map(in => new File(sf, in).length).sum
      assert(st.bytes === bytes)
      SparkEntry.queries(q)(spark, sf).count(): Unit
      names.foreach(t => assert(numBuckets(st.table(t)) === Some(rule(bytes)), s"$q $t"))
    }
  }

  test("a published staging laid out for another bucket count is restaged, not re-registered") {
    val a = source()
    val st = Stage("speclayout", a.toString, Seq("t"))
    def table = new Table("t", "k", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[(Int, String)].collect().toSet
    val splitKeys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    val prev = splitKeys.map(k => k -> spark.conf.getOption(k))
    // a 3-byte input: one bucket by default, three at 1-byte splits
    Files.write(Paths.get(a.toString, "t", "a.bin"), "xyz".getBytes)
    try {
      Staged.tables(spark, st)(table): Unit
      assert(numBuckets(st.table("t")) === Some(1))
      splitKeys.foreach(spark.conf.set(_, "1"))
      val three = Staged.tables(spark, st)(table).head
      assert(numBuckets(st.table("t")) === Some(3))
      assert(rows(three) === Set((1, "a"), (2, "b"), (3, "c")))
      splitKeys.foreach(spark.conf.unset)
      val one = Staged.tables(spark, st)(table).head
      assert(numBuckets(st.table("t")) === Some(1))
      assert(rows(one) === Set((1, "a"), (2, "b"), (3, "c")))
      assert(st.path.isDirectory)
    } finally {
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sql(s"DROP TABLE IF EXISTS `${st.table("t")}`")
      Seq(st.path, a).foreach(rm)
    }
  }
}
