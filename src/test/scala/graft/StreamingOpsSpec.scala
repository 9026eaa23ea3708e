package graft

import graft.streaming.{LocalCheckpointFileManager, StreamingOps}
import graft.streaming.StreamingOps.{SessionEvent, SessionSummary}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    QueriesRelational.tempDirCleanedOnExit(name).toString

  private val shuffleKey = SQLConf.SHUFFLE_PARTITIONS.key
  private val isolationKey = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key
  private val managerKey = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** A Complete-mode aggregate drained from a fresh staged copy of the
    * sf0.001 events table into `checkpoint`. */
  private def eventsDrain(name: String, checkpoint: String = ""): Unit = {
    val stage = java.nio.file.Path.of(tmp("events-drain"), "events.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf/events.parquet"), stage)
    val agg = spark.readStream
      .schema(spark.read.parquet(stage.toString).schema)
      .parquet(stage.getParent.toString)
      .filter(col("value") > 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"), max(col("user_id")).as("u"))
    StreamingOps.drainToMemory(agg, name,
      if (checkpoint.isEmpty) tmp(s"ckpt-$name") else checkpoint, OutputMode.Complete): Unit
  }

  test("a drain restores the settings it scopes exactly, an unset key unset") {
    val original = Seq(shuffleKey, isolationKey, managerKey).map(k => k -> spark.conf.getAll.get(k))
    val sparkDefault = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    try {
      // explicitly-set before: restored to that exact explicit value
      spark.conf.set(shuffleKey, "13")
      spark.conf.unset(isolationKey)
      spark.conf.set(managerKey, sparkDefault)
      eventsDrain("scoped_a")
      assert(spark.conf.getAll.get(shuffleKey) === Some("13"))
      // unset before: must come back UNSET (resolving to the session
      // default), never pinned to a materialized default value
      assert(spark.conf.getAll.get(isolationKey) === None,
        "an unset key must not be pinned by the restore")
      assert(spark.conf.getAll.get(managerKey) === Some(sparkDefault))
      spark.conf.unset(shuffleKey)
      spark.conf.set(isolationKey, "true")
      spark.conf.unset(managerKey)
      eventsDrain("scoped_b")
      assert(spark.conf.getAll.get(shuffleKey) === None)
      assert(spark.conf.getAll.get(isolationKey) === Some("true"))
      assert(spark.conf.getAll.get(managerKey) === None,
        "the checkpoint manager must not outlive the drain")
    } finally original.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("one x117 drain launches no process that names its checkpoint dir") {
    // Spark's default manager forks readlink per rename and Hadoop's local
    // file system chmod per created file, .crc and dir without libhadoop
    QueriesStreaming.x117_stream_mixture_drift(spark, sf).collect(): Unit
    val (_, forks) = SparkTestSession.forksIn(
      QueriesStreaming.x117_stream_mixture_drift(spark, sf).collect())
    val inCheckpoint = forks.filter(_.command.contains("graft-ckpt"))
    assert(inCheckpoint.isEmpty, s"${inCheckpoint.size} launches, first: " +
      inCheckpoint.take(3).mkString("; "))
  }

  test("drained checkpoint files keep their .crc sidecars and state checksums") {
    val ckpt = tmp("ckpt-crc")
    eventsDrain("crc", ckpt)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    // Hadoop's sidecar of `name` is `.name.crc`; Spark's state-store
    // checksum of `1.delta` is the file `1.delta.crc`, with a sidecar of its own
    val (sidecars, files) = walk(new java.io.File(ckpt))
      .partition(f => f.getName.startsWith(".") && f.getName.endsWith(".crc"))
    val missing = files.filterNot(f => new java.io.File(f.getParentFile, s".${f.getName}.crc").isFile)
    assert(files.exists(_.getPath.contains("/offsets/")) && files.exists(_.getPath.contains("/state/")))
    assert(missing.isEmpty, s"no .crc sidecar for: ${missing.mkString(", ")}")
    assert(sidecars.size === files.size)
    assert(files.exists(f => f.getPath.contains("/state/") && f.getName.endsWith(".delta.crc")),
      files.map(_.getPath.stripPrefix(ckpt)).sorted.mkString(" "))
  }

  test("only a checkpoint on the file scheme gets the local checkpoint manager") {
    val conf = spark.sessionState.newHadoopConf()
    val local = Some(classOf[LocalCheckpointFileManager].getName)
    assert(LocalCheckpointFileManager.forLocation(tmp("ckpt-scheme"), conf) === local)
    assert(LocalCheckpointFileManager.forLocation("file:///tmp/ckpt", conf) === local)
    assert(LocalCheckpointFileManager.forLocation("hdfs://namenode:8020/ckpt", conf) === None)
    // a path without a scheme takes the default file system's
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    assert(LocalCheckpointFileManager.forLocation("/ckpt", conf) === None)
    assert(LocalCheckpointFileManager.forLocation("file:///ckpt", conf) === local)
  }

  test("a drain over sf0.001 input writes exactly one state-partition dir") {
    // AQE's rule up front: ceil(sourceBytes / advisory size) = 1 for a
    // 28 KB table, whatever the session's shuffle partitions (4 here)
    val ckpt = tmp("ckpt-state-dirs")
    eventsDrain("state_dirs", ckpt)
    val parts = new java.io.File(ckpt, "state/0").listFiles()
      .filter(d => d.isDirectory && d.getName.forall(_.isDigit))
    assert(parts.map(_.getName).toSeq === Seq("0"))
  }

  test("a second identical drain compiles no class") {
    eventsDrain("compile_first")
    val (_, compiles) = SparkTestSession.compilesIn(eventsDrain("compile_second"))
    assert(compiles === 0L,
      "a drain of the same shape must reuse the first drain's generated classes")
  }

  test("a batch query's generated classes survive 12 drains: it recompiles nothing") {
    def batch() = spark.range(0, 5000)
      .selectExpr("id % 13 AS k", "id * 3 AS v", "CAST(id AS STRING) AS s")
      .filter(col("v") > 7)
      .groupBy(col("k")).agg(sum(col("v")), max(col("s")), count(lit(1)))
      .collect()
    batch(): Unit
    (1 to 12).foreach(i => eventsDrain(s"evict_$i"))
    val (_, compiles) = SparkTestSession.compilesIn(batch())
    assert(compiles === 0L,
      "drains must not push a batch query's classes out of the codegen cache")
  }

  test("a second x117 call compiles no class: its side session shares the executor classloader") {
    QueriesStreaming.x117_stream_mixture_drift(spark, sf).collect(): Unit
    val (_, compiles) = SparkTestSession.compilesIn(
      QueriesStreaming.x117_stream_mixture_drift(spark, sf).collect())
    assert(compiles === 0L, "the standing aggregate or the drain recompiled its classes")
  }

  test("src/main adds no session artifacts (drains share the executor classloader)") {
    // the drains turn artifact isolation off for their cloned sessions;
    // that is only equivalent while no session ever adds an artifact
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val call = """\.(addArtifacts?|addJar)\s*\(""".r
    val offenders = walk(new java.io.File("src/main")).filter(_.getName.endsWith(".scala"))
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try call.findFirstIn(src.mkString).isDefined finally src.close()
      }
    assert(offenders.isEmpty, s"session artifacts added in: ${offenders.mkString(", ")}")
  }

  test("x117 restages a documents table rewritten in place: the drain sees the new delta") {
    import graft.text.TextOps
    val ds = tmp("x117-rewrite")
    val docs = java.nio.file.Path.of(ds, "documents.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf/documents.parquet"), docs)
    def drained(): Map[String, Long] = QueriesStreaming.x117_stream_mixture_drift(spark, ds)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n_delta")).toMap
    // the batch twin: tokens of the delta documents (ids ≡7 mod 10) per source
    def expected(): Map[String, Long] = Tables.documents(spark, ds)
      .select(col("source"), col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("source"))
      .agg(sum(when(pmod(col("doc_id"), lit(10)) === 7, 1L).otherwise(0L)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = drained()
    assert(before === expected())
    // rewrite the table in place: every delta document's text doubled
    val out = tmp("x117-rewrite-out")
    Tables.documents(spark, ds)
      .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 7,
        concat_ws(" ", col("text"), col("text"))).otherwise(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, docs,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val after = drained()
    assert(after === expected())
    assert(after !== before, "the rewritten delta must change the drained counts")
    // the stage of a throwaway dataset is never evicted by a later run
    val stage = graft.ops.Staged.Stage("docsdelta", ds, Seq("documents.parquet")).path
    assert(stage.isDirectory)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  test("drains close their state stores: checksum threads stay flat over 20 x117 drains") {
    import scala.jdk.CollectionConverters._
    def checksumThreads(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("ChecksumCheckpointFileManager-Thread-"))
    QueriesStreaming.x117_stream_mixture_drift(spark, sf).collect(): Unit
    val before = checksumThreads()
    (1 to 20).foreach(_ => QueriesStreaming.x117_stream_mixture_drift(spark, sf).collect())
    val after = checksumThreads()
    assert(after <= before, s"checksum threads grew from $before to $after over 20 drains")
  }

  test("x117 on a delta-empty corpus matches the DuckDB oracle: NULL delta shares") {
    // the variant is written by DuckDB itself (every doc_id ≡7 mod 10
    // dropped), and the oracle runs over the same file; `//` by a zero
    // delta total is NULL there, so the fold must not raise DIVIDE_BY_ZERO
    val ds = tmp("x117-no-delta")
    val script =
      s"""import duckdb, sys
         |con = duckdb.connect()
         |con.execute("COPY (SELECT * FROM read_parquet('$sf/documents.parquet') "
         |  "WHERE doc_id % 10 <> 7) TO '$ds/documents.parquet' (FORMAT parquet)")
         |con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('$ds/documents.parquet')")
         |for r in con.execute(sys.stdin.read()).fetchall():
         |    print("\\t".join("NULL" if v is None else str(v) for v in r))
         |""".stripMargin
    val oracle = try {
      val p = new ProcessBuilder("python3", "-c", script).redirectErrorStream(true).start()
      p.getOutputStream.write(QueriesStreaming.x117Oracle.getBytes("UTF-8"))
      p.getOutputStream.close()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assume(p.waitFor() == 0, s"no DuckDB to build the variant with: $out")
      out.linesIterator.filter(_.nonEmpty).map(_.split("\t", -1).toSeq).toSet
    } catch { case e: java.io.IOException => cancel(s"no python3: $e") }
    val got = QueriesStreaming.x117_stream_mixture_drift(spark, ds).collect()
      .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString)).toSet
    assert(oracle.nonEmpty && oracle.forall(_(3) == "NULL"), oracle.mkString("\n"))
    assert(got === oracle)
    val stage = graft.ops.Staged.Stage("docsdelta", ds, Seq("documents.parquet")).path
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  test("windowed aggregation with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingOps.windowedAgg(events, "ts", "event_type", "10 minutes",
      watermarkDelay = "5 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("win_out")
      .option("checkpointLocation", tmp("ckpt-win")).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (ts("2024-01-01 00:01:00"), "click", 1.0),
      (ts("2024-01-01 00:04:00"), "click", 2.0),
      (ts("2024-01-01 00:11:00"), "view", 5.0))
    q.processAllAvailable()
    // advance the watermark far enough to close the first windows
    input.addData((ts("2024-01-01 01:00:00"), "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .select("window_start", "event_type", "n", "total_value").collect()
    q.stop()
    val byKey = rows.map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(byKey(("2024-01-01 00:00:00.0", "click")) === (2L, 3.0))
    assert(byKey(("2024-01-01 00:10:00.0", "view")) === (1L, 5.0))
  }

  test("sessionize closes sessions on inactivity gap within a batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = StreamingOps.sessionize(input.toDS(), gap = 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", tmp("ckpt-sess")).start()
    // user 1: two events 10s apart (one session), then a 5-minute gap and
    // another event -> first session closes when the later batch arrives
    input.addData(
      SessionEvent(1L, 1000L, 1.0),
      SessionEvent(1L, 11000L, 2.0),
      SessionEvent(1L, 400000L, 3.0))
    q.processAllAvailable()
    val closed = spark.table("sess_out").as[SessionSummary].collect()
    q.stop()
    assert(closed.length === 1)
    assert(closed.head === SessionSummary(1L, 1000L, 11000L, 2L, 3.0))
  }

  test("sessionize: a late cross-batch event extends the session backward, never regresses it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = StreamingOps.sessionize(input.toDS(), gap = 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_late_out")
      .option("checkpointLocation", tmp("ckpt-sess-late")).start()
    // batch 1: session at t=100000..110000
    input.addData(SessionEvent(7L, 100000L, 1.0), SessionEvent(7L, 110000L, 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event inside [start-gap, last+gap] must merge on the
    // low end (start := min) without regressing `last`
    input.addData(SessionEvent(7L, 60000L, 1.0))
    q.processAllAvailable()
    // batch 3: an event past last+gap closes the (extended) session
    input.addData(SessionEvent(7L, 500000L, 9.0))
    q.processAllAvailable()
    val closed = spark.table("sess_late_out").as[SessionSummary].collect()
    q.stop()
    assert(closed.length === 1)
    assert(closed.head === SessionSummary(7L, 60000L, 110000L, 3L, 3.0),
      "late event must extend start and keep end — end < start means state regressed")
  }

  test("sessionize rejects EventTimeTimeout up front (ms-epoch vs caller-unit mismatch)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val e = intercept[IllegalArgumentException] {
      StreamingOps.sessionize(input.toDS(), gap = 1000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)
    }
    assert(e.getMessage.contains("EventTimeTimeout"))
  }

  test("toPartitionedParquet writes a date-partitioned streaming sink") {
    val stage = java.nio.file.Path.of(tmp("events-psink"), "events.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf/events.parquet"), stage)
    val raw = spark.readStream
      .schema(spark.read.parquet(stage.toString).schema)
      .parquet(stage.getParent.toString)
    val withDay = Tables.withEventTimeCols(raw)
      .withColumn("day", to_date(col("ts_t")))
      .select("event_id", "user_id", "value", "day")
    val out = tmp("psink-out")
    StreamingOps.toPartitionedParquet(withDay, out, tmp("ckpt-psink"), Seq("day"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_ == "_spark_metadata") // the sink's transaction log
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("day=")),
      s"expected hive day= partitions, got ${dirs.mkString(",")}")
    val expected = spark.read.parquet(s"$sf/events.parquet").count()
    assert(spark.read.parquet(out).count() === expected)
  }

  test("state-store floor audit: q60/x112 state holds exactly the live groups, no residue") {
    // the r14 verdict's item 5: the two multi-second streaming floors
    // (x112 4.0 s, q60 2.2–3.2 s) are documented STATE-STORE STARTUP
    // floors, not per-row state growth. This audit pins that as a
    // measured contract via drainToMemory's state-row capture:
    //  - x112 (Complete-mode per-term aggregate): the store must hold
    //    EXACTLY one register per live (term, df_c) group — i.e. the
    //    state row count equals the output row count, at BOTH SFs. A
    //    leak (residue from dropped groups, duplicated registers)
    //    breaks the equality immediately.
    //  - q60 (watermarked stream-stream join): state is bounded by
    //    the two sides' retained tails — never more than the total
    //    view+click volume, and strictly positive (an empty store
    //    would mean the join never buffered, i.e. the test lost its
    //    subject).
    import graft.streaming.StreamingOps
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ledger = SparkEntry.queries("x112_stream_index_ledger")(spark, sf)
      val outRows = ledger.count()
      assert(StreamingOps.lastDrainStateRows === outRows,
        s"x112 state rows != live groups at $sf — per-group residue")
      val joined = SparkEntry.queries("q60_stream_stream_join")(spark, sf)
      joined.count(): Unit
      val vc = Tables.events(spark, sf)
        .filter(col("event_type").isin("view", "click")).count()
      assert(StreamingOps.lastDrainStateRows > 0L,
        s"q60 join state empty at $sf")
      assert(StreamingOps.lastDrainStateRows <= vc,
        s"q60 join state exceeds the view+click volume at $sf — " +
          "rows are being retained more than once")
    }
  }

  test("x117: streaming mixture drift is a zero-sum ppm balance over bounded state") {
    val rows = QueriesStreaming
      .x117_stream_mixture_drift(spark, sf).collect()
    assert(rows.length > 1, "need several sources to monitor")
    // both share columns are normalized mixtures (truncation band), so
    // the drift column must sum inside ±|sources| of zero
    val dSum = rows.map(_.getAs[Long]("delta_ppm")).sum
    val sSum = rows.map(_.getAs[Long]("standing_ppm")).sum
    val drift = rows.map(_.getAs[Long]("drift_ppm")).sum
    assert(dSum <= 1000000L && dSum > 1000000L - rows.length)
    assert(sSum <= 1000000L && sSum > 1000000L - rows.length)
    assert(math.abs(drift) < rows.length.toLong,
      s"drift must be zero-sum up to truncation, got $drift")
    // per-row identity: drift is exactly the share difference
    rows.foreach { r =>
      assert(r.getAs[Long]("drift_ppm") ===
        r.getAs[Long]("delta_ppm") - r.getAs[Long]("standing_ppm"))
    }
  }

  test("AvailableNow drains the events table as an incremental batch") {
    // FileStreamSource needs a directory: stage the events file into one
    val stage = java.nio.file.Path.of(tmp("events-stage"), "events.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf/events.parquet"), stage)
    val raw = spark.readStream
      .schema(spark.read.parquet(stage.toString).schema)
      .parquet(stage.getParent.toString)
    val out = raw.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val drained = StreamingOps.drainToMemory(out, "drain_out", tmp("ckpt-drain"))
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "purchase").count()
    assert(drained.count() === expected)
    assert(expected > 0)
  }
}
