package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.execution.streaming.state.StateStoreRelease
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming face of the incremental semantics (SURVEY.md §2.7).
  *
  * The reference has no true streams — its "streaming-shaped" features are
  * watermark variables, processed-flag handshakes and sync logs. Here those
  * become, respectively: event-time watermarks, checkpointed source
  * offsets, and streaming sinks; `Trigger.AvailableNow` turns the same
  * topology into the reference's incremental batch (drain everything new,
  * then stop — exactly the watermark-fetch + filter loop of
  * InventorySync.dtsx:58-63).
  */
object StreamingOps {

  /** File-based incremental source: processes whatever is new under
    * `path`, tracked by the checkpoint — the Structured-Streaming twin of
    * the `WHERE ModifiedDate >= ?` watermark pattern. */
  def fileStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Tumbling/sliding window aggregation with a watermark for late data:
    * counts + sum(`valueCol`) per (window, key). */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
      windowDur: String, slideDur: Option[String] = None,
      watermarkDelay: String = "10 minutes", valueCol: String = "value"): DataFrame = {
    val win = slideDur.fold(window(col(tsCol), windowDur))(s => window(col(tsCol), windowDur, s))
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(win.as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("n"), col("total_value"))
  }

  final case class SessionEvent(userId: Long, tsMs: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class SessionSummary(userId: Long, sessionStartMs: Long, sessionEndMs: Long,
      nEvents: Long, totalValue: Double)

  /** Custom session windows via flatMapGroupsWithState: a session closes
    * after `gap` of inactivity — either when a later event arrives past
    * the gap, or (with `ProcessingTimeTimeout`, the production setting) via
    * a state timeout between micro-batches. The KeyValueGroupedDataset
    * path — the state store scales per-key, not per-executor.
    *
    * Units: `gap` is in the SAME unit as `SessionEvent.tsMs` (the gated
    * q44 passes µs). The processing-time timeout is WALL-CLOCK
    * milliseconds — a different clock entirely — so it has its own
    * parameter rather than reusing `gap` (reusing a µs gap as a ms
    * duration would arm a 1000× too-long timeout and closed sessions
    * would never flush between micro-batches).
    *
    * Out-of-order events ACROSS micro-batches: an event inside
    * `[start − gap, last + gap]` extends the session on BOTH ends
    * (start := min, last := max — `last` must never regress, which would
    * emit sessions with end < start); an event past `last + gap` closes
    * the session and starts a new one; an event older than `start − gap`
    * is emitted as its own already-closed session (nothing newer can
    * merge with it). In-batch events are sorted first, so a bounded
    * in-order drain (q44's gate path) reproduces the batch session
    * algebra exactly.
    *
    * Pass `NoTimeout` when draining bounded input (a timeout-driven query
    * never quiesces under `processAllAvailable`). `EventTimeTimeout` is
    * rejected up front: the state API's timeout timestamp is a ms-epoch
    * value against the stream's watermark, while `tsMs`'s unit is
    * caller-defined — a silent unit mismatch there loses state forever. */
  def sessionize(events: Dataset[SessionEvent], gap: Long,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout,
      processingTimeoutMs: Long = 60000L): Dataset[SessionSummary] = {
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "EventTimeTimeout is unsupported: the state timeout timestamp is ms-epoch " +
        "against the stream watermark while tsMs's unit is caller-defined; " +
        "use ProcessingTimeTimeout (wall-clock flush) or NoTimeout (close by gap)")
    import events.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, timeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionSummary(userId, s.start, s.last, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.tsMs)
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.tsMs >= s.start - gap && e.tsMs <= s.last + gap =>
                  cur = Some(SessionState(
                    math.min(s.start, e.tsMs), math.max(s.last, e.tsMs),
                    s.n + 1, s.total + e.value))
                case Some(s) if e.tsMs > s.last + gap =>
                  closed ::= SessionSummary(userId, s.start, s.last, s.n, s.total)
                  cur = Some(SessionState(e.tsMs, e.tsMs, 1, e.value))
                case Some(_) => // older than start − gap: late loner, already closed
                  closed ::= SessionSummary(userId, e.tsMs, e.tsMs, 1, e.value)
                case None =>
                  cur = Some(SessionState(e.tsMs, e.tsMs, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(processingTimeoutMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Peak state-store row count (summed across the last drain's
    * stateful operators, max over its microbatches) — the
    * state-growth audit surface: a Complete-mode aggregate must hold
    * exactly one register per live group, a watermarked join at most
    * its watermark-deep tail. 0 after a stateless drain, -1 before the
    * first drain or after one that ran no batch. Written by [[drain]];
    * read by StreamingOpsSpec's floor audit. NOT thread-safe (like
    * [[drain]] — callers are the serial gate/bench paths). */
  @volatile private[graft] var lastDrainStateRows: Long = -1L

  /** Run a streaming frame to completion over existing data and stop —
    * incremental-batch semantics (`Trigger.AvailableNow`, through
    * [[drain]]). Results land in an in-memory table named `queryName`,
    * which is returned. */
  def drainToMemory(df: DataFrame, queryName: String, checkpoint: String,
      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    // re-running under the same name must not accumulate driver memory:
    // drop the previous drain's memory table (a terminated query has
    // already freed the query name)
    df.sparkSession.catalog.dropTempView(queryName): Unit
    drain(df, checkpoint, df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName))
    df.sparkSession.table(queryName)
  }

  /** Drain a streaming frame into partitioned parquet — the production
    * write path (date-partitioned sinks are the 100 TB posture; partition
    * pruning on read comes free). Runs through [[drain]]. */
  def toPartitionedParquet(df: DataFrame, path: String, checkpoint: String,
      partitionCols: Seq[String]): Unit =
    drain(df, checkpoint, df.writeStream
      .format("parquet")
      .option("path", path)
      .partitionBy(partitionCols: _*))

  /** A session for work that runs alongside a drain from another driver
    * thread. It is a new session, so the settings [[drain]] scopes on the
    * caller's session never reach it, and like the drain's own clone it
    * runs on the executors' shared classloader: with artifact isolation on,
    * a new session's artifact state puts its tasks on a new classloader,
    * and every generated class is compiled again. */
  def sideSession(spark: SparkSession): SparkSession = {
    val side = spark.newSession()
    side.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
    side
  }

  /** The one start path of a bounded drain: starts `writer` (over `df`,
    * checkpointed at `checkpoint`) with `Trigger.AvailableNow`, waits for
    * it to end, closes the state stores it loaded (`StateStoreRelease`:
    * their checksum thread pools would otherwise outlive the query) and
    * records [[lastDrainStateRows]].
    *
    * The stream runs on a session cloned from this one at `start()`, so
    * three session settings are scoped around the start and the wait, each
    * restored exactly afterwards (an unset key comes back unset):
    *
    *  - `spark.sql.artifact.isolation.enabled = false`: the clone then
    *    runs its tasks on the executors' shared classloader instead of a
    *    new per-session one. Spark's codegen cache is keyed by
    *    (classloader, code), so a later drain of the same shape compiles
    *    nothing, and a drain no longer evicts batch queries' classes from
    *    the cache. Precondition: this program adds no session artifacts
    *    (no `addArtifact`/`addJar`), so both loaders see the same classes;
    *    StreamingOpsSpec pins it. No check or checksum is disabled.
    *  - `spark.sql.shuffle.partitions` = [[statePartitions]]`(df)`: the
    *    state-store count is fixed at a query's first start, and every
    *    store is a task with its own checkpoint and checksum files (and a
    *    four-thread checksum pool while it is loaded), so the count is
    *    sized to the drain's input.
    *  - `spark.sql.streaming.checkpointFileManagerClass` =
    *    [[LocalCheckpointFileManager]] for a checkpoint on the `file` scheme:
    *    every drain writes a fresh checkpoint, and Spark's default manager
    *    launches processes for each file it writes there. Scoped, so a
    *    user's own streams and other file systems keep Spark's default.
    *
    * NOT thread-safe — the session conf is global; callers are the serial
    * gate/bench paths. */
  private def drain(df: DataFrame, checkpoint: String, writer: DataStreamWriter[Row]): Unit = {
    val manager = LocalCheckpointFileManager.forLocation(checkpoint,
      df.sparkSession.sessionState.newHadoopConf())
    withConfs(df.sparkSession, Seq(
        SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false",
        SQLConf.SHUFFLE_PARTITIONS.key -> statePartitions(df).toString) ++
      manager.map(SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key -> _)) {
      val q = writer.option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally StateStoreRelease.close(q)
      lastDrainStateRows = q.recentProgress.toSeq
        .map(_.stateOperators.map(_.numRowsTotal).sum)
        .foldLeft(-1L)(math.max)
    }
  }

  /** State partitions for a drain of `df`: AQE's partition-coalescing
    * rule, applied up front because AQE is off for streaming —
    * `clamp(ceil(sourceBytes / advisoryPartitionSizeInBytes), 1, session
    * shuffle partitions)`, where `sourceBytes` is the size of every file
    * source the plan reads, streamed or static. */
  private def statePartitions(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val wanted = (sourceBytes(df) + advisory - 1) / advisory
    math.max(1L, math.min(wanted, conf.defaultNumShufflePartitions.toLong)).toInt
  }

  private def sourceBytes(df: DataFrame): Long = {
    lazy val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    def pathBytes(p: String): Long = {
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      Option(fs.globStatus(path)).getOrElse(Array.empty)
        .map(s => fs.getContentSummary(s.getPath).getLength).sum
    }
    df.queryExecution.analyzed.collect {
      case StreamingRelation(ds, _, _) =>
        (ds.paths ++ ds.options.collect { case (k, v) if k.equalsIgnoreCase("path") => v })
          .distinct.map(pathBytes).sum
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.sizeInBytes
        case _ => 0L
      }
    }.sum
  }

  /** Runs `body` with each of `settings` set on the session, then
    * restores every key exactly. */
  private def withConfs[A](spark: SparkSession, settings: Seq[(String, String)])(body: => A): A = {
    // getAll carries only EXPLICIT settings — conf.get would materialize
    // the registered default and the restore would then pin a value for a
    // key the caller never set, subtly changing later conf resolution; an
    // unset key must be restored by unsetting it
    val explicit = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
