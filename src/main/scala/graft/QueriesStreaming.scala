package graft

import java.util.concurrent.{ExecutionException, FutureTask}

import graft.ops.Staged
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{SessionEvent, SessionSummary}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming queries in the correctness gate (SURVEY.md §2.7).
  *
  * The reference's incremental semantics (watermark fetch + filter,
  * processed-flag handshake — InventorySync.dtsx:58-63,107-118) map to
  * Structured Streaming with `Trigger.AvailableNow`: drain everything the
  * checkpoint hasn't seen, then stop. These two queries run that REAL
  * streaming path — FileStreamSource → watermark/state → memory sink —
  * over the events table and are held to the same DuckDB oracle as their
  * batch twins, proving stream/batch parity end-to-end:
  *
  *  - q43: windowed aggregate (Complete mode) ≡ the batch q30 tumbling
  *    window — identical oracle SQL;
  *  - q44: `flatMapGroupsWithState` sessionization. A streaming
  *    sessionizer only ever EMITS closed sessions (each user's last
  *    session stays open in the state store waiting for more events), so
  *    the oracle is the batch q29 sessionization minus each user's final
  *    session — the honest streaming contract, encoded in SQL.
  *
  * Exactness: event-time boundaries are epoch-µs integers; session values
  * fold in the state as decimal-scaled integers carried in a Double
  * (exact for |v| < 2⁵³), so the sum is order-independent and the final
  * divide-by-10⁴ lands on the identical float64 the oracle's
  * SUM(DECIMAL)::DOUBLE produces.
  */
object QueriesStreaming {

  /** FileStreamSource lists directories; the testdata table is a single
    * parquet file — stage a copy (driver-local, one file) and stream it.
    * In production this is just `readStream.parquet(tableDir)`.
    * `copies > 1` stages the SAME file that many times — a deliberately
    * duplicated (at-least-once) stream for the dedup gate (q55).
    * The copy is a [[graft.ops.Staged]] artifact keyed on the table's
    * content: bench iteration loops must not re-copy the file per call or
    * bill that I/O to the measured run, and a rewritten table restages.
    * The event-time derivation is Tables.withEventTimeCols — the SAME
    * definition the batch twins read through (parity is the gate). */
  private def eventsStream(spark: SparkSession, dir: String,
      copies: Int = 1): DataFrame = {
    // same best-effort legacy enablement as Tables.eventsNs: ≤4.0 needs it
    // to read TIMESTAMP(NANOS) at all; 4.1+ ignores it (schema dispatch in
    // withEventTimeCols handles both read shapes)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = java.nio.file.Path.of(s"$dir/events.parquet")
    val stage = Staged.artifact(Staged.Stage(s"eventstream$copies", dir,
        Seq("events.parquet"))) { p =>
      (1 to copies).foreach(i =>
        java.nio.file.Files.copy(src, java.nio.file.Path.of(p, s"events_$i.parquet")))
    }
    val schema = Tables.open(spark, src.toString).schema
    Tables.withEventTimeCols(StreamingOps.fileStream(spark, stage, schema))
  }

  private def ckpt(): String =
    QueriesRelational.tempDirCleanedOnExit("graft-ckpt").toString

  /** Streaming tumbling-window aggregate over the drained events stream —
    * same windows, same exact-decimal sums, same oracle as batch q30. */
  def q43_stream_windowed_agg(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
      .withColumn("value", col("value").cast(DecimalType(18, 4)))
    val agg = StreamingOps.windowedAgg(ev, "ts_t", "event_type", "1 hour")
    val name = "q43_out"
    // Complete mode: every window emits at drain end (Append would hold
    // back windows the final watermark hasn't passed — unobservable here)
    StreamingOps.drainToMemory(agg, name, ckpt(), OutputMode.Complete)
      .select(
        unix_micros(col("window_start")).as("window_start_us"),
        unix_micros(col("window_end")).as("window_end_us"),
        col("event_type"),
        col("n").as("n_events"),
        col("total_value").cast(DoubleType).as("total_value"))
  }

  val q43Oracle: String =
    """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
      |  epoch_us(ts) - epoch_us(ts) % 3600000000 + 3600000000 AS window_end_us,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** Streaming sessionization (30-minute inactivity gap) through the
    * keyed state store. Emitted rows are the CLOSED sessions; the oracle
    * reproduces the batch session algebra and drops each user's final
    * (still-open) session. */
  def q44_stream_sessionization(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000
    val ev = eventsStream(spark, dir)
      .select(
        col("user_id").as("userId"),
        col("ts_us").as("tsMs"), // µs carried through; gap is µs too
        // decimal(18,4)-scaled integer in a Double: exact, order-free fold
        (col("value").cast(DecimalType(18, 4)) * 10000)
          .cast(LongType).cast(DoubleType).as("value"))
      .as[SessionEvent]
    // NoTimeout: bounded drain — sessions close via the gap rule only
    val sessions = StreamingOps.sessionize(ev, gap = gapUs,
      timeout = GroupStateTimeout.NoTimeout)
    val name = "q44_out"
    StreamingOps.drainToMemory(sessions.toDF(), name, ckpt())
      .select(
        col("userId").as("user_id"),
        col("sessionStartMs").as("session_start_us"),
        col("sessionEndMs").as("session_end_us"),
        col("nEvents").as("n_events"),
        (col("totalValue") / 10000.0).as("total_value"))
  }

  val q44Oracle: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    CAST(value AS DECIMAL(18,4)) AS v,
      |    CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL THEN 1
      |         WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sessions AS (
      |  SELECT user_id, event_id, t, v,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged),
      |rolled AS (
      |  SELECT user_id, session_id,
      |    MIN(t) AS session_start_us, MAX(t) AS session_end_us,
      |    COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total_value
      |  FROM sessions GROUP BY user_id, session_id)
      |SELECT user_id, session_start_us, session_end_us, n_events, total_value
      |FROM rolled
      |QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)""".stripMargin

  /** Streaming exactly-once restore over an AT-LEAST-ONCE source: the
    * staged stream contains every event TWICE (two copies of the file —
    * the replayed-batch / overlapping-extract shape), and state-store
    * dedup on the event key must restore exactly-once delivery: the
    * drained result hash-matches ONE plain read of the table. Gate uses
    * unbounded `dropDuplicates` state for exactness; the 100 TB
    * deployment bounds the same state with
    * `dropDuplicatesWithinWatermark` once duplicates are known to arrive
    * within the watermark delay (keys then age out of the store). */
  def q55_stream_dedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir, copies = 2).dropDuplicates("event_id")
    val name = "q55_out"
    StreamingOps.drainToMemory(deduped, name, ckpt())
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"))
  }

  val q55Oracle: String =
    """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
      |FROM events""".stripMargin

  /** Watermarked STREAM-STREAM inner join — view→click attribution: each
    * click joins the views of the SAME user in the preceding 10 minutes.
    * Both sides carry event-time watermarks and the join condition bounds
    * event-time distance, so each side's state store retains only the
    * watermark-deep tail — the bounded-state contract that makes a
    * stream-stream join run forever at 100 TB/day (an unbounded-state
    * join would be rejected by Spark's unsupported-operation check in
    * Append mode). Oracle: the identical time-range self-join in batch
    * SQL — the drained stream must reproduce it exactly. */
  def q60_stream_stream_join(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts_us").as("v_us"), col("ts_t").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_us").as("c_us"), col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
    val name = "q60_out"
    StreamingOps.drainToMemory(joined.toDF(), name, ckpt())
      .select(col("view_id"), col("click_id"), col("v_user").as("user_id"),
        (col("c_us") - col("v_us")).as("gap_us"))
  }

  val q60Oracle: String =
    """SELECT v.event_id AS view_id, c.event_id AS click_id,
      |  v.user_id, epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND epoch_us(c.ts) >= epoch_us(v.ts)
      | AND epoch_us(c.ts) <= epoch_us(v.ts) + 600000000""".stripMargin

  /** q55 with BOUNDED dedup state: `dropDuplicatesWithinWatermark` —
    * plain `dropDuplicates` on a stream keeps every key it has ever
    * seen in the state store (unbounded growth: the shape that dies on
    * a 100 TB/day firehose); the watermarked variant expires key state
    * once the event-time watermark passes, so the store holds only the
    * watermark-deep tail. The dedup guarantee narrows to duplicates
    * arriving within the delay — exactly the at-least-once-delivery
    * window real sources (Kafka redelivery, file-source re-lists)
    * produce, and what the duplicated staging here replays. Same oracle
    * as q55: the drained result must be the exact single-copy table. */
  def q69_stream_dedup_bounded(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir, copies = 2)
      .withWatermark("ts_t", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    StreamingOps.drainToMemory(deduped, "q69_out", ckpt())
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"))
  }

  val q69Oracle: String =
    """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
      |FROM events""".stripMargin

  /** Streaming incremental-ingest dedup — the STREAM-STATIC join shape
    * (the one streaming join variant q60's stream-stream coverage
    * misses): the arriving document delta anti-joins the standing
    * corpus's fingerprint index (static side, stateless row-at-a-time
    * probe — no state store grows with the corpus), then a Complete-mode
    * aggregate keeps the min-id survivor per new fingerprint. This is
    * x42's incremental-dedup contract run as a continuous ingest
    * pipeline: at 100 TB the static side is the bucketed corpus index,
    * the stream is the crawl firehose, and per-microbatch work scales
    * with the delta only. Output is deterministic regardless of file
    * arrival order (min/count are order-blind), which is what makes the
    * streaming run oracle-checkable against batch SQL. */
  def q67_stream_delta_dedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val key = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)))
    val corpusIdx = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(key.as("fp")).distinct()
    val delta = docsDeltaStream(spark, dir).select(col("doc_id"), key.as("fp"))
    val survivors = delta
      .join(corpusIdx, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
    StreamingOps.drainToMemory(survivors, "q67_out", ckpt(), OutputMode.Complete)
  }

  /** The x40/x42 document delta (ids ≡7 mod 10) for the
    * FileStreamSource, staged as [[eventsStream]]'s copy is. */
  private def docsDeltaStream(spark: SparkSession, dir: String): DataFrame = {
    val stage = Staged.artifact(Staged.Stage("docsdelta", dir, Seq("documents.parquet"))) { p =>
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(10)) === 7)
        .write.mode("overwrite").parquet(p)
    }
    val schema = Tables.open(spark, stage).schema
    StreamingOps.fileStream(spark, stage, schema)
  }

  val q67Oracle: String =
    """WITH k AS (
      |  SELECT doc_id, md5(array_to_string((string_split_regex(text,'\s+'))[1:5], ' ')) AS fp
      |  FROM documents),
      |c AS (SELECT DISTINCT fp FROM k WHERE doc_id % 10 <> 7)
      |SELECT fp, MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
      |FROM k WHERE doc_id % 10 = 7 AND fp NOT IN (SELECT fp FROM c)
      |GROUP BY fp""".stripMargin

  /** Streaming CDC COMPACTION — the state-store half of the q80 story:
    * a two-wave I/U/D change feed (wave 1 = the q78 feed, wave 2 = a
    * later +5 balance correction for every key ≡0 mod 7, overlapping
    * wave-1 keys) streams through a Complete-mode latest-op-wins
    * aggregate: `max(struct(seq, …))` per key is the Kafka-compaction /
    * CDC-materialization semantics, and because max is order-blind the
    * drained table is deterministic regardless of how the file source
    * batches arrivals — which is what makes it oracle-checkable.
    * Scale shape: state is ONE struct row per changed key (never the
    * feed), the aggregate partial-combines per microbatch, and the
    * compacted current-state table is exactly what a downstream q80-style
    * apply joins against. */
  def q81_stream_cdc_compaction(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagedCdcFeed(spark, dir)
    val schema = Tables.open(spark, stage).schema
    val compacted = StreamingOps.fileStream(spark, stage, schema)
      .groupBy(col("c_custkey"))
      .agg(max(struct(col("seq"), col("op"), col("c_name"), col("c_acctbal")))
        .as("last"))
      .select(col("c_custkey"), col("last.op").as("op"),
        col("last.c_name").as("c_name"),
        col("last.c_acctbal").cast(DoubleType).as("c_acctbal"))
    StreamingOps.drainToMemory(compacted, "q81_out", ckpt(), OutputMode.Complete)
  }

  /** Two-wave CDC feed parquet for the FileStreamSource, staged as
    * [[eventsStream]]'s copy is. seq is the change-log order; keys may
    * appear in both waves. */
  private def stagedCdcFeed(spark: SparkSession, dir: String): String = {
    val money = DecimalType(12, 2)
    Staged.artifact(Staged.Stage("cdcfeed", dir, Seq("customer.parquet"))) { p =>
      val cust = Tables.customer(spark, dir).select(col("c_custkey"),
        col("c_name"), col("c_acctbal").cast(money).as("c_acctbal"))
      val base = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 7)
      val w1 = cust.filter(pmod(col("c_custkey"), lit(10)) === 7)
        .withColumn("op", lit("I"))
        .unionByName(base.filter(pmod(col("c_custkey"), lit(13)) === 0)
          .withColumn("op", lit("D")))
        .unionByName(base
          .filter(pmod(col("c_custkey"), lit(11)) === 0 &&
            pmod(col("c_custkey"), lit(13)) =!= 0)
          .withColumn("c_acctbal", (col("c_acctbal") + lit(10)).cast(money))
          .withColumn("op", lit("U")))
        .withColumn("seq", lit(1))
      val w2 = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .withColumn("c_acctbal", (col("c_acctbal") + lit(5)).cast(money))
        .withColumn("op", lit("U"))
        .withColumn("seq", lit(2))
      w1.unionByName(w2).write.mode("overwrite").parquet(p)
    }
  }

  val q81Oracle: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal
      |  FROM customer),
      |base AS (SELECT * FROM cust WHERE c_custkey % 10 <> 7),
      |feed AS (
      |  SELECT c_custkey, c_name, c_acctbal, 'I' AS op, 1 AS seq
      |  FROM cust WHERE c_custkey % 10 = 7
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, 'D', 1 FROM base WHERE c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal + 10 AS DECIMAL(12,2)), 'U', 1
      |  FROM base WHERE c_custkey % 11 = 0 AND c_custkey % 13 <> 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal + 5 AS DECIMAL(12,2)), 'U', 2
      |  FROM cust WHERE c_custkey % 7 = 0),
      |last AS (
      |  SELECT c_custkey, op, c_name, c_acctbal,
      |    row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
      |  FROM feed)
      |SELECT c_custkey, op, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
      |FROM last WHERE rn = 1""".stripMargin

  /** The production streaming WRITE path in the gate — q55/q69 drain to
    * a memory sink; this drains the events stream through
    * [[StreamingOps.toPartitionedParquet]] into a day-partitioned
    * parquet sink (exactly-once via the sink's `_spark_metadata`
    * transaction log) and gates the READ-BACK of the sink against the
    * plain-table oracle: files, partitions and the commit protocol are
    * all on the hash path, not just the in-memory rows. Fresh sink +
    * checkpoint per call — the write cost IS the measured surface.
    * Scale shape: a date-partitioned sink is the 100 TB posture (readers
    * prune by day for free); the drain itself is stateless (no
    * aggregation state), so partitions size to the write parallelism. */
  def q84_stream_partitioned_sink(spark: SparkSession, dir: String): DataFrame = {
    val out = QueriesRelational.tempDirCleanedOnExit("graft-psink").toString
    val src = eventsStream(spark, dir)
      // tz-INDEPENDENT partition day (the 816a44c convention): integer
      // epoch-day arithmetic on ts_us, never to_date(ts_t) — which would
      // shift by the session timezone and diverge from the naive oracle.
      // FLOOR division, not `div` (truncation toward zero): for a
      // pre-1970 microsecond timestamp the date cast floors while div
      // truncates, so the two diverge by a day. pmod's nonnegative
      // remainder makes the subtraction an exact integer floor-multiple.
      .withColumn("day", date_from_unix_date(
        call_function("div",
          col("ts_us") - pmod(col("ts_us"), lit(86400000000L)),
          lit(86400000000L)).cast(IntegerType)))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value").cast(DoubleType).as("value"), col("day"))
    StreamingOps.toPartitionedParquet(src, out, ckpt(), Seq("day"))
    Tables.open(spark, out)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"),
        col("day").cast(StringType).as("day"))
  }

  val q84Oracle: String =
    """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |  CAST(value AS DOUBLE) AS value,
      |  CAST(CAST(ts AS DATE) AS VARCHAR) AS day
      |FROM events""".stripMargin

  /** STREAMING held-out quality gate — the x94 bigram LM applied the way
    * a production ingest actually applies it: the model is trained ONCE
    * on the STANDING corpus (ids ≢7 mod 10) and a delta of incoming
    * documents streams through the scorer. Properly held-out, so unseen
    * bigrams/contexts take the smoothed floor `1/(0+V)` (left joins +
    * coalesce — x94's inner joins are the train-on-self special case).
    * Scale shape: the LM tables are static frames the stream-static
    * left joins probe (broadcast-able, no stream state); V is a
    * bounded driver scalar baked as a literal (a 1-row crossJoin is
    * not stream-safe); the only stateful op is the per-doc Complete
    * aggregate the memory-sink drain requires. Exact-decimal scoring
    * identical to x94's contract. */
  def x97_stream_heldout_quality(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val standing = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(TextOps.tokens(col("text")).as("toks"))
    val sp = standing
      .filter(size(col("toks")) >= 2)
      .select(explode(
        graft.functions.NativeFunctions.tokenTuples(col("toks"), 2)).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val big = sp.groupBy(col("a"), col("b")).agg(count(lit(1)).as("bn"))
    val ctx = sp.groupBy(col("a")).agg(count(lit(1)).as("un"))
    val v = standing.select(explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .agg(countDistinct(col("t"))).head().getLong(0)
    val delta = docsDeltaStream(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        graft.functions.NativeFunctions.tokenTuples(col("toks"), 2)).as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val scored = delta
      .join(big, Seq("a", "b"), "left")
      .join(ctx, Seq("a"), "left")
      .withColumn("cp",
        ((coalesce(col("bn"), lit(0L)) + lit(1)).cast(DoubleType) /
          (coalesce(col("un"), lit(0L)) + lit(v)).cast(DoubleType))
          .cast(DecimalType(24, 14)))
      .withColumn("sp",
        (coalesce(col("un"), lit(0L)) + lit(v)).cast(DoubleType) /
          (coalesce(col("bn"), lit(0L)) + lit(1)).cast(DoubleType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cp")).cast(DecimalType(30, 14)).as("sum_cp_x"),
        max(col("sp")).as("max_surprisal"))
      .withColumn("keep", col("sum_cp_x") * 50 > col("n_pairs"))
      .withColumn("sum_condprob", col("sum_cp_x").cast(DoubleType))
      .select(col("doc_id"), col("n_pairs"), col("sum_condprob"),
        col("max_surprisal"), col("keep"))
    StreamingOps.drainToMemory(scored, "x97_out", ckpt(), OutputMode.Complete)
  }

  /** STREAMING index-maintenance ledger — x106's df-table upsert feed
    * computed from the delta STREAM: each delta document's distinct
    * bigrams left-join the STANDING df table (stream-static, before the
    * aggregation — the supported shape), the Complete-mode per-term
    * aggregate counts the delta df, and every TOUCHED term emits its
    * upsert row (old df, new df, band transition: entered / left /
    * still_banded / outside). This is exactly what a maintainer writes
    * back to the store — x106's batch maintenance driven from the
    * stream a production corpus actually arrives on (the x97
    * stream-static pattern on the index plane).
    *
    * Scale shape: per-batch work is delta-sized; the standing df table
    * joins as a static side; state is one register per touched term. */
  def x112_stream_index_ledger(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val dfC = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(col("doc_id"), explode(array_distinct(
        TextOps.ngrams(TextOps.tokens(col("text")), 2))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df_c"))
    val touched = docsDeltaStream(spark, dir)
      .select(col("doc_id"), explode(array_distinct(
        TextOps.ngrams(TextOps.tokens(col("text")), 2))).as("term"))
      .join(dfC, Seq("term"), "left")
      .groupBy(col("term"), col("df_c"))
      .agg(count(lit(1)).as("df_d"))
      .withColumn("df_old", coalesce(col("df_c"), lit(0L)))
      .withColumn("df_new", col("df_old") + col("df_d"))
      .withColumn("status",
        when(col("df_old").between(2, 32) && col("df_new").between(2, 32),
          lit("still_banded"))
          .when(!col("df_old").between(2, 32) && col("df_new").between(2, 32),
            lit("entered"))
          .when(col("df_old").between(2, 32) && !col("df_new").between(2, 32),
            lit("left"))
          .otherwise(lit("outside")))
      .select(col("term"), col("df_old"), col("df_new"), col("status"))
    StreamingOps.drainToMemory(touched, "x112_out", ckpt(), OutputMode.Complete)
  }

  /** STREAMING mixture-drift monitor — x116's domain-mixture plane
    * watched from the ingest stream: the delta documents stream into a
    * per-source token-mass aggregate (Complete mode, one register per
    * source — bounded state by construction), and the post-drain epilogue
    * compares the arriving mix against the STANDING corpus's mix on
    * the ppm grid. Drift is pure BIGINT subtraction (sign-safe across
    * engines — no division ever touches a negative), so an alerting
    * job can threshold `abs(drift_ppm)` exactly. This is the monitor a
    * curation pipeline runs ON the feed that x116 retunes FROM.
    *
    * The standing aggregate is independent of the drain, so it runs
    * alongside it from a driver thread (as `PqIndex.ivfPqTopK` overlaps
    * its two trainings), on a session of its own
    * ([[StreamingOps.sideSession]]). Both sides are sources-sized, so the
    * epilogue folds on the driver ([[mixtureDrift]]). */
  def x117_stream_mixture_drift(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    def tokensBySource(docs: DataFrame, n: String): DataFrame = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("source")).agg(count(lit(1)).as(n))
    val side = StreamingOps.sideSession(spark)
    val standing = new FutureTask[Array[Row]](() => tokensBySource(
      Tables.documents(side, dir).filter(pmod(col("doc_id"), lit(10)) =!= 7),
      "n_standing").collect())
    // a new thread inherits the caller's job group and local properties
    new Thread(standing, "x117-standing").start()
    val delta = StreamingOps.drainToMemory(
      tokensBySource(docsDeltaStream(spark, dir), "n_delta"),
      "x117_out", ckpt(), OutputMode.Complete).collect()
    val stand = try standing.get() catch { case e: ExecutionException => throw e.getCause }
    def counts(rows: Array[Row]) = rows.toSeq.map(r => r.getString(0) -> r.getLong(1))
    mixtureDrift(spark, counts(delta), counts(stand))
  }

  /** x117's epilogue on the driver: the full outer join of the per-source
    * delta and standing counts (a NULL source matches nothing, as in SQL),
    * then each side's share `n * 1000000 div total` in exact `Long` math —
    * an overflow raises, as ANSI arithmetic does — NULL when the side's
    * total is 0 (the oracle's `//` by zero), and their difference. One
    * local frame in one partition: a sources-sized result is one task and
    * one file when written, not one per core. */
  private def mixtureDrift(spark: SparkSession, delta: Seq[(String, Long)],
      standing: Seq[(String, Long)]): DataFrame = {
    val (d, s) = (delta.toMap, standing.toMap)
    val joined = (delta ++ standing).map(_._1).filter(_ != null).distinct
      .map(k => (k, d.getOrElse(k, 0L), s.getOrElse(k, 0L))) ++
      delta.collect { case (null, n) => (null: String, n, 0L) } ++
      standing.collect { case (null, n) => (null: String, 0L, n) }
    val td = joined.map(_._2).foldLeft(0L)(Math.addExact)
    val ts = joined.map(_._3).foldLeft(0L)(Math.addExact)
    def ppm(n: Long, total: Long): java.lang.Long =
      if (total == 0L) null else Math.multiplyExact(n, 1000000L) / total
    val rows = joined.map { case (k, nd, ns) =>
      val (dp, sp) = (ppm(nd, td), ppm(ns, ts))
      val drift: java.lang.Long =
        if (dp == null || sp == null) null else Math.subtractExact(dp.longValue, sp.longValue)
      Row(k, nd, ns, dp, sp, drift)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("source", StringType),
      StructField("n_delta", LongType, nullable = false),
      StructField("n_standing", LongType, nullable = false),
      StructField("delta_ppm", LongType),
      StructField("standing_ppm", LongType),
      StructField("drift_ppm", LongType)))).coalesce(1)
  }

  val x117Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, unnest(string_split_regex(text, '\s+')) AS term
      |  FROM documents),
      |tt AS (SELECT doc_id, source, term FROM t WHERE term <> ''),
      |d AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_delta FROM tt
      |  WHERE doc_id % 10 = 7 GROUP BY 1),
      |s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_standing FROM tt
      |  WHERE doc_id % 10 <> 7 GROUP BY 1),
      |j AS (
      |  SELECT COALESCE(d.source, s.source) AS source,
      |    COALESCE(n_delta, 0) AS n_delta,
      |    COALESCE(n_standing, 0) AS n_standing
      |  FROM d FULL OUTER JOIN s ON d.source = s.source),
      |tot AS (
      |  SELECT CAST(SUM(n_delta) AS BIGINT) AS td,
      |    CAST(SUM(n_standing) AS BIGINT) AS ts FROM j)
      |SELECT source, CAST(n_delta AS BIGINT) AS n_delta,
      |  CAST(n_standing AS BIGINT) AS n_standing,
      |  CAST(n_delta * 1000000 // td AS BIGINT) AS delta_ppm,
      |  CAST(n_standing * 1000000 // ts AS BIGINT) AS standing_ppm,
      |  CAST(n_delta * 1000000 // td - n_standing * 1000000 // ts
      |    AS BIGINT) AS drift_ppm
      |FROM j CROSS JOIN tot""".stripMargin

  val x112Oracle: String =
    """WITH cws AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
      |  WHERE doc_id % 10 <> 7),
      |ct AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i + 1])) AS term
      |  FROM cws),
      |dfc AS (SELECT term, COUNT(*) AS df_c FROM ct GROUP BY term),
      |dws AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
      |  WHERE doc_id % 10 = 7),
      |dt AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i + 1])) AS term
      |  FROM dws),
      |dfd AS (SELECT term, COUNT(*) AS df_d FROM dt GROUP BY term)
      |SELECT dfd.term,
      |  CAST(coalesce(df_c, 0) AS BIGINT) AS df_old,
      |  CAST(coalesce(df_c, 0) + df_d AS BIGINT) AS df_new,
      |  CASE
      |    WHEN coalesce(df_c, 0) BETWEEN 2 AND 32
      |      AND coalesce(df_c, 0) + df_d BETWEEN 2 AND 32 THEN 'still_banded'
      |    WHEN NOT coalesce(df_c, 0) BETWEEN 2 AND 32
      |      AND coalesce(df_c, 0) + df_d BETWEEN 2 AND 32 THEN 'entered'
      |    WHEN coalesce(df_c, 0) BETWEEN 2 AND 32
      |      AND NOT coalesce(df_c, 0) + df_d BETWEEN 2 AND 32 THEN 'left'
      |    ELSE 'outside' END AS status
      |FROM dfd LEFT JOIN dfc ON dfd.term = dfc.term""".stripMargin

  val x97Oracle: String =
    """WITH standing AS (
      |  SELECT string_split_regex(text, '\s+') AS w FROM documents
      |  WHERE doc_id % 10 <> 7),
      |spr AS (
      |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
      |    i -> struct_pack(a := w[i], b := w[i+1]))) AS pr
      |  FROM standing WHERE len(w) >= 2),
      |sp AS (
      |  SELECT pr.a AS a, pr.b AS b FROM spr
      |  WHERE pr.a <> '' AND pr.b <> ''),
      |big AS (SELECT a, b, COUNT(*) AS bn FROM sp GROUP BY 1, 2),
      |ctx AS (SELECT a, COUNT(*) AS un FROM sp GROUP BY 1),
      |voc AS (
      |  SELECT COUNT(DISTINCT t) AS v
      |  FROM (SELECT unnest(w) AS t FROM standing) u WHERE t <> ''),
      |dpr AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1,
      |      len(string_split_regex(text, '\s+')) - 1),
      |      i -> struct_pack(a := string_split_regex(text, '\s+')[i],
      |                       b := string_split_regex(text, '\s+')[i+1]))) AS pr
      |  FROM documents
      |  WHERE doc_id % 10 = 7 AND len(string_split_regex(text, '\s+')) >= 2),
      |dp AS (
      |  SELECT doc_id, pr.a AS a, pr.b AS b FROM dpr
      |  WHERE pr.a <> '' AND pr.b <> ''),
      |sc AS (
      |  SELECT d.doc_id,
      |    CAST(CAST(coalesce(bn, 0) + 1 AS DOUBLE) /
      |      CAST(coalesce(un, 0) + v AS DOUBLE) AS DECIMAL(24,14)) AS cp,
      |    CAST(coalesce(un, 0) + v AS DOUBLE) /
      |      CAST(coalesce(bn, 0) + 1 AS DOUBLE) AS spv
      |  FROM dp d LEFT JOIN big USING (a, b) LEFT JOIN ctx USING (a)
      |  CROSS JOIN voc)
      |SELECT doc_id, COUNT(*) AS n_pairs,
      |  CAST(CAST(SUM(cp) AS DECIMAL(30,14)) AS DOUBLE) AS sum_condprob,
      |  MAX(spv) AS max_surprisal,
      |  CAST(SUM(cp) AS DECIMAL(30,14)) * 50 > COUNT(*) AS keep
      |FROM sc GROUP BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x97_stream_heldout_quality" -> (x97_stream_heldout_quality _),
    "x112_stream_index_ledger" -> (x112_stream_index_ledger _),
    "x117_stream_mixture_drift" -> (x117_stream_mixture_drift _),
    "q84_stream_partitioned_sink" -> (q84_stream_partitioned_sink _),
    "q81_stream_cdc_compaction" -> (q81_stream_cdc_compaction _),
    "q43_stream_windowed_agg" -> (q43_stream_windowed_agg _),
    "q44_stream_sessionization" -> (q44_stream_sessionization _),
    "q55_stream_dedup" -> (q55_stream_dedup _),
    "q60_stream_stream_join" -> (q60_stream_stream_join _),
    "q67_stream_delta_dedup" -> (q67_stream_delta_dedup _),
    "q69_stream_dedup_bounded" -> (q69_stream_dedup_bounded _))

  val oracle: Map[String, String] = Map(
    "x97_stream_heldout_quality" -> x97Oracle,
    "x112_stream_index_ledger" -> x112Oracle,
    "x117_stream_mixture_drift" -> x117Oracle,
    "q84_stream_partitioned_sink" -> q84Oracle,
    "q81_stream_cdc_compaction" -> q81Oracle,
    "q43_stream_windowed_agg" -> q43Oracle,
    "q44_stream_sessionization" -> q44Oracle,
    "q55_stream_dedup" -> q55Oracle,
    "q60_stream_stream_join" -> q60Oracle,
    "q67_stream_delta_dedup" -> q67Oracle,
    "q69_stream_dedup_bounded" -> q69Oracle)
}
