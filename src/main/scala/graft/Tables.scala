package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated TPC-H-ish parquet testdata
  * (`/root/repo/TESTDATA.md`). All queries in [[SparkEntry]] read through
  * here so scans stay uniform (explicit paths, no schema inference beyond
  * parquet's own footer schema).
  *
  * Numeric convention for oracle (DuckDB) hash-parity — see SURVEY.md §7.4:
  *  - money/measure doubles are cast to DECIMAL at the scan boundary; all
  *    sums then run in exact decimal arithmetic (order-independent);
  *  - divisions are computed in DOUBLE on both engines, then cast to an
  *    explicit DECIMAL (Spark and DuckDB both round the shortest decimal
  *    representation half-up, verified empirically);
  *  - every output aggregate carries an explicit CAST on both sides so the
  *    result types line up byte-for-byte.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    open(spark, s"$dir/$name.parquet")

  /** Open a parquet file or directory with the schema Spark's inference
    * would give it, read from one footer on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.DriverParquet.schema]]):
    * no schema-inference job. Partition columns are still discovered from
    * the directory names. Nothing is memoized — every call reads the
    * footer again, so a rewritten path is never opened with a stale
    * schema. A missing path or one with no data file falls back to
    * Spark's read and its error. */
  def open(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.execution.datasources.parquet.DriverParquet.schema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** `events.ts` is parquet TIMESTAMP(NANOS). How Spark surfaces that type
    * is runtime-dependent: Spark ≤4.0 with
    * `spark.sql.legacy.parquet.nanosAsLong=true` reads it as a raw ns-epoch
    * Long; Spark 4.1+ ignores that conf and reads it natively as
    * TIMESTAMP_NTZ (truncated to µs on read — the same truncation DuckDB
    * applies, so `epoch_us(ts)` stays the oracle-side equivalent).
    *
    * ONE definition of the ts→µs convention, shared by the batch reader and
    * the streaming staging reader (stream/batch parity is gated, so the two
    * sides must never derive event time differently). Dispatches on the READ
    * schema, not the runtime version, so both representations — and any
    * future one that lands as a proper timestamp — produce an identical
    * `ts_us` (µs integer) + `ts_t` (TimestampType):
    *  - LongType (ns epoch)      → integer `div 1000`;
    *  - TIMESTAMP (LTZ)          → `unix_micros` directly (an instant is
    *    already timezone-independent);
    *  - TIMESTAMP_NTZ            → wall-clock-as-UTC via pure date/time
    *    component arithmetic (`unix_date`, `hour`, `minute`,
    *    `date_part('SECOND')` — all wall-clock-valued on NTZ), NOT via a
    *    `cast(TimestampType)`: the cast interprets the wall clock in the
    *    SESSION timezone, so a non-UTC library caller would silently
    *    derive shifted `ts_us`. The component form is identical in every
    *    session timezone (and to the ns-Long branch). All three are narrow
    *    codegen'd projections — no shuffle, no row explosion,
    *    scan-adjacent, inside WholeStageCodegen.
    */
  def withEventTimeCols(df: DataFrame): DataFrame = {
    val tsUs = df.schema("ts").dataType match {
      case LongType      => call_function("div", col("ts"), lit(1000L))
      case TimestampType => unix_micros(col("ts"))
      case _ /* TIMESTAMP_NTZ */ =>
        unix_date(col("ts").cast(DateType)).cast(LongType) * lit(86400000000L) +
          hour(col("ts")).cast(LongType) * lit(3600000000L) +
          minute(col("ts")).cast(LongType) * lit(60000000L) +
          (date_part(lit("SECOND"), col("ts")) * lit(1000000)).cast(LongType)
    }
    df.withColumn("ts_us", tsUs)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
  }

  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    // best-effort legacy enablement: Spark ≤4.0 REFUSES a TIMESTAMP(NANOS)
    // parquet read outright ([PARQUET_TYPE_ILLEGAL]) unless this conf maps
    // it to a ns-epoch Long; Spark 4.1+ ignores the conf and reads NTZ.
    // Setting it unconditionally keeps the LongType dispatch branch above
    // REACHABLE on old runtimes instead of dead code behind a read error.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withEventTimeCols(load(spark, dir, "events"))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** DECIMAL(12,2) cast used at scan boundaries for measure columns. */
  val Money: DecimalType = DecimalType(12, 2)
}
