package graft

import graft.expr.SsisExprCompiler
import graft.expr.SsisExprCompiler.Env
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator inventory (SURVEY.md §2.1–§2.6) over the driver's
  * testdata, each with a DuckDB oracle in [[QueriesRelational.oracle]].
  *
  * Scale posture (SURVEY.md §7.4.5): dims (`nation`, `region`, `part`,
  * `supplier`) are broadcast — the Lookup full-cache contract (J1); fact-to-
  * fact joins shuffle on their keys and rely on AQE. Filters sit directly on
  * scans so Catalyst pushes them into parquet.
  */
object QueriesRelational {
  import Tables._

  /** Temp dirs for query fixtures (q38 CSV round-trip, q52 ForEach-File
    * parts), deleted on JVM exit: the frames a query returns read these
    * files LAZILY, so eager deletion would break the caller — but runs
    * must not accumulate orphan dirs in tmpdir either (the q50 staging
    * lesson: every on-disk artifact needs a lifecycle). ONE shutdown hook
    * drains the whole registry — a hook per call would grow the JVM's
    * hook set with every invocation in a long-lived driver. */
  private val exitCleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val exitCleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      exitCleanupDirs.forEach(p => rm(p.toFile))
    }))
  }
  private[graft] def tempDirCleanedOnExit(prefix: String): java.nio.file.Path = {
    exitCleanupHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    exitCleanupDirs.add(dir): Unit
    dir
  }

  /** `[schema].[table]`, group 1 the bare name: the package scaffolds
    * below rewrite task SQL and key written frames by it. */
  private[graft] val BracketedTable = """\[\w+\]\.\[(\w+)\]""".r

  /** Shared scaffold for the dtsx-package gate queries (q51/q52/q53):
    * parse the resource, optionally override variable literals (the
    * dtexec `/SET` idiom), run through [[graft.pipeline.PackageRunner]]
    * against the parquet-backed testdata warehouse, and return the
    * per-table written frames. `accumulate` = destination appends union
    * across iterations (the ForEach semantics); q42-style overwrite
    * callers pass false. */
  private def runDtsxPackage(spark: SparkSession, dir: String, resource: String,
      overrideVars: Map[String, String] = Map.empty,
      withSqlExecutor: Boolean = false,
      accumulate: Boolean = true): scala.collection.Map[String, DataFrame] = {
    val in = getClass.getResourceAsStream(s"/dtsx/$resource")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val parsed = graft.parser.DtsxParser.parseString(xml)
    val pkg =
      if (overrideVars.isEmpty) parsed
      else parsed.copy(variables = parsed.variables.map(v =>
        overrideVars.get(v.qualifiedName).fold(v)(nv => v.copy(value = nv))))
    val written = scala.collection.mutable.Map.empty[String, DataFrame]
    val env = graft.pipeline.PackageRunner.RuntimeEnv(
      resolver = graft.sources.Sources.testdataResolver(spark, dir, written.get),
      write = (table, df, _) => {
        val bare = BracketedTable.findFirstMatchIn(table).map(_.group(1)).getOrElse(table)
        written(bare) =
          if (accumulate) written.get(bare).map(_.unionByName(df)).getOrElse(df)
          else df
      },
      sqlExecutor =
        if (!withSqlExecutor) _ => None
        else t => {
          // execute against the same parquet-backed warehouse the
          // dataflow sources use (feeds ResultBinding recordsets).
          // Register EVERY referenced table and rewrite each [x].[y]
          // to its OWN bare name — replacing all occurrences with the
          // first match silently corrupted multi-table statements.
          val tables = BracketedTable.findAllMatchIn(t.sqlStatement)
            .map(_.group(1)).toSet
          require(tables.nonEmpty,
            s"no [schema].[table] in: ${t.sqlStatement}")
          tables.foreach(tbl => load(spark, dir, tbl)
            .createOrReplaceTempView(tbl))
          val df = spark.sql(BracketedTable.replaceAllIn(t.sqlStatement,
            m => m.group(1)))
          Some(graft.pipeline.PackageRunner.SqlOutcome(Some(df), None))
        })
    val run = graft.pipeline.PackageRunner.run(spark, pkg, env)
    require(!run.failed, s"package failed: ${run.tasks.map(t => t.taskName -> t.status)}")
    written
  }

  // ---------------------------------------------------------------- P1/P4
  /** Staging projection: select + cast + snake_case rename
    * (ref builder.py:183-206, stg_sales__transactions.sql:38-53). */
  def q02_project_cast_rename(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(
      col("c_custkey").cast(LongType).as("customer_id"),
      col("c_name").cast(StringType).as("customer_name"),
      col("c_nationkey").cast(IntegerType).as("nation_key"),
      // Decimal-rounded then emitted as DOUBLE: a decimal *output* column
      // deserializes asymmetrically in the driver's compare (Decimal objects
      // from parquet vs float64 from the oracle), so every query rounds/sums
      // in exact DECIMAL but ships the final column as float64.
      col("c_acctbal").cast(DecimalType(12, 2)).cast(DoubleType).as("account_balance"),
      upper(col("c_mktsegment")).as("market_segment"))

  val q02Oracle: String =
    """SELECT CAST(c_custkey AS BIGINT) AS customer_id,
      |  CAST(c_name AS VARCHAR) AS customer_name,
      |  CAST(c_nationkey AS INT) AS nation_key,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS account_balance,
      |  UPPER(c_mktsegment) AS market_segment
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- S2/P2
  /** SQL-mode source with pushed-down BETWEEN + equality filters
    * (ref SalesFactETL.dtsx:79-91 `WHERE SaleDate BETWEEN ? AND ? AND IsVoided = 0`). */
  def q03_source_filter_params(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast(TimestampType), lit("1996-12-31").cast(TimestampType)))
      .filter(col("l_discount") > lit(0.05))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))

  val q03Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
      |  AND l_discount > 0.05""".stripMargin

  // ---------------------------------------------------------------- J1/J2
  /** Lookup chain ≙ fct_sales.sql:46-76 — fact + 3 dimension lookups.
    * Full-cache lookups → broadcast left joins with extra predicates
    * (`IsActive = 1` analog). Orders is fact-sized → shuffle join. */
  def q04_lookup_chain(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val ord = orders(spark, dir).select("o_orderkey", "o_orderpriority", "o_orderstatus")
    val p = part(spark, dir).filter(col("p_size") > 0).select("p_partkey", "p_name", "p_brand")
    val s = supplier(spark, dir).select("s_suppkey", "s_name")
    li.select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .join(ord, Seq("l_orderkey" -> "o_orderkey").map(_ => col("l_orderkey") === col("o_orderkey")).head, "left")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"), "left")
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderpriority"),
        col("p_name"), col("p_brand"), col("s_name"))
  }

  val q04Oracle: String =
    """SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority, p.p_name, p.p_brand, s.s_name
      |FROM lineitem l
      |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |LEFT JOIN (SELECT * FROM part WHERE p_size > 0) p ON l.l_partkey = p.p_partkey
      |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey""".stripMargin

  // ---------------------------------------------------------------- P3
  /** Derived Column through the SSIS expression compiler — the exact
    * SalesFactETL.dtsx:243-258 amount expressions, bound to lineitem
    * columns, with the staged NUMERIC(18,2) casts the generated models pin. */
  def q05_derived_columns(spark: SparkSession, dir: String): DataFrame = {
    val base = lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast(IntegerType).as("Quantity"),
      col("l_extendedprice").cast(DecimalType(18, 2)).as("UnitPrice"),
      (col("l_discount") * 100).cast(DecimalType(5, 2)).as("DiscountPercent"))
    val env = Env(colType = {
      case "Quantity" => Some(IntegerType)
      case "UnitPrice" => Some(DecimalType(18, 2))
      case "DiscountPercent" => Some(DecimalType(5, 2))
      case _ => None
    })
    def e(s: String): Column = SsisExprCompiler.compile(s, env)
    // The generated staging models pin each arithmetic step with an explicit
    // NUMERIC(18,2) cast (stg_sales__transactions.sql:70-76; SURVEY §7.4.1) —
    // replicate that so intermediate decimal scales are engine-independent.
    val gross = e("[Quantity] * [UnitPrice]").cast(DecimalType(18, 2))
    val dpFrac = e("[DiscountPercent] / 100").cast(DecimalType(7, 4))
    val discount = (gross * dpFrac).cast(DecimalType(18, 2))
    base.select(
      col("l_orderkey"), col("l_linenumber"),
      gross.cast(DoubleType).as("gross_amount"),
      discount.cast(DoubleType).as("discount_amount"),
      (gross - discount).cast(DecimalType(18, 2)).cast(DoubleType).as("net_amount"))
  }

  val q05Oracle: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(l_quantity AS INT) AS q,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS up,
      |    CAST(l_discount * 100 AS DECIMAL(5,2)) AS dp
      |  FROM lineitem),
      |staged AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(q * up, 2) AS DECIMAL(18,2)) AS gross,
      |    CAST(dp / 100 AS DECIMAL(7,4)) AS dpf
      |  FROM base)
      |SELECT l_orderkey, l_linenumber,
      |  CAST(gross AS DOUBLE) AS gross_amount,
      |  CAST(CAST(round(gross * dpf, 2) AS DECIMAL(18,2)) AS DOUBLE) AS discount_amount,
      |  CAST(CAST(gross - CAST(round(gross * dpf, 2) AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS DOUBLE) AS net_amount
      |FROM staged""".stripMargin
  // NB: DuckDB CAST(decimal) rounds half-even; Spark's decimal cast rounds
  // half-up. DuckDB round() is half-up, so oracles round() before CAST.

  // ---------------------------------------------------------------- P5
  /** Cleaning idioms: NULLIF(TRIM(x),''), COALESCE(x,0)
    * (ref stg_crm__customers.sql:37-40, stg_warehouse__inventory.sql:42-49). */
  def q06_cleaning(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(
      col("c_custkey").as("customer_id"),
      nullif(trim(col("c_name")), lit("")).as("clean_name"),
      coalesce(nullif(trim(col("c_mktsegment")), lit("")), lit("UNKNOWN")).as("segment"),
      coalesce(col("c_acctbal").cast(DecimalType(12, 2)), lit(0).cast(DecimalType(12, 2)))
        .cast(DoubleType).as("balance"))

  val q06Oracle: String =
    """SELECT c_custkey AS customer_id,
      |  NULLIF(TRIM(c_name), '') AS clean_name,
      |  COALESCE(NULLIF(TRIM(c_mktsegment), ''), 'UNKNOWN') AS segment,
      |  CAST(CAST(COALESCE(CAST(c_acctbal AS DECIMAL(12,2)), 0) AS DECIMAL(12,2)) AS DOUBLE) AS balance
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- J3
  /** Merge Join (sorted-input inner join) — Spark picks sort-merge for the
    * fact-fact shuffle join itself (constants.py:28, README.md:132). */
  def q07_merge_join(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir).select("l_orderkey", "l_linenumber", "l_quantity")
      .join(orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderstatus"),
        col("l_orderkey") === col("o_orderkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_custkey"), col("o_orderstatus"))

  val q07Oracle: String =
    """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_custkey, o.o_orderstatus
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin

  // ---------------------------------------------------------------- J4/W4
  /** Union All (n-ary, by name) — constants.py:27/29. */
  def q08_union_all(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir).select(
      lit("customer").as("entity"), col("c_name").as("name"),
      col("c_acctbal").cast(DecimalType(12, 2)).cast(DoubleType).as("balance"))
    val s = supplier(spark, dir).select(
      lit("supplier").as("entity"), col("s_name").as("name"),
      col("s_acctbal").cast(DecimalType(12, 2)).cast(DoubleType).as("balance"))
    c.unionByName(s)
  }

  val q08Oracle: String =
    """SELECT 'customer' AS entity, c_name AS name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS balance FROM customer
      |UNION ALL
      |SELECT 'supplier', s_name, CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) FROM supplier""".stripMargin

  // ---------------------------------------------------------------- W5
  /** Conditional Split: ordered, mutually-exclusive predicates + default
    * output, single-pass CASE tag (constants.py:30, README.md:131), then a
    * per-route rollup so the routing itself is what's checked. */
  def q09_conditional_split(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir)
      .withColumn("route",
        when(col("p_size") <= 10, "small")
          .when(col("p_size") <= 30, "medium")
          .when(col("p_retailprice") > 1500, "large_premium")
          .otherwise("large"))
      .groupBy("route")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_retailprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("total_price"))

  val q09Oracle: String =
    """SELECT CASE WHEN p_size <= 10 THEN 'small'
      |            WHEN p_size <= 30 THEN 'medium'
      |            WHEN p_retailprice > 1500 THEN 'large_premium'
      |            ELSE 'large' END AS route,
      |  COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM part GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- J5
  /** SCD2 dim rebuild with hash change-detection ≙ dim_customer.sql:34-84:
    * dbt_utils.generate_surrogate_key byte-parity (md5 of '-'-joined,
    * null-sentinel-coalesced strings) + SCD2 metadata columns. */
  def q10_scd2_rebuild(spark: SparkSession, dir: String): DataFrame = {
    val sentinel = "_dbt_utils_surrogate_key_null_"
    def sk(cols: Column*): Column =
      md5(concat_ws("-", cols.map(c => coalesce(c.cast(StringType), lit(sentinel))): _*))
    customer(spark, dir).select(
      sk(col("c_custkey")).as("customer_key"),
      col("c_custkey").as("customer_id"),
      col("c_name").as("customer_name"),
      col("c_nationkey").as("nation_key"),
      sk(col("c_name"), col("c_mktsegment"), col("c_acctbal").cast(DecimalType(12, 2)))
        .as("row_hash"),
      lit(1).as("is_current"),
      lit("1900-01-01").cast(DateType).as("valid_from"),
      lit(null).cast(DateType).as("valid_to"))
  }

  val q10Oracle: String =
    """SELECT
      |  md5(COALESCE(CAST(c_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_')) AS customer_key,
      |  c_custkey AS customer_id,
      |  c_name AS customer_name,
      |  c_nationkey AS nation_key,
      |  md5(concat_ws('-',
      |    COALESCE(CAST(c_name AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
      |    COALESCE(CAST(c_mktsegment AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
      |    COALESCE(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), '_dbt_utils_surrogate_key_null_'))) AS row_hash,
      |  1 AS is_current,
      |  DATE '1900-01-01' AS valid_from,
      |  CAST(NULL AS DATE) AS valid_to
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- J6
  /** Subquery semi-join: `WHERE key IN (SELECT ...)` → left_semi
    * (ref SalesFactETL.dtsx:305, agg_daily_sales.sql:42-52). */
  def q11_semi_join(spark: SparkSession, dir: String): DataFrame = {
    val shipped96 = lineitem(spark, dir)
      .filter(col("l_shipdate") < lit("1996-07-01").cast(TimestampType))
      .select("l_orderkey")
    orders(spark, dir)
      .join(shipped96, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(12, 2)).cast(DoubleType).as("total_price"))
  }

  val q11Oracle: String =
    """SELECT o_orderkey, o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     WHERE l_shipdate < TIMESTAMP '1996-07-01')""".stripMargin

  /** Anti join — used internally by the SCD2 rewrite (SURVEY §2.3):
    * customers with no finalized order. */
  def q12_anti_join(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir).filter(col("o_orderstatus") === "F").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("customer_id"), col("c_name").as("customer_name"))

  val q12Oracle: String =
    """SELECT c_custkey AS customer_id, c_name AS customer_name
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_orderstatus = 'F' AND o_custkey IS NOT NULL)""".stripMargin

  // ---------------------------------------------------------------- W1
  /** Watermark fetch: TOP-1-by-sort / max() per group
    * (ref InventorySync.dtsx:58-63 `SELECT TOP 1 LastSyncTime ... ORDER BY ... DESC`).
    * ts compared at µs — see [[Tables.eventsNs]]. */
  def q13_watermark_top1(spark: SparkSession, dir: String): DataFrame =
    eventsNs(spark, dir)
      .groupBy(col("event_type"))
      .agg(max(col("ts_us")).as("last_sync_us"), count(lit(1)).as("n_events"))

  val q13Oracle: String =
    """SELECT event_type, max(epoch_us(ts)) AS last_sync_us, COUNT(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- W6
  /** True SCD2 window semantics: close out prior versions with
    * lead()/row_number() (SURVEY §2.5 W6 — the reference's rebuild is lossy;
    * this is the "done right" variant of §7.3). */
  def q14_scd2_windows(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    eventsNs(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", lead(col("ts_us"), 1).over(w).isNull.cast(IntegerType))
      .drop("ts_us")
  }

  val q14Oracle: String =
    """SELECT user_id, event_id,
      |  ROW_NUMBER() OVER w AS version,
      |  epoch_us(ts) AS valid_from_us,
      |  LEAD(epoch_us(ts), 1) OVER w AS valid_to_us,
      |  CAST(LEAD(epoch_us(ts), 1) OVER w IS NULL AS INT) AS is_current
      |FROM events WHERE event_type = 'purchase'
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin

  // ---------------------------------------------------------------- W3/A3
  /** Row Count component + pre-ETL guard counts as one observable summary
    * (constants.py:33; SalesFactETL.dtsx:54-61). */
  def q15_row_counts(spark: SparkSession, dir: String): DataFrame = {
    val tables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
    tables.map { t =>
      load(spark, dir, t).agg(count(lit(1)).as("row_count")).select(lit(t).as("table_name"), col("row_count"))
    }.reduce(_ unionByName _)
  }

  val q15Oracle: String =
    """SELECT 'lineitem' AS table_name, COUNT(*) AS row_count FROM lineitem
      |UNION ALL SELECT 'orders', COUNT(*) FROM orders
      |UNION ALL SELECT 'customer', COUNT(*) FROM customer
      |UNION ALL SELECT 'part', COUNT(*) FROM part
      |UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
      |UNION ALL SELECT 'nation', COUNT(*) FROM nation
      |UNION ALL SELECT 'region', COUNT(*) FROM region""".stripMargin

  // ---------------------------------------------------------------- A3
  /** PK integrity profile (validator.py:357-388): row count, null keys,
    * duplicated keys — all as one distributed aggregation, no collect. */
  def q16_pk_validation(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("row_count"),
        count(lit(1)).as("distinct_keys"),
        sum(when(col("o_orderkey").isNull, col("n")).otherwise(0)).as("null_keys"),
        sum(when(col("n") > 1, 1).otherwise(0)).as("duplicated_keys"))

  val q16Oracle: String =
    """SELECT CAST(SUM(n) AS BIGINT) AS row_count, COUNT(*) AS distinct_keys,
      |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN n ELSE 0 END) AS BIGINT) AS null_keys,
      |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicated_keys
      |FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey)""".stripMargin
  // NB: DuckDB SUM(BIGINT) yields HUGEINT → float in pandas; CAST to BIGINT.

  // ---------------------------------------------------------------- A2
  /** Aggregate-refresh ≙ agg_daily_sales.sql:55-95: GROUP BY surrogate date
    * key with post-agg derived average (exact-decimal sums; the average is
    * computed in DOUBLE identically on both engines). */
  def q17_agg_refresh_daily(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("ship_date"), col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(12, 2))).cast(DoubleType).as("total_quantity"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 4)))
          .cast(DecimalType(38, 4)).as("net_amount_dec"),
        count(lit(1)).as("transaction_count"))
      .withColumn("avg_transaction_value",
        when(col("transaction_count") > 0,
          col("net_amount_dec").cast(DoubleType) / col("transaction_count")).otherwise(0.0))
      .withColumn("net_amount", col("net_amount_dec").cast(DoubleType))
      .drop("net_amount_dec")

  val q17Oracle: String =
    """SELECT CAST(l_shipdate AS DATE) AS ship_date, l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_quantity,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS net_amount,
      |  COUNT(*) AS transaction_count,
      |  CASE WHEN COUNT(*) > 0
      |       THEN CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4))::DOUBLE / COUNT(*)
      |       ELSE 0.0 END AS avg_transaction_value
      |FROM lineitem
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- §2.6 hash
  /** Surrogate/hash keys: HASHBYTES SHA2_256 ≙ sha2(concat_ws) and
    * dbt_utils md5 surrogate (CustomerDataLoad.dtsx:169, fct_sales.sql:80). */
  def q18_hash_keys(spark: SparkSession, dir: String): DataFrame =
    supplier(spark, dir).select(
      col("s_suppkey").as("supplier_id"),
      sha2(concat_ws("|", col("s_name"), col("s_nationkey").cast(StringType)), 256)
        .as("sha256_key"),
      md5(concat_ws("-",
        coalesce(col("s_suppkey").cast(StringType), lit("_dbt_utils_surrogate_key_null_")),
        coalesce(col("s_name"), lit("_dbt_utils_surrogate_key_null_"))))
        .as("surrogate_key"))

  val q18Oracle: String =
    """SELECT s_suppkey AS supplier_id,
      |  sha256(concat_ws('|', s_name, CAST(s_nationkey AS VARCHAR))) AS sha256_key,
      |  md5(concat_ws('-',
      |    COALESCE(CAST(s_suppkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
      |    COALESCE(s_name, '_dbt_utils_surrogate_key_null_'))) AS surrogate_key
      |FROM supplier""".stripMargin

  // ---------------------------------------------------------------- §2.6 strings
  /** Scalar string-function parity: CONCAT/SUBSTRING/CHARINDEX(instr,
    * 1-based)/LEN/TRIM/LEFT/RIGHT/UPPER/LOWER/REPLACE (prompts.py:150-158). */
  def q19_string_functions(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir).select(
      col("p_partkey").as("part_id"),
      concat(col("p_brand"), lit(":"), col("p_name")).as("brand_name"),
      substring(col("p_name"), 1, 10).as("name_prefix"),
      instr(col("p_name"), "a").as("first_a_pos"),
      length(col("p_name")).as("name_len"),
      upper(col("p_brand")).as("brand_upper"),
      lower(col("p_type")).as("type_lower"),
      trim(col("p_name")).as("name_trimmed"),
      call_function("right", col("p_type"), lit(5)).as("type_suffix"),
      call_function("replace", col("p_name"), lit(" "), lit("_")).as("name_snake"))

  val q19Oracle: String =
    """SELECT p_partkey AS part_id,
      |  p_brand || ':' || p_name AS brand_name,
      |  substr(p_name, 1, 10) AS name_prefix,
      |  instr(p_name, 'a') AS first_a_pos,
      |  length(p_name) AS name_len,
      |  upper(p_brand) AS brand_upper,
      |  lower(p_type) AS type_lower,
      |  trim(p_name) AS name_trimmed,
      |  right(p_type, 5) AS type_suffix,
      |  replace(p_name, ' ', '_') AS name_snake
      |FROM part""".stripMargin

  // ---------------------------------------------------------------- §2.6 money
  /** Decimal/money arithmetic with per-step NUMERIC pinning
    * (stg_sales__transactions.sql:70-76; SURVEY §7.4.1). */
  def q20_decimal_money_math(spark: SparkSession, dir: String): DataFrame = {
    val price = col("l_extendedprice").cast(DecimalType(18, 2))
    val disc = col("l_discount").cast(DecimalType(5, 4))
    val tax = col("l_tax").cast(DecimalType(5, 4))
    lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      price.cast(DoubleType).as("gross"),
      (price * (lit(1).cast(DecimalType(5, 4)) - disc)).cast(DecimalType(18, 2))
        .cast(DoubleType).as("discounted"),
      ((price * (lit(1).cast(DecimalType(5, 4)) - disc)).cast(DecimalType(18, 2))
        * (lit(1).cast(DecimalType(5, 4)) + tax)).cast(DecimalType(18, 2))
        .cast(DoubleType).as("charged"),
      (price / lit(100).cast(DecimalType(5, 0))).cast(DecimalType(18, 4))
        .cast(DoubleType).as("per_cent_unit"))
  }

  val q20Oracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS gross,
      |  CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS discounted,
      |  CAST(CAST(round(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))), 2) AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(5,4))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS charged,
      |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) / CAST(100 AS DECIMAL(5,0)) AS DECIMAL(18,4)) AS DOUBLE) AS per_cent_unit
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- §2.7
  /** Incremental watermark load: `WHERE modified >= ?` over the watermark
    * (builder.py:320-326 is_incremental block; CustomerDataLoad.dtsx:78). */
  def q21_incremental_filter(spark: SparkSession, dir: String): DataFrame = {
    val watermarkUs = lit(1705795200000000L) // 2024-01-21T00:00:00Z in µs
    eventsNs(spark, dir)
      .filter(col("ts_us") >= watermarkUs)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
  }

  val q21Oracle: String =
    """SELECT event_type, COUNT(*) AS n_new,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE epoch_us(ts) >= 1705795200000000
      |GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- §2.6 dates
  /** Date-function parity: DATEADD/DATEDIFF/DATEPART shapes
    * (prompts.py:157, fct_sales.sql:75 CAST(ts AS DATE)). */
  def q22_date_functions(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir).select(
      col("o_orderkey"),
      to_date(col("o_orderdate")).as("order_date"),
      year(col("o_orderdate")).as("order_year"),
      quarter(col("o_orderdate")).as("order_quarter"),
      month(col("o_orderdate")).as("order_month"),
      dayofmonth(col("o_orderdate")).as("order_day"),
      date_add(to_date(col("o_orderdate")), 30).as("due_date"),
      datediff(lit("1999-01-01").cast(DateType), to_date(col("o_orderdate"))).as("age_days"),
      date_trunc("month", col("o_orderdate")).cast(DateType).as("order_month_start"))

  val q22Oracle: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(year(o_orderdate) AS INT) AS order_year,
      |  CAST(quarter(o_orderdate) AS INT) AS order_quarter,
      |  CAST(month(o_orderdate) AS INT) AS order_month,
      |  CAST(day(o_orderdate) AS INT) AS order_day,
      |  CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
      |  datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS age_days,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month_start
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- A3/§5
  /** Validation suite as data: the dbt-style checks over orders emitted as
    * one report frame (check, target, violations) — every check a single
    * aggregation, unioned; no driver round-trips. */
  def q23_validation_report(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    def row(check: String, target: String, violations: Column, src: DataFrame): DataFrame =
      src.agg(violations.cast(LongType).as("violations"))
        .select(lit(check).as("check"), lit(target).as("target"), col("violations"))
    val pk = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
    row("not_null(o_orderkey)", "orders",
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)), o)
      .unionByName(row("unique(o_orderkey)", "orders",
        sum(when(col("n") > 1, 1L).otherwise(0L)), pk))
      .unionByName(row("accepted_values(o_orderstatus)", "orders",
        sum(when(col("o_orderstatus").isin("F", "O", "P"), 0L).otherwise(1L)), o))
      .unionByName(row("between(o_totalprice,0,)", "orders",
        sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)), o))
      .unionByName(
        o.join(c.select(col("c_custkey")).distinct(),
          col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).cast(LongType).as("violations"))
          .select(lit("relationships(o_custkey->c_custkey)").as("check"),
            lit("orders").as("target"), col("violations")))
  }

  val q23Oracle: String =
    """SELECT 'not_null(o_orderkey)' AS "check", 'orders' AS target,
      |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM orders
      |UNION ALL
      |SELECT 'unique(o_orderkey)', 'orders',
      |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM (SELECT o_orderkey, COUNT(*) n FROM orders GROUP BY 1)
      |UNION ALL
      |SELECT 'accepted_values(o_orderstatus)', 'orders',
      |  CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT) FROM orders
      |UNION ALL
      |SELECT 'between(o_totalprice,0,)', 'orders',
      |  CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |UNION ALL
      |SELECT 'relationships(o_custkey->c_custkey)', 'orders',
      |  CAST(COUNT(*) AS BIGINT) FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)""".stripMargin

  // ------------------------------------------------------------ beyond-parity
  /** Rollup (subtotal + grand-total levels) — not in the reference's
    * surface (SURVEY §2.4 "not present") but free on Spark and part of a
    * complete engine; exact-decimal measures. */
  def q24_rollup(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(Money)).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"))

  val q24Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** Ranking/analytic window functions (row_number/rank/dense_rank/lag) —
    * listed "not present" in the reference (SURVEY §2.5) but required for
    * true SCD2 and top-k; deterministic (value, key) ordering. */
  def q25_window_rank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(12, 2)).cast(DoubleType).as("total_price"),
      row_number().over(w).as("rn"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      lag(col("o_totalprice").cast(DecimalType(12, 2)).cast(DoubleType), 1).over(w)
        .as("prev_price"))
      .filter(col("rn") <= 100)
  }

  val q25Oracle: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
      |    CAST(ROW_NUMBER() OVER w AS INT) AS rn,
      |    CAST(RANK() OVER w AS INT) AS rnk,
      |    CAST(DENSE_RANK() OVER w AS INT) AS drnk,
      |    LAG(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 1) OVER w AS prev_price
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 100""".stripMargin

  /** The SQL API surface (S2's parameterized `SqlCommand` execution
    * path): register scans as views, run ANSI SQL with named parameters
    * through `spark.sql(query, args)` — Catalyst rewrites the IN-subquery
    * and pushes the filters exactly as the DataFrame plans do. */
  def q26_sql_api(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_sql")
    customer(spark, dir).createOrReplaceTempView("customer_sql")
    spark.sql(
      """SELECT c.c_mktsegment AS segment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders_sql o
        |JOIN customer_sql c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderdate >= :cutoff
        |GROUP BY c.c_mktsegment""".stripMargin,
      Map("cutoff" -> "1995-01-01"))
  }

  val q26Oracle: String =
    """SELECT c.c_mktsegment AS segment,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      |GROUP BY c.c_mktsegment""".stripMargin

  /** As-of join (nearest prior order per user at each event time) — the
    * composed union+window operator, no range nested loop
    * ([[graft.ops.AsOfJoin]]). Deterministic tie handling on both sides. */
  def q27_asof_join(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsNs(spark, dir).select(col("user_id"), col("event_id"), col("ts_us"))
    val ord = orders(spark, dir).select(
      col("o_custkey"),
      unix_micros(col("o_orderdate").cast(TimestampType)).as("odate_us"),
      col("o_orderkey").as("asof_order"),
      col("o_totalprice").cast(DecimalType(12, 2)).cast(DoubleType).as("asof_total"))
    graft.ops.AsOfJoin.asOf(ev, ord,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts_us", rightTime = "odate_us",
      rightTiebreak = "asof_order",
      carryCols = Seq("asof_order", "asof_total"))
      .select("user_id", "event_id", "asof_order", "asof_total")
  }

  val q27Oracle: String =
    """WITH l AS (
      |  SELECT user_id AS k, epoch_us(ts) AS t, 1 AS side, CAST(NULL AS BIGINT) AS tie,
      |    event_id, CAST(NULL AS BIGINT) AS ao, CAST(NULL AS DOUBLE) AS at
      |  FROM events),
      |r AS (
      |  SELECT o_custkey, epoch_us(o_orderdate), 0, o_orderkey,
      |    CAST(NULL AS BIGINT), o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
      |  FROM orders),
      |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
      |c AS (
      |  SELECT k, side, event_id,
      |    LAST_VALUE(ao IGNORE NULLS) OVER w AS asof_order,
      |    LAST_VALUE(at IGNORE NULLS) OVER w AS asof_total
      |  FROM u
      |  WINDOW w AS (PARTITION BY k ORDER BY t ASC, side ASC, tie ASC NULLS LAST
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT k AS user_id, event_id, asof_order, asof_total FROM c WHERE side = 1""".stripMargin

  /** Distinct aggregation (§2.4 "not present" in the reference; standard
    * engine surface): per-flag distinct parts/suppliers. */
  def q28_count_distinct(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_suppliers"),
        count(lit(1)).as("n"))

  val q28Oracle: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS distinct_parts,
      |  COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Batch sessionization (gap > 30 min starts a session) — the batch twin
    * of the streaming sessionizer: lag + running sum of session starts,
    * then per-session aggregates. One shuffle on user_id. */
  def q29_sessionization(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    eventsNs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs, 1)
          .when(lag(col("ts_us"), 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("v")).cast(DoubleType).as("total_value"))
  }

  val q29Oracle: String =
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
      |  FROM flagged)
      |SELECT user_id, session_id,
      |  MIN(t) AS session_start_us, MAX(t) AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(v) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, session_id""".stripMargin

  /** Tumbling time windows over events — Spark's `window()` operator (the
    * batch twin of the Structured Streaming windowed aggregate, SURVEY
    * §2.7); boundaries emitted as epoch-µs so both engines compare exact
    * integers. */
  def q30_tumbling_window(spark: SparkSession, dir: String): DataFrame =
    eventsNs(spark, dir)
      .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("event_type"), col("n_events"), col("total_value"))

  val q30Oracle: String =
    """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
      |  epoch_us(ts) - epoch_us(ts) % 3600000000 + 3600000000 AS window_end_us,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** INTERSECT / EXCEPT set-operator semantics (SURVEY §2.5 "not present"
    * in the reference; standard engine surface): customers ordering in
    * both/only one of two years. Computed the 100 TB way — a literal
    * `intersect`/`except` pair scans the fact four times and shuffles four
    * distincts; one scan + one groupBy(custkey) with per-year membership
    * flags is the same set algebra in a single Exchange (the cohorts are
    * disjoint, so the tagged union is just a CASE over the flags). */
  def q31_set_ops(spark: SparkSession, dir: String): DataFrame = {
    val y = year(col("o_orderdate"))
    orders(spark, dir)
      .filter(y === 1995 || y === 1996)
      .groupBy(col("o_custkey"))
      .agg(max(when(y === 1995, 1).otherwise(0)).as("in95"),
        max(when(y === 1996, 1).otherwise(0)).as("in96"))
      .filter(col("in95") === 1)
      .select(
        when(col("in96") === 1, lit("both_years")).otherwise(lit("only_1995"))
          .as("cohort"),
        col("o_custkey").as("customer_id"))
  }

  val q31Oracle: String =
    """WITH c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
      |     c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
      |SELECT 'both_years' AS cohort, o_custkey AS customer_id
      |FROM (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96)
      |UNION ALL
      |SELECT 'only_1995', o_custkey
      |FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)""".stripMargin

  /** Pivot (long → wide) — return-flag quantity matrix per linestatus;
    * exact decimal sums emitted as DOUBLE, absent cells stay NULL on both
    * engines (SUM over an empty CASE set). */
  def q32_pivot(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity").cast(Money)).cast(DoubleType))
      .select(col("l_linestatus"), col("A").as("qty_a"),
        col("N").as("qty_n"), col("R").as("qty_r"))

  val q32Oracle: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_a,
      |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_n,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_r
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  /** The FRONTEND in the correctness gate: parse an engine-authored
    * `.dtsx` from the classpath, compile its dataflow (source schema cast,
    * two full-cache lookups → broadcast joins, SSIS-expression derived
    * column, conditional-split routing tag, observe row count) with
    * [[graft.ops.DataFlowCompiler]], bind tables to the testdata parquet
    * via [[graft.sources.Sources.testdataResolver]], and emit the enriched
    * rows. The oracle re-states the same semantics in SQL — so parser,
    * IR, expression compiler, and operator compiler are all hash-checked. */
  def q33_dtsx_dataflow(spark: SparkSession, dir: String): DataFrame = {
    val in = getClass.getResourceAsStream("/dtsx/LineitemMartETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val pkg = graft.parser.DtsxParser.parseString(xml)
    val flow = pkg.tasks.collectFirst { case d: graft.ir.Ir.DataFlowTask => d }
      .getOrElse(throw new IllegalStateException("no dataflow in package"))
    val compiled = graft.ops.DataFlowCompiler.compile(
      flow, graft.sources.Sources.testdataResolver(spark, dir))
    compiled.df.select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity").cast(DoubleType).as("l_quantity"),
      col("l_extendedprice").cast(DoubleType).as("l_extendedprice"),
      col("l_discount").cast(DoubleType).as("l_discount"),
      col("l_shipdate"),
      col("p_brand"), col("s_name"),
      col("net_price").cast(DoubleType).as("net_price"),
      col(graft.ops.DataFlowCompiler.SplitTagColumn).as("route"))
  }

  val q33Oracle: String =
    """WITH src AS (
      |  SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
      |    l_partkey, l_suppkey,
      |    CAST(l_quantity AS DECIMAL(12,2)) AS qty,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
      |    CAST(l_discount AS DECIMAL(5,4)) AS disc,
      |    l_shipdate
      |  FROM lineitem),
      |derived AS (
      |  SELECT *, CAST(round(price * (1 - disc), 2) AS DECIMAL(18,2)) AS np
      |  FROM src)
      |SELECT d.l_orderkey, d.l_linenumber, d.l_partkey, d.l_suppkey,
      |  CAST(d.qty AS DOUBLE) AS l_quantity,
      |  CAST(d.price AS DOUBLE) AS l_extendedprice,
      |  CAST(d.disc AS DOUBLE) AS l_discount,
      |  d.l_shipdate,
      |  p.p_brand, s.s_name,
      |  CAST(d.np AS DOUBLE) AS net_price,
      |  CASE WHEN d.np > 4000 THEN 'high'
      |       WHEN d.np > 1000 THEN 'mid'
      |       ELSE 'low' END AS route
      |FROM derived d
      |LEFT JOIN part p ON d.l_partkey = p.p_partkey
      |LEFT JOIN supplier s ON d.l_suppkey = s.s_suppkey""".stripMargin

  /** True SCD2 merge in the gate (§7.3's hard part, beyond the
    * reference's lossy rebuild): a deterministic incoming batch flips the
    * segment of every 10th customer; changed keys close out (valid_to set,
    * is_current false) and re-insert as the new current version, unchanged
    * rows pass through. One shuffle on the natural key. */
  def q34_scd2_merge(spark: SparkSession, dir: String): DataFrame = {
    import graft.patterns.ScdType2
    val base = customer(spark, dir).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("customer_name"),
      col("c_mktsegment").as("segment"))
    val current = ScdType2.rebuild(base,
      naturalKey = Seq("customer_id"), tracked = Seq("customer_name", "segment"),
      validFrom = lit("2024-01-01").cast(TimestampType))
    val incoming = base.withColumn("segment",
      when(col("customer_id") % 10 === 0, lit("MACHINERY")).otherwise(col("segment")))
    ScdType2.merge(current, incoming,
      naturalKey = Seq("customer_id"), tracked = Seq("customer_name", "segment"),
      effectiveTs = lit("2024-06-01").cast(TimestampType))
  }

  val q34Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS customer_id, c_name AS customer_name,
      |    c_mktsegment AS segment
      |  FROM customer),
      |cur AS (
      |  SELECT customer_id, customer_name, segment,
      |    md5(COALESCE(CAST(customer_id AS VARCHAR), '_dbt_utils_surrogate_key_null_')) AS surrogate_key,
      |    md5(concat_ws('-',
      |      COALESCE(customer_name, '_dbt_utils_surrogate_key_null_'),
      |      COALESCE(segment, '_dbt_utils_surrogate_key_null_'))) AS row_hash,
      |    TRUE AS is_current,
      |    TIMESTAMP '2024-01-01' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to
      |  FROM base),
      |inc AS (
      |  SELECT customer_id, customer_name,
      |    CASE WHEN customer_id % 10 = 0 THEN 'MACHINERY' ELSE segment END AS segment
      |  FROM base),
      |inc_h AS (
      |  SELECT *,
      |    md5(COALESCE(CAST(customer_id AS VARCHAR), '_dbt_utils_surrogate_key_null_')) AS surrogate_key,
      |    md5(concat_ws('-',
      |      COALESCE(customer_name, '_dbt_utils_surrogate_key_null_'),
      |      COALESCE(segment, '_dbt_utils_surrogate_key_null_'))) AS row_hash
      |  FROM inc),
      |changed AS (
      |  SELECT i.customer_id FROM inc_h i JOIN cur c USING (customer_id)
      |  WHERE c.row_hash <> i.row_hash)
      |SELECT customer_id, customer_name, segment, surrogate_key, row_hash,
      |  is_current, valid_from, valid_to
      |FROM cur WHERE customer_id NOT IN (SELECT customer_id FROM changed)
      |UNION ALL
      |SELECT customer_id, customer_name, segment, surrogate_key, row_hash,
      |  FALSE, valid_from, TIMESTAMP '2024-06-01'
      |FROM cur WHERE customer_id IN (SELECT customer_id FROM changed)
      |UNION ALL
      |SELECT customer_id, customer_name, segment, surrogate_key, row_hash,
      |  TRUE, TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP)
      |FROM inc_h WHERE customer_id IN (SELECT customer_id FROM changed)""".stripMargin

  /** Branched-dataflow frontend in the gate: the `<paths>` graph routes a
    * Conditional Split's outputs into two different derived-column
    * branches that re-merge in a Union All and aggregate —
    * [[graft.ops.DataFlowCompiler.compileDag]]'s general pipeline
    * topology, hash-checked end-to-end (one plan: branches share the
    * source scan subtree, the union aggregates with partial combine). */
  def q35_dtsx_branched(spark: SparkSession, dir: String): DataFrame = {
    val in = getClass.getResourceAsStream("/dtsx/DispositionBranchETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val pkg = graft.parser.DtsxParser.parseString(xml)
    val flow = pkg.tasks.collectFirst { case d: graft.ir.Ir.DataFlowTask => d }
      .getOrElse(throw new IllegalStateException("no dataflow in package"))
    val dag = graft.ops.DataFlowCompiler.compileDag(
      flow, graft.sources.Sources.testdataResolver(spark, dir))
    val (_, rollup) = dag.destinations("Mart Destination")
    rollup.select(
      col("disposition"),
      col("total_amount").cast(DoubleType).as("total_amount"),
      col("total_quantity").cast(DoubleType).as("total_quantity"),
      col("n_rows"))
  }

  val q35Oracle: String =
    """WITH src AS (
      |  SELECT l_returnflag,
      |    CAST(l_quantity AS DECIMAL(12,2)) AS q,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p
      |  FROM lineitem),
      |routed AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 'RETURN' ELSE 'KEEP' END AS disposition,
      |    CASE WHEN l_returnflag = 'R' THEN CAST(0 - p AS DECIMAL(18,2)) ELSE p END AS amount,
      |    q
      |  FROM src)
      |SELECT disposition,
      |  CAST(SUM(amount) AS DOUBLE) AS total_amount,
      |  CAST(SUM(q) AS DOUBLE) AS total_quantity,
      |  COUNT(*) AS n_rows
      |FROM routed GROUP BY disposition""".stripMargin

  /** The watermark-incremental EXECUTOR in the gate (not just the filter
    * shape of q21): the sink's max watermark rides as a broadcast
    * single-row frame — `WHERE updated_at > (SELECT MAX(updated_at) FROM
    * {{ this }})` with no driver round-trip ([[graft.patterns.Incremental]]). */
  def q36_incremental_exec(spark: SparkSession, dir: String): DataFrame = {
    val watermarkUs = 1705795200000000L // 2024-01-21T00:00:00Z
    val ev = eventsNs(spark, dir).select("event_id", "event_type", "ts_us")
    val sink = ev.filter(col("ts_us") < watermarkUs) // the already-loaded rows
    graft.patterns.Incremental.aboveWatermark(ev, sink, "ts_us")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"), min(col("ts_us")).as("first_new_us"))
  }

  val q36Oracle: String =
    """SELECT event_type, COUNT(*) AS n_new, MIN(epoch_us(ts)) AS first_new_us
      |FROM events
      |WHERE epoch_us(ts) > (SELECT MAX(epoch_us(ts)) FROM events
      |                      WHERE epoch_us(ts) < 1705795200000000)
      |GROUP BY event_type""".stripMargin

  /** Execute-SQL rewriter in the gate: a DELETE+INSERT aggregate-refresh
    * statement (the SalesFactETL.dtsx:293-306 pattern) rewrites to a pure
    * SELECT + overwrite ([[graft.patterns.SqlPatternRewriter]]); the
    * SELECT executes through `spark.sql` against a registered view. */
  def q37_sql_rewrite(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir).createOrReplaceTempView("lineitem_sqlr")
    val task = graft.ir.Ir.ExecuteSqlTask(
      name = "Refresh Daily Stats", description = None, connectionId = "",
      sqlStatement =
        """DELETE FROM agg.DailyStats WHERE ship_date >= @start;
          |INSERT INTO agg.DailyStats (ship_date, n, total_qty)
          |SELECT CAST(l_shipdate AS DATE) AS ship_date,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
          |FROM lineitem_sqlr
          |WHERE l_shipdate >= @start
          |GROUP BY CAST(l_shipdate AS DATE)""".stripMargin,
      resultSet = "None")
    val outcome = graft.patterns.SqlPatternRewriter
      .rewrite(spark, task, params = Map("start" -> "TIMESTAMP '1997-06-01'"))
      .getOrElse(throw new IllegalStateException("statement not rewritten"))
    require(outcome.target.contains("agg.DailyStats") &&
      outcome.mode == org.apache.spark.sql.SaveMode.Overwrite,
      s"unexpected rewrite outcome: $outcome")
    outcome.df.get
  }

  val q37Oracle: String =
    """SELECT CAST(l_shipdate AS DATE) AS ship_date,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-06-01'
      |GROUP BY CAST(l_shipdate AS DATE)""".stripMargin

  /** Flat File source/destination (S3) in the gate: write nation to a
    * header CSV, read it back through the DECLARED schema path (never
    * inferSchema — SURVEY §1.1), and emit it; the oracle reads the
    * original parquet. Proves the CSV writer/reader round-trips values
    * (including comma-bearing strings under quoting) byte-identically. */
  def q38_csv_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.ir.Ir.ColumnInfo
    import graft.types.SsisTypes.SsisColumnType
    val tmp = tempDirCleanedOnExit("graft_csv").toString
    graft.sources.Sources.writeCsv(
      nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey"), tmp)
    val declared = List(
      ColumnInfo("n_nationkey", SsisColumnType("i8")),
      ColumnInfo("n_name", SsisColumnType("wstr", Some(25))),
      ColumnInfo("n_regionkey", SsisColumnType("i8")))
    graft.sources.Sources.readCsv(spark, tmp, declared)
  }

  val q38Oracle: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  /** ORC round-trip (S3's columnar sibling): orders — bigints, a
    * TIMESTAMP, a DECIMAL(12,2) and a bounded string — written with
    * [[graft.sources.Sources.writeOrc]] and read back under the declared
    * schema, gated against the plain parquet read. Proves the second
    * columnar interchange format preserves exactly the types the CSV/
    * JSONL round-trips (q38/q62) prove for the flat formats.
    * Scale shape: columnar write + schema-declared columnar read — both
    * splittable, no inference scan. */
  def q82_orc_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.ir.Ir.ColumnInfo
    import graft.types.SsisTypes.SsisColumnType
    val tmp = tempDirCleanedOnExit("graft_orc").toString
    graft.sources.Sources.writeOrc(
      orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
        // parquet testdata reads as TIMESTAMP_NTZ on this runtime; the
        // declared DT_DBTIMESTAMP contract is the session-tz TIMESTAMP,
        // and ORC will not coerce NTZ→LTZ at read — cast at write (an
        // identity under the UTC session convention)
        col("o_orderdate").cast(TimestampType).as("o_orderdate"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("o_totalprice"),
        col("o_orderpriority")), tmp)
    val declared = List(
      ColumnInfo("o_orderkey", SsisColumnType("i8")),
      ColumnInfo("o_custkey", SsisColumnType("i8")),
      ColumnInfo("o_orderdate", SsisColumnType("dbTimeStamp")),
      ColumnInfo("o_totalprice",
        SsisColumnType("numeric", precision = Some(12), scale = Some(2))),
      ColumnInfo("o_orderpriority", SsisColumnType("wstr", Some(15))))
    graft.sources.Sources.readOrc(spark, tmp, declared)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"),
        col("o_orderpriority"))
  }

  val q82Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
      |  o_orderpriority
      |FROM orders""".stripMargin

  /** Analytic SQL through the dtsx frontend — `WindowRankETL.dtsx`'s
    * Execute SQL task carries a ROW_NUMBER window INSERT (the T-SQL
    * reporting-refresh idiom); [[graft.patterns.SqlPatternRewriter]]
    * converts it to a pure select + append and the window runs through
    * `spark.sql` against the registered warehouse views — the same
    * runner scaffold as q52/q53, one more statement class the frontend
    * executes rather than records. Deterministic rank via the
    * (balance DESC, key) tiebreak. */
  def q83_dtsx_window_sql(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "WindowRankETL.dtsx")
      ._1.apply("cust_segment_rank")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast(DoubleType).as("c_acctbal"),
        col("seg_rank").cast(IntegerType).as("seg_rank"))

  val q83Oracle: String =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |    ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_custkey) AS INT) AS seg_rank
      |FROM customer""".stripMargin

  /** Canonical single-table UPDATE through the dtsx frontend —
    * `UpdateCustomerETL.dtsx`'s second Execute SQL task carries a
    * multi-column SET with a WHERE predicate;
    * [[graft.patterns.UpdateSqlCompiler]] executes it as a state
    * replacement (one narrow CASE projection, pre-update-row SET
    * semantics, Overwrite) — the q80 MERGE treatment for the other
    * mutable-table verb. Non-canonical UPDATEs (FROM legs, subqueries)
    * still fall to manual review via SqlPatternRewriter's disqualifier. */
  def q85_dtsx_update(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "UpdateCustomerETL.dtsx")
      ._1.apply("cust_balance")
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast(DoubleType).as("c_acctbal"),
        col("c_mktsegment"))

  val q85Oracle: String =
    """WITH staged AS (
      |  SELECT c_custkey, c_name,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, c_mktsegment
      |  FROM customer)
      |SELECT c_custkey,
      |  CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 0
      |       THEN upper(c_name) ELSE c_name END AS c_name,
      |  CAST(CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 0
      |       THEN CAST(c_acctbal + 25.50 AS DECIMAL(12,2))
      |       ELSE c_acctbal END AS DOUBLE) AS c_acctbal,
      |  c_mktsegment
      |FROM staged""".stripMargin

  /** Canonical standalone DELETE through the dtsx frontend —
    * `DeleteInactiveETL.dtsx`'s second Execute SQL task purges by
    * predicate; [[graft.patterns.DeleteSqlCompiler]] keeps the
    * NOT-TRUE rows and overwrites, completing the executed DML verb
    * family (INSERT/UPDATE/DELETE/MERGE all run through the runner).
    * The DELETE+INSERT refresh class (q17/q37) still routes to
    * SqlPatternRewriter — spec-pinned in PipelineSpec. */
  def q86_dtsx_delete(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "DeleteInactiveETL.dtsx")
      ._1.apply("orders_active")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"),
        col("o_orderpriority"))

  val q86Oracle: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
      |    o_orderpriority
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
      |FROM staged
      |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)""".stripMargin

  /** Table-maintenance COMPACTION on the hash path (upgrades the
    * spec-only [[graft.ops.Compaction]] surface): the events table is
    * written day-partitioned with deliberate small-files pressure (16
    * writer tasks fan a file per task per day), compacted IN PLACE
    * (listing-driven per-partition-value file sizing, atomic swap), and
    * the READ-BACK is hash-checked against the plain-table oracle —
    * the maintenance pass must rewrite layout without losing,
    * duplicating, or altering one row while the Hive partition columns
    * keep planning-time pruning. The file-count shrink is asserted here
    * (a compaction that didn't compact must fail the gate, not pass it
    * vacuously) and in ExtendedComponentsSpec.
    * Scale shape: output sizing comes from a directory LISTING (no data
    * job); the rewrite is one shuffle on (day, salt) sized per
    * partition value's bytes — a 10 GB day gets many files, a 1 MB day
    * exactly one. */
  def q87_compaction_maintenance(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDirCleanedOnExit("graft-compact").toString
    eventsNs(spark, dir)
      .withColumn("day", date_from_unix_date(
        call_function("div",
          col("ts_us") - pmod(col("ts_us"), lit(86400000000L)),
          lit(86400000000L)).cast(IntegerType)))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value").cast(DoubleType).as("value"), col("day"))
      .repartition(16)
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val stats = graft.ops.Compaction.compact(spark, out,
      targetFileBytes = 64L * 1024 * 1024)
    require(stats.filesAfter < stats.filesBefore,
      s"compaction did not reduce the file count: $stats")
    Tables.open(spark, out)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"),
        col("day").cast(StringType).as("day"))
  }

  val q87Oracle: String =
    """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |  CAST(value AS DOUBLE) AS value,
      |  CAST(CAST(ts AS DATE) AS VARCHAR) AS day
      |FROM events""".stripMargin

  /** Multi-statement Execute SQL SCRIPT through the dtsx frontend —
    * `ScriptedMartETL.dtsx`'s single task batches INSERT; UPDATE;
    * DELETE (the T-SQL scripting idiom). The warehouse executor splits
    * on quote-aware semicolons and compiles each statement through the
    * single-statement chain against a SHADOW overlay (the UPDATE sees
    * the INSERT's frame, the DELETE sees post-UPDATE prices — the
    * oracle replays exactly that sequencing), committing only when the
    * whole script compiles. The DELETE+INSERT refresh class is
    * unaffected: the whole-statement chain runs first, so
    * SqlPatternRewriter's overwrite semantics keep owning it. */
  def q88_dtsx_script(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "ScriptedMartETL.dtsx")
      ._1.apply("mart_orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"))

  val q88Oracle: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders),
      |upd AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'O'
      |         THEN CAST(p - 10.00 AS DECIMAL(12,2)) ELSE p END AS p
      |  FROM staged)
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(p AS DOUBLE) AS o_totalprice
      |FROM upd WHERE NOT (p < 60000)""".stripMargin

  /** The reference's sync-log idiom END-TO-END — `SyncLogETL.dtsx`
    * replays InventorySync's "Update Sync Log" statement class: a
    * literal multi-row `INSERT … VALUES` bootstraps the audit table
    * inside a VALUES+UPDATE script ([[graft.patterns
    * .InsertValuesSqlCompiler]] + the q88 script executor), then a
    * second task appends a partial-column row whose absent column lands
    * as a typed NULL. Literals only — a GETDATE() column could never
    * hash-match an oracle (the GETDATE→current_timestamp translation is
    * spec-tested instead). */
  def q89_dtsx_values_log(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "SyncLogETL.dtsx")
      ._1.apply("sync_audit")
      .select(col("package_name"),
        col("rows_processed").cast(LongType).as("rows_processed"),
        col("status"))

  val q89Oracle: String =
    """SELECT * FROM (VALUES
      |  ('OrdersSync', CAST(15000 AS BIGINT), 'success'),
      |  ('CustomerSync', CAST(0 AS BIGINT), 'NOOP'),
      |  ('InventorySync', CAST(777 AS BIGINT), NULL))
      |  t(package_name, rows_processed, status)""".stripMargin

  /** CROSS-STATEMENT read inside a script — the q88 package's final
    * statement is an `INSERT … SELECT … FROM [mart_orders]` over the
    * table the SAME script built and mutated two statements earlier:
    * the SELECT compiles through SqlPatternRewriter's `spark.sql`, so
    * the overlay's temp-view registration is what it reads — gating the
    * exact mechanism that keeps "later statements see earlier writes"
    * true for the rewriter path, not just the resolver-based compilers.
    * The oracle replays the full INSERT→UPDATE→DELETE pipeline before
    * the rollup. */
  def q90_dtsx_script_select(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "ScriptedMartETL.dtsx")
      ._1.apply("mart_summary")
      .select(col("o_orderstatus"),
        col("n_orders").cast(LongType).as("n_orders"))

  val q90Oracle: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders),
      |upd AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'O'
      |         THEN CAST(p - 10.00 AS DECIMAL(12,2)) ELSE p END AS p
      |  FROM staged)
      |SELECT o_orderstatus, COUNT(*) AS n_orders
      |FROM upd WHERE NOT (p < 60000)
      |GROUP BY o_orderstatus""".stripMargin

  /** The reference InventorySync "Update Sync Log" task shape, nearly
    * VERBATIM — `VarSyncLogETL.dtsx`: one Execute SQL script whose
    * literal VALUES insert carries a `?` parameter (bound by the runner
    * from the package variable, the SSIS OLE DB convention) and two
    * GETDATE() timestamps, followed by the processed-flag UPDATE. The
    * gate reads the deterministic log columns (timestamps stay in the
    * frame but out of the hash — wall-clock can never match an oracle)
    * joined with the post-flip staging rollup, so parameter binding,
    * the VALUES compile, GETDATE translation, AND the script's second
    * statement are all certified in one row. */
  def q91_dtsx_param_synclog(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "VarSyncLogETL.dtsx")
    val log = w("etl_sync_log").select(col("sync_type"),
      col("records_processed").cast(LongType).as("records_processed"),
      col("status"))
    val flagged = w("inv_staging").agg(
      sum(when(col("processed_flag") === 1, 1L).otherwise(0L)).as("n_flagged"),
      count(lit(1)).cast(LongType).as("n_items"))
    log.crossJoin(flagged)
  }

  val q91Oracle: String =
    """SELECT 'Inventory' AS sync_type,
      |  CAST(4242 AS BIGINT) AS records_processed,
      |  'Success' AS status,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_flagged,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_items""".stripMargin

  /** Correlated UPDATE…FROM (the T-SQL join-update) through the dtsx
    * frontend — `UpdateOrdersJoinETL.dtsx`'s second Execute SQL task
    * joins the staged orders table to the customer dimension and
    * adjusts matched rows (SET referencing SOURCE columns, WHERE over
    * source columns); [[graft.patterns.UpdateFromSqlCompiler]] executes
    * it as a state replacement over ONE target×source left join with
    * the multi-match guard riding the same frame. The join key
    * (c_custkey, unique in the dimension) makes the statement
    * deterministic — the shape class the compiler accepts. */
  def q92_dtsx_update_from(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "UpdateOrdersJoinETL.dtsx")
      ._1.apply("orders_priced")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"),
        col("o_orderpriority"))

  val q92Oracle: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
      |    o_orderpriority
      |  FROM orders)
      |SELECT s.o_orderkey, s.o_custkey,
      |  CAST(CASE WHEN c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 0
      |       THEN CAST(s.o_totalprice + CAST(c.c_acctbal AS DECIMAL(12,2))
      |            AS DECIMAL(12,2))
      |       ELSE s.o_totalprice END AS DOUBLE) AS o_totalprice,
      |  CASE WHEN c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 0
      |       THEN 'ADJ' ELSE s.o_orderpriority END AS o_orderpriority
      |FROM staged s JOIN customer c ON s.o_custkey = c.c_custkey""".stripMargin

  /** RANK() through the dtsx frontend — `RankPriorityETL.dtsx` carries
    * the tie-group twin of q83's ROW_NUMBER idiom: 5 priority values
    * over the orders fact give tie groups of ~N/15 rows, the shape
    * whose raw window used to be the one remaining executed-SQL scale
    * wall. [[graft.patterns.WindowSqlLowering]] now routes RANK and
    * DENSE_RANK through [[graft.ops.RankLowering.rankLike]] — one
    * map-side-combined groupBy to the distinct key frame, bounded-task
    * two-phase rank over the keys, null-safe full-key join back — so a
    * tie group straddling a range-bucket boundary is unobservable. */
  def q93_dtsx_rank_sql(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "RankPriorityETL.dtsx")
      ._1.apply("order_priority_rank")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("prio_rank").cast(IntegerType).as("prio_rank"))

  val q93Oracle: String =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |  CAST(RANK() OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_orderpriority) AS INT) AS prio_rank
      |FROM orders""".stripMargin

  /** Correlated DELETE…FROM (the T-SQL join-delete) through the dtsx
    * frontend — `DeleteOrdersJoinETL.dtsx` purges staged orders whose
    * customer sits in a segment with a negative balance: deletion keyed
    * by REFERENCE data, the purge idiom real estates author.
    * [[graft.patterns.DeleteFromSqlCompiler]] executes it as ONE
    * target×source left-anti join on `joinCond AND wherePred` — no
    * multi-match guard needed (deletion is idempotent in T-SQL too). */
  def q94_dtsx_delete_from(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "DeleteOrdersJoinETL.dtsx")
      ._1.apply("orders_working")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"))

  val q94Oracle: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice
      |  FROM orders)
      |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus,
      |  CAST(s.o_totalprice AS DOUBLE) AS o_totalprice
      |FROM staged s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM customer c
      |  WHERE s.o_custkey = c.c_custkey
      |    AND c.c_mktsegment = 'MACHINERY' AND c.c_acctbal < 0)""".stripMargin

  /** NTILE(4) through the dtsx frontend — `NtileQuartileETL.dtsx` bands
    * order values into quartiles within status, the reporting idiom
    * BI-facing packages author. [[graft.patterns.WindowSqlLowering]]
    * routes it through [[graft.ops.RankLowering.ntile]]: the two-phase
    * row number plus one partial-combining partition-count aggregate
    * and a narrow integer-`div` projection (SQL's uneven-split rule:
    * the first `cnt % n` tiles carry one extra row). The total order
    * key (price, key) is what makes NTILE deterministic — ties split
    * arbitrarily otherwise. */
  def q95_dtsx_ntile_sql(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "NtileQuartileETL.dtsx")
      ._1.apply("order_value_quartile")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"),
        col("value_quartile").cast(IntegerType).as("value_quartile"))

  val q95Oracle: String =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
      |  CAST(NTILE(4) OVER (PARTITION BY o_orderstatus
      |    ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey) AS INT)
      |    AS value_quartile
      |FROM orders""".stripMargin

  /** Transaction-wrapped script batch through the dtsx frontend —
    * `TransactionalMartETL.dtsx` carries the canonical T-SQL dressing
    * (`SET NOCOUNT ON; BEGIN TRANSACTION; … COMMIT;`) around an
    * INSERT→UPDATE→DELETE batch. [[graft.patterns.ScriptedSqlExecutor]]
    * strips the wrapper statements — the shadow overlay's
    * commit-only-when-every-statement-compiles rule IS the transaction
    * contract — and runs the batch all-or-nothing; a ROLLBACK would
    * decline the whole task to manual review (control flow this replay
    * cannot express). */
  def q96_dtsx_txn_script(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "TransactionalMartETL.dtsx")
      ._1.apply("mart_tx")
      .select(col("s_suppkey"), col("s_nationkey").cast(IntegerType)
        .as("s_nationkey"),
        col("s_acctbal").cast(DoubleType).as("s_acctbal"))

  val q96Oracle: String =
    """WITH staged AS (
      |  SELECT s_suppkey, s_nationkey,
      |    CAST(s_acctbal AS DECIMAL(12,2)) AS s_acctbal
      |  FROM supplier),
      |upd AS (
      |  SELECT s_suppkey, s_nationkey,
      |    CASE WHEN s_acctbal < 0
      |         THEN CAST(s_acctbal * 2 AS DECIMAL(12,2))
      |         ELSE s_acctbal END AS s_acctbal
      |  FROM staged)
      |SELECT s_suppkey, CAST(s_nationkey AS INT) AS s_nationkey,
      |  CAST(s_acctbal AS DOUBLE) AS s_acctbal
      |FROM upd WHERE s_nationkey <> 3""".stripMargin

  /** T-SQL `SELECT … INTO` through the dtsx frontend —
    * `SelectIntoMartETL.dtsx` creates a join+aggregate mart in one
    * statement, the other ubiquitous table-creation idiom beside
    * INSERT…SELECT. [[graft.patterns.SelectIntoSqlCompiler]] excises
    * the top-level INTO clause, runs the pure SELECT (scale-safe rank
    * lowering applies when the shape fits), and writes the target's
    * first generation; a pre-existing target aborts loudly (T-SQL
    * error 2714 parity). */
  def q97_dtsx_select_into(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "SelectIntoMartETL.dtsx")
      ._1.apply("nation_supplier_mart")
      .select(col("n_nationkey").cast(IntegerType).as("n_nationkey"),
        col("n_name"),
        col("n_suppliers").cast(LongType).as("n_suppliers"),
        col("total_bal").cast(DoubleType).as("total_bal"))

  val q97Oracle: String =
    """SELECT CAST(n.n_nationkey AS INT) AS n_nationkey, n.n_name,
      |  COUNT(*) AS n_suppliers,
      |  CAST(CAST(SUM(CAST(s.s_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2))
      |    AS DOUBLE) AS total_bal
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |GROUP BY n.n_nationkey, n.n_name""".stripMargin

  /** The reference InventorySync WATERMARK LOOP executed end-to-end —
    * `WatermarkLoopETL.dtsx` (q98): seed a sync log, fetch the last
    * successful watermark with the reference's own statement shape
    * (`SELECT TOP 1 … ORDER BY … DESC`, SingleRow result bound to a
    * package variable — [[graft.patterns.SqlPatternRewriter.translateTop]]
    * turns TOP into LIMIT, the runner stores the one-row scalar), then
    * load the delta past the watermark through a `?` parameter bound
    * from that variable. The full incremental handshake EXECUTES, where
    * q13/q21/q36 covered its pieces natively. */
  def q98_dtsx_watermark_loop(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "WatermarkLoopETL.dtsx")
      ._1.apply("orders_delta")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))

  val q98Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderdate
      |FROM orders
      |WHERE o_orderdate > TIMESTAMP '1997-06-01 00:00:00'""".stripMargin

  /** The reference SalesFactETL GUARD BLOCK executed — `GuardedFactETL
    * .dtsx` (q99): the `DECLARE / SELECT @x = COUNT(*) / IF … RAISERROR`
    * pre-ETL verification task runs through the script executor
    * ([[graft.patterns.ScriptedSqlExecutor]]: scalar collects bind as
    * typed literals, the `IF … RAISERROR` is an
    * [[graft.patterns.IfLadderSqlCompiler]] guard leg; a tripped
    * severity-16 guard fails the task exactly like SSIS), and only
    * then the guarded fact load
    * executes. This was the LAST statement class in the reference's own
    * sample packages that only classified instead of executing. */
  def q99_dtsx_guard_block(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "GuardedFactETL.dtsx")
      ._1.apply("guarded_fact")
      .select(col("o_orderkey"),
        col("c_nationkey").cast(IntegerType).as("c_nationkey"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"))

  val q99Oracle: String =
    """SELECT o.o_orderkey, CAST(c.c_nationkey AS INT) AS c_nationkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin

  /** FLAGSHIP composite — `ReferenceParityETL.dtsx` (q100): every
    * Execute SQL statement class the reference's three sample packages
    * author, composed through ONE orchestrated DAG — the SalesFactETL
    * guard block, the CustomerDataLoad TRUNCATE+reload and two-verb
    * hash-guarded MERGE, and the InventorySync watermark fetch
    * (TOP 1 → SingleRow → variable) feeding a parameterized delta load
    * + sync-log append script. The gate certifies the post-run state of
    * all three planes in one row: the merged dimension's rollup, the
    * delta count past the fetched watermark, and the log's success
    * count (3 = 2 seeded + the appended entry; GETDATE timestamps stay
    * out of the hash). */
  def q100_dtsx_reference_composite(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ReferenceParityETL.dtsx")
    val dim = w("dim_customer").agg(
      count(lit(1)).as("n_dim"),
      sum(col("c_acctbal")).cast(DoubleType).as("dim_bal"))
    val delta = w("orders_inc").agg(count(lit(1)).as("n_delta"))
    val log = w("ref_sync_log").filter(col("status") === "Success")
      .agg(count(lit(1)).as("n_log_success"))
    dim.crossJoin(delta).crossJoin(log)
  }

  val q100Oracle: String =
    """WITH stg AS (
      |  SELECT c_custkey, UPPER(c_name) AS c_name,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal
      |  FROM customer WHERE c_custkey % 4 <> 3),
      |dim0 AS (
      |  SELECT c_custkey, c_name,
      |    CAST(c_acctbal - 5 AS DECIMAL(12,2)) AS c_acctbal
      |  FROM customer WHERE c_custkey % 2 = 0),
      |merged AS (
      |  SELECT d.c_custkey, d.c_name, d.c_acctbal FROM dim0 d
      |  WHERE NOT EXISTS (SELECT 1 FROM stg s WHERE s.c_custkey = d.c_custkey)
      |  UNION ALL
      |  SELECT s.c_custkey, s.c_name, s.c_acctbal
      |  FROM dim0 d JOIN stg s ON d.c_custkey = s.c_custkey
      |  UNION ALL
      |  SELECT s.c_custkey, s.c_name, s.c_acctbal FROM stg s
      |  WHERE NOT EXISTS (SELECT 1 FROM dim0 d WHERE d.c_custkey = s.c_custkey))
      |SELECT (SELECT COUNT(*) FROM merged) AS n_dim,
      |  (SELECT CAST(SUM(c_acctbal) AS DOUBLE) FROM merged) AS dim_bal,
      |  (SELECT COUNT(*) FROM orders
      |   WHERE o_orderdate > TIMESTAMP '1997-06-01 00:00:00') AS n_delta,
      |  CAST(3 AS BIGINT) AS n_log_success""".stripMargin

  /** T-SQL `#temp` TABLE staging script through the dtsx frontend —
    * `TempTableMartETL.dtsx` (q101): aggregate orders into
    * `#cust_orders`, join the temp against customer into a real mart,
    * `DROP TABLE` the temp. [[graft.patterns.ScriptedSqlExecutor]]
    * rewrites every `#name` to an overlay-safe identifier, sequences
    * the statements against the shadow overlay, and commits ONLY the
    * mart — the temp dies at script end (tempdb session-scope parity),
    * re-creating a live temp aborts with T-SQL 2714, and `##global`
    * temps decline. The reference's identifier validator rejects `#`
    * outright (`src/parser/utils.py:30-32`) — this surface executed
    * nowhere before. Scale shape: the temp is a named Catalyst plan,
    * not a materialization — the mart compiles to ONE agg + join DAG. */
  def q101_dtsx_temp_table(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "TempTableMartETL.dtsx")
      ._1.apply("customer_order_mart")
      .select(col("c_custkey"), col("c_name"),
        col("n_orders").cast(LongType).as("n_orders"),
        col("total_spend").cast(DoubleType).as("total_spend"))

  val q101Oracle: String =
    """WITH co AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
      |      AS total_spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c.c_custkey, c.c_name, co.n_orders,
      |  CAST(co.total_spend AS DOUBLE) AS total_spend
      |FROM customer c JOIN co ON c.c_custkey = co.o_custkey
      |WHERE co.n_orders >= 2""".stripMargin

  /** T-SQL `@@ROWCOUNT` audit-log idiom through the dtsx frontend —
    * `RowCountAuditETL.dtsx` (q102): stage orders, flag high-value rows,
    * and append the rows-affected fact to an audit log in the NEXT
    * statement. [[graft.patterns.ScriptedSqlExecutor]] substitutes the
    * UPDATE's lazily-counted affected-rows thunk
    * ([[graft.pipeline.PackageRunner.SqlOutcome]]`.affected`) into the
    * `@@ROWCOUNT` read; other `@@vars`, a read with no countable
    * predecessor, and a read after MERGE (three-verb total this compile
    * does not state) decline to manual review. The gate certifies the
    * LOGGED count equals the flagged-row count the update really
    * applied. Scale shape: the count is one predicate-filtered action
    * over the staged frame, evaluated once, only because the script
    * actually reads it. */
  def q102_dtsx_rowcount_audit(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "RowCountAuditETL.dtsx")
    val audit = w("etl_row_audit").select(col("task_name"),
      col("rows_affected").cast(LongType).as("rows_affected"))
    val stg = w("stg_orders").agg(
      count(when(col("o_orderstatus") === "H", lit(1))).as("n_flagged"),
      count(lit(1)).as("n_total"))
    audit.crossJoin(stg)
  }

  val q102Oracle: String =
    """WITH staged AS (
      |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders)
      |SELECT 'flag_high_value' AS task_name,
      |  CAST((SELECT COUNT(*) FROM staged WHERE p > 300000) AS BIGINT)
      |    AS rows_affected,
      |  (SELECT COUNT(*) FROM staged WHERE p > 300000) AS n_flagged,
      |  (SELECT COUNT(*) FROM staged) AS n_total""".stripMargin

  /** T-SQL counter `WHILE` loop through the dtsx frontend —
    * `WhileLoopBackfillETL.dtsx` (q103): the month-at-a-time
    * batch-backfill idiom (`WHILE @m <= 3 … INSERT … WHERE MONTH(d) =
    * @m; SET @m = @m + 1`). [[graft.patterns.WhileLoopSqlCompiler]]
    * driver-evaluates the control flow (FROM-less arithmetic only — a
    * data-dependent loop stays manual review) and macro-expands the
    * body into a flat statement list that executes through
    * [[graft.patterns.ScriptedSqlExecutor]]'s overlay, composing with
    * #temp/@@ROWCOUNT; an over-[[graft.patterns.WhileLoopSqlCompiler.MaxIterations]]
    * loop declines rather than exploding the plan. Scale shape: each
    * iteration's INSERT…SELECT is one lazy Catalyst plan unioned into
    * the overlay — the loop costs |iterations| plan builds, the data
    * one job at commit. */
  def q103_dtsx_while_loop(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "WhileLoopBackfillETL.dtsx")
      ._1.apply("q1_orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("month_no").cast(IntegerType).as("month_no"))

  val q103Oracle: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(MONTH(o_orderdate) AS INT) AS month_no
      |FROM orders
      |WHERE YEAR(o_orderdate) = 1997 AND MONTH(o_orderdate) <= 3""".stripMargin

  /** T-SQL `CONVERT(type, expr, style)` through the dtsx frontend —
    * `ConvertStyleETL.dtsx` (q104): the date-keyed mart projection
    * real estates write with CONVERT style codes (112 = yyyymmdd
    * surrogate day keys, 23 = ISO date; nested CONVERTs). [[graft
    * .patterns.SqlText.translateConvert]] rewrites char-target +
    * date-style calls to `date_format` and everything else to `CAST`,
    * innermost-first; unknown styles/types stay in place and fail
    * loudly. Scale shape: pure narrow projection over the pruned
    * scan — translation is compile-time text work, zero plan cost. */
  def q104_dtsx_convert_style(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "ConvertStyleETL.dtsx")
      ._1.apply("orders_keyed")
      .select(col("o_orderkey"), col("day_key"), col("day_iso"),
        col("price").cast(DoubleType).as("price"))

  val q104Oracle: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y%m%d') AS day_key,
      |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day_iso,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin

  /** T-SQL `IF [NOT] EXISTS` conditional branches through the dtsx
    * frontend — `IfExistsBranchETL.dtsx` (q105): the data-driven
    * conditional-load idiom [[graft.patterns.SqlPatternRewriter]]
    * deliberately disqualifies (its embedded-UPDATE rule exists so the
    * IF-EXISTS upsert is never HALF-executed — now the whole statement
    * executes as an [[graft.patterns.IfLadderSqlCompiler]] ladder in
    * the script executor). The gate
    * drives a THEN branch, a BEGIN/END-dressed ELSE branch, and a
    * NOT-EXISTS vacuous skip; the probe is a LIMIT-1 driver fact, the
    * untaken branch must still be ownable (a data flip next run cannot
    * fail the package). Scale shape: the probe is a `limit(1)` job
    * over the pushed-down predicate; the taken branch compiles exactly
    * as it would standalone. */
  def q105_dtsx_if_exists(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "IfExistsBranchETL.dtsx")
      ._1.apply("load_alerts")
      .select(col("chk"), col("kind"))

  val q105Oracle: String =
    """SELECT 'seed' AS chk, 'init' AS kind
      |UNION ALL
      |SELECT 't2',
      |  CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 100000)
      |       THEN 'high_value_present' ELSE 'none' END
      |UNION ALL
      |SELECT 't3',
      |  CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 99999999)
      |       THEN 'impossible' ELSE 'as_expected' END""".stripMargin

  /** CTE-prefixed DML through the dtsx frontend — `CteInsertETL.dtsx`
    * (q106): `WITH c AS (…) INSERT INTO t SELECT … FROM c`, T-SQL's
    * other staging spelling. [[graft.patterns.SqlPatternRewriter]]
    * re-attaches the CTE prefix to the extracted SELECT — without the
    * re-attachment the select references CTE names that no longer
    * exist and every WITH-authored task fails; WITH-leading pure
    * SELECTs (CTE watermark reads) are owned too. Scale shape:
    * Catalyst inlines the CTE — the plan is the same join+agg DAG the
    * expanded query would build. */
  def q106_dtsx_cte_insert(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "CteInsertETL.dtsx")
      ._1.apply("repeat_customers")
      .select(col("c_custkey"), col("c_name"),
        col("n_orders").cast(LongType).as("n_orders"))

  val q106Oracle: String =
    """WITH big AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders
      |  FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3)
      |SELECT c.c_custkey, c.c_name, b.n_orders
      |FROM customer c JOIN big b ON c.c_custkey = b.o_custkey""".stripMargin

  /** T-SQL `BEGIN TRY / BEGIN CATCH` through the dtsx frontend —
    * `TryCatchAuditETL.dtsx` (q107): the error-logging dressing real
    * ETL batches wear. [[graft.patterns.ScriptedSqlExecutor]] catches
    * this engine's EAGER abort classes (the same errors T-SQL raises —
    * here a 2714 SELECT-INTO collision), keeps the pre-failure
    * statements' staged effects (T-SQL without XACT_ABORT — the
    * failing statement staged nothing, aborts fire before staging),
    * and runs the CATCH with `ERROR_MESSAGE()` bound to the caught
    * text; a succeeding TRY never runs its CATCH. The gate certifies
    * the kept pre-failure rows, the happy-path rows, the single error
    * row, and that the logged text names the 2714. */
  def q107_dtsx_try_catch(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "TryCatchAuditETL.dtsx")
    val staged = w("stage_tc").agg(count(lit(1)).as("n_staged"))
    val ok = w("ok_tc").agg(count(lit(1)).as("n_ok"))
    val errs = w("etl_errors").agg(count(lit(1)).as("n_errors"),
      max(col("error_text").contains("2714")).as("has_2714"),
      max(col("task_name")).as("err_task"))
    staged.crossJoin(ok).crossJoin(errs)
  }

  val q107Oracle: String =
    """SELECT
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 0) AS n_staged,
      |  CAST(2 AS BIGINT) AS n_ok,
      |  CAST(1 AS BIGINT) AS n_errors,
      |  TRUE AS has_2714,
      |  'stage_load' AS err_task""".stripMargin

  /** Literal dynamic SQL through the dtsx frontend — `DynamicSqlETL
    * .dtsx` (q108): `EXEC sp_executesql N'…'` and `EXEC('…')` wrappers
    * around STATIC statements, the dynamic-SQL habit real estates wear
    * (the reference sends every EXEC to manual review).
    * [[graft.patterns.ExecLiteralSqlCompiler]] proves the argument is
    * exactly one string literal (masked scan — a `+`/`,` outside the
    * literal means concatenation/params and declines), undoes the `''`
    * escapes, and compiles the inner statement through the SAME chain
    * it would take written inline; EXEC towers decline. Scale shape:
    * the unwrap is compile-time text work — the inner statements plan
    * exactly as q-native ones. */
  def q108_dtsx_dynamic_sql(spark: SparkSession, dir: String): DataFrame =
    runDtsxWarehousePackage(spark, dir, "DynamicSqlETL.dtsx")
      ._1.apply("dyn_nation")
      .select(col("n_nationkey").cast(IntegerType).as("n_nationkey"),
        col("n_name"))

  val q108Oracle: String =
    """SELECT CAST(n_nationkey AS INT) AS n_nationkey,
      |  CASE WHEN n_name = 'GERMANY' THEN 'GERMANY_DE' ELSE n_name END
      |    AS n_name
      |FROM nation WHERE n_name <> 'FRANCE'""".stripMargin

  /** Multi-statement IF EXISTS branches through the dtsx frontend —
    * `ConditionalReloadETL.dtsx` (q109): the conditional
    * full-vs-incremental reload idiom (`IF EXISTS(control='full')
    * BEGIN clear; reload; flip; END ELSE BEGIN audit; audit; END`).
    * The dispatch probes eagerly and routes the TAKEN branch through
    * [[graft.patterns.ScriptedSqlExecutor]]'s overlay (so #temp /
    * @@ROWCOUNT compose inside branches); the same statement
    * re-evaluated after the flip takes the ELSE branch — both paths
    * gate in one run. Scale shape: one LIMIT-1 probe per evaluation; the
    * branch statements plan as q-native. */
  def q109_dtsx_if_exists_block(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ConditionalReloadETL.dtsx")
    val mart = w("region_mart").agg(count(lit(1)).as("n_mart"),
      count(when(col("r_name") === "stale", lit(1))).as("n_stale"))
    val mode = w("lc_control").agg(max(col("mode")).as("mode"))
    val audit = w("lc_audit").agg(count(lit(1)).as("n_audit"))
    mart.crossJoin(mode).crossJoin(audit)
  }

  val q109Oracle: String =
    """SELECT (SELECT COUNT(*) FROM region) AS n_mart,
      |  CAST(0 AS BIGINT) AS n_stale,
      |  'incremental' AS mode,
      |  CAST(2 AS BIGINT) AS n_audit""".stripMargin

  /** T-SQL `OUTPUT … INTO` through the dtsx frontend —
    * `AuditedPurgeETL.dtsx` archives purged rows from a DELETE
    * (archive-before-delete) and writes a pre/post-image price audit
    * from an UPDATE ([[graft.patterns.OutputIntoSqlCompiler]]: the
    * audit append rides [[graft.pipeline.PackageRunner.SqlOutcome]]'s
    * `side` writes, applied before the state replacement; both frames
    * are narrow projections of one pre-state scan — zero joins). The
    * gate certifies all three surfaces: the archive rows, the audit's
    * old/new images, and the final live-table state. */
  def q110_dtsx_output_into(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "AuditedPurgeETL.dtsx")
    val archive = w("orders_archive").select(col("o_orderkey"),
      lit("archive").as("kind"),
      col("o_totalprice").cast(DoubleType).as("old_price"),
      lit(null).cast(DoubleType).as("new_price"), col("o_orderpriority"))
    val audit = w("price_audit").select(col("o_orderkey"), lit("audit").as("kind"),
      col("old_price").cast(DoubleType).as("old_price"),
      col("new_price").cast(DoubleType).as("new_price"), col("o_orderpriority"))
    val live = w("orders_live").select(col("o_orderkey"), lit("final").as("kind"),
      lit(null).cast(DoubleType).as("old_price"),
      col("o_totalprice").cast(DoubleType).as("new_price"), col("o_orderpriority"))
    archive.unionByName(audit).unionByName(live)
  }

  val q110Oracle: String =
    """WITH live0 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, o_orderpriority
      |  FROM orders),
      |purged AS (
      |  SELECT * FROM live0 WHERE o_orderstatus = 'F' AND o_totalprice < 100000),
      |live1 AS (
      |  SELECT * FROM live0
      |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)),
      |audit AS (
      |  SELECT o_orderkey, o_totalprice AS old_price,
      |    CAST(o_totalprice + 12.75 AS DECIMAL(12,2)) AS new_price,
      |    o_orderpriority
      |  FROM live1 WHERE o_orderpriority = '1-URGENT'),
      |live2 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderpriority = '1-URGENT'
      |         THEN CAST(o_totalprice + 12.75 AS DECIMAL(12,2))
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderpriority
      |  FROM live1)
      |SELECT o_orderkey, 'archive' AS kind,
      |  CAST(o_totalprice AS DOUBLE) AS old_price,
      |  CAST(NULL AS DOUBLE) AS new_price, o_orderpriority
      |FROM purged
      |UNION ALL
      |SELECT o_orderkey, 'audit', CAST(old_price AS DOUBLE),
      |  CAST(new_price AS DOUBLE), o_orderpriority
      |FROM audit
      |UNION ALL
      |SELECT o_orderkey, 'final', CAST(NULL AS DOUBLE),
      |  CAST(o_totalprice AS DOUBLE), o_orderpriority
      |FROM live2""".stripMargin

  /** MERGE `OUTPUT $action … INTO` through the dtsx frontend — the
    * T-SQL change-feed idiom (`MergeAuditETL.dtsx`): the three-verb
    * CDC MERGE applies an I/U/D feed AND appends one change-log row
    * per affected row from the same atomic statement — `$action` plus
    * deleted/inserted images ([[graft.patterns.MergeSqlCompiler]]
    * builds the log over the SAME full-outer join as the state
    * replacement — the merge-key shuffle happens once, and the side
    * append carries the 8672 guard). The gate certifies the log's
    * action/image rows and the final dimension state together. */
  def q111_dtsx_merge_output(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "MergeAuditETL.dtsx")
    val log = w("change_log_ma").select(col("op"),
      col("old_key").cast(LongType).as("old_key"),
      col("new_key").cast(LongType).as("new_key"),
      col("old_bal").cast(DoubleType).as("old_bal"),
      col("new_bal").cast(DoubleType).as("new_bal"))
    val fin = w("dim_customer_ma").select(lit("FINAL").as("op"),
      lit(null).cast(LongType).as("old_key"),
      col("c_custkey").cast(LongType).as("new_key"),
      lit(null).cast(DoubleType).as("old_bal"),
      col("c_acctbal").cast(DoubleType).as("new_bal"))
    log.unionByName(fin)
  }

  val q111Oracle: String =
    """WITH dim0 AS (
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal
      |  FROM customer WHERE c_custkey % 10 <> 7),
      |chg AS (
      |  SELECT c_custkey, c_name,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, 'I' AS op
      |  FROM customer WHERE c_custkey % 10 = 7
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)), 'D'
      |  FROM customer WHERE c_custkey % 10 <> 7 AND c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal + 10 AS DECIMAL(12,2)), 'U'
      |  FROM customer
      |  WHERE c_custkey % 10 <> 7 AND c_custkey % 11 = 0 AND c_custkey % 13 <> 0),
      |log AS (
      |  SELECT 'INSERT' AS op, CAST(NULL AS BIGINT) AS old_key,
      |    CAST(c_custkey AS BIGINT) AS new_key, CAST(NULL AS DOUBLE) AS old_bal,
      |    CAST(c_acctbal AS DOUBLE) AS new_bal
      |  FROM chg WHERE op = 'I'
      |  UNION ALL
      |  SELECT 'DELETE', CAST(d.c_custkey AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(d.c_acctbal AS DOUBLE), CAST(NULL AS DOUBLE)
      |  FROM dim0 d JOIN chg c ON d.c_custkey = c.c_custkey AND c.op = 'D'
      |  UNION ALL
      |  SELECT 'UPDATE', CAST(d.c_custkey AS BIGINT), CAST(d.c_custkey AS BIGINT),
      |    CAST(d.c_acctbal AS DOUBLE), CAST(c.c_acctbal AS DOUBLE)
      |  FROM dim0 d JOIN chg c ON d.c_custkey = c.c_custkey AND c.op = 'U'),
      |fin AS (
      |  SELECT 'FINAL' AS op, CAST(NULL AS BIGINT) AS old_key,
      |    CAST(d.c_custkey AS BIGINT) AS new_key, CAST(NULL AS DOUBLE) AS old_bal,
      |    CAST(COALESCE(u.c_acctbal, d.c_acctbal) AS DOUBLE) AS new_bal
      |  FROM dim0 d
      |  LEFT JOIN (SELECT c_custkey, c_acctbal FROM chg WHERE op = 'U') u
      |    ON d.c_custkey = u.c_custkey
      |  WHERE d.c_custkey NOT IN (SELECT c_custkey FROM chg WHERE op = 'D')
      |  UNION ALL
      |  SELECT 'FINAL', CAST(NULL AS BIGINT), CAST(c_custkey AS BIGINT),
      |    CAST(NULL AS DOUBLE), CAST(c_acctbal AS DOUBLE)
      |  FROM chg WHERE op = 'I')
      |SELECT * FROM log UNION ALL SELECT * FROM fin""".stripMargin

  /** MERGE `USING (SELECT …)` subquery source through the dtsx
    * frontend (`MergeSubqueryETL.dtsx`) — the most common authored
    * MERGE form: the change feed filtered INLINE instead of staged.
    * The staged feed carries a stale batch (op = 'X', duplicate merge
    * keys) that the subquery excludes — included, the MERGE would
    * abort with T-SQL 8672, so the gate proves the filter really ran.
    * [[graft.patterns.MergeSqlCompiler.spliceUsingSubquery]] compiles
    * the projection/filter through the runner's `resolve` (never the
    * catalog — script-staged state stays authoritative), and the
    * `OUTPUT $action` clause appends the change log from the same
    * joined frame (q111's surface composed with the subquery form). */
  def q112_dtsx_merge_subquery(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "MergeSubqueryETL.dtsx")
    val log = w("change_log_ms").select(col("op"),
      col("old_key").cast(LongType).as("old_key"),
      col("new_key").cast(LongType).as("new_key"),
      col("old_bal").cast(DoubleType).as("old_bal"),
      col("new_bal").cast(DoubleType).as("new_bal"))
    val fin = w("dim_customer_ms").select(lit("FINAL").as("op"),
      lit(null).cast(LongType).as("old_key"),
      col("c_custkey").cast(LongType).as("new_key"),
      lit(null).cast(DoubleType).as("old_bal"),
      col("c_acctbal").cast(DoubleType).as("new_bal"))
    log.unionByName(fin)
  }

  val q112Oracle: String =
    """WITH dim0 AS (
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal
      |  FROM customer WHERE c_custkey % 10 <> 7),
      |chg AS (
      |  SELECT c_custkey, c_name,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, 'I' AS op
      |  FROM customer WHERE c_custkey % 10 = 7
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)), 'D'
      |  FROM customer WHERE c_custkey % 10 <> 7 AND c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal + 25 AS DECIMAL(12,2)), 'U'
      |  FROM customer
      |  WHERE c_custkey % 10 <> 7 AND c_custkey % 11 = 0 AND c_custkey % 13 <> 0),
      |log AS (
      |  SELECT 'INSERT' AS op, CAST(NULL AS BIGINT) AS old_key,
      |    CAST(c_custkey AS BIGINT) AS new_key, CAST(NULL AS DOUBLE) AS old_bal,
      |    CAST(c_acctbal AS DOUBLE) AS new_bal
      |  FROM chg WHERE op = 'I'
      |  UNION ALL
      |  SELECT 'DELETE', CAST(d.c_custkey AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(d.c_acctbal AS DOUBLE), CAST(NULL AS DOUBLE)
      |  FROM dim0 d JOIN chg c ON d.c_custkey = c.c_custkey AND c.op = 'D'
      |  UNION ALL
      |  SELECT 'UPDATE', CAST(d.c_custkey AS BIGINT), CAST(d.c_custkey AS BIGINT),
      |    CAST(d.c_acctbal AS DOUBLE), CAST(c.c_acctbal AS DOUBLE)
      |  FROM dim0 d JOIN chg c ON d.c_custkey = c.c_custkey AND c.op = 'U'),
      |fin AS (
      |  SELECT 'FINAL' AS op, CAST(NULL AS BIGINT) AS old_key,
      |    CAST(d.c_custkey AS BIGINT) AS new_key, CAST(NULL AS DOUBLE) AS old_bal,
      |    CAST(COALESCE(u.c_acctbal, d.c_acctbal) AS DOUBLE) AS new_bal
      |  FROM dim0 d
      |  LEFT JOIN (SELECT c_custkey, c_acctbal FROM chg WHERE op = 'U') u
      |    ON d.c_custkey = u.c_custkey
      |  WHERE d.c_custkey NOT IN (SELECT c_custkey FROM chg WHERE op = 'D')
      |  UNION ALL
      |  SELECT 'FINAL', CAST(NULL AS BIGINT), CAST(c_custkey AS BIGINT),
      |    CAST(NULL AS DOUBLE), CAST(c_acctbal AS DOUBLE)
      |  FROM chg WHERE op = 'I')
      |SELECT * FROM log UNION ALL SELECT * FROM fin""".stripMargin

  /** Audited join-update through the dtsx frontend
    * (`AuditedJoinUpdateETL.dtsx`): `UPDATE … OUTPUT … INTO … FROM
    * target JOIN source` — the T-SQL idiom for an attribute-driven
    * adjustment that keeps its audit trail in the same statement.
    * [[graft.patterns.UpdateFromSqlCompiler]] builds the audit frame
    * from the FIRED rows of the SAME guarded join as the state
    * replacement (deleted = pre-image, inserted = the SET expression
    * over the PRE-update row); no second join is planned; the append
    * rides `SqlOutcome.side` before the target write. */
  def q113_dtsx_join_update_output(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) =
      runDtsxWarehousePackage(spark, dir, "AuditedJoinUpdateETL.dtsx")
    val audit = w("price_audit_ju").select(col("o_orderkey"),
      lit("audit").as("kind"),
      col("old_price").cast(DoubleType).as("old_price"),
      col("new_price").cast(DoubleType).as("new_price"))
    val live = w("orders_live_ju").select(col("o_orderkey"),
      lit("final").as("kind"), lit(null).cast(DoubleType).as("old_price"),
      col("o_totalprice").cast(DoubleType).as("new_price"))
    audit.unionByName(live)
  }

  val q113Oracle: String =
    """WITH live0 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice
      |  FROM orders),
      |fired AS (
      |  SELECT l.o_orderkey, l.o_totalprice AS old_price,
      |    CAST(l.o_totalprice + 5.25 AS DECIMAL(12,2)) AS new_price
      |  FROM live0 l JOIN customer c ON l.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment = 'BUILDING')
      |SELECT o_orderkey, 'audit' AS kind,
      |  CAST(old_price AS DOUBLE) AS old_price,
      |  CAST(new_price AS DOUBLE) AS new_price
      |FROM fired
      |UNION ALL
      |SELECT l.o_orderkey, 'final', CAST(NULL AS DOUBLE),
      |  CAST(COALESCE(f.new_price, l.o_totalprice) AS DOUBLE)
      |FROM live0 l LEFT JOIN fired f ON l.o_orderkey = f.o_orderkey""".stripMargin

  /** Script-scoped scalar `@variables` through the dtsx frontend
    * (`WatermarkScriptETL.dtsx`): the in-script watermark idiom —
    * `DECLARE @wm; SELECT @wm = MAX(…) FROM live; INSERT …; DELETE …`
    * all in ONE Execute SQL script. [[graft.patterns
    * .ScriptedSqlExecutor]] evaluates the scalar assign against the
    * CURRENT overlay state (a temp staged earlier in the script is
    * visible) and binds the value into later statements as a typed
    * literal; zero-row assigns keep the prior value (T-SQL), multi-row
    * assigns decline (T-SQL picks an arbitrary row — this engine
    * refuses to choose), and an undeclared `@` reference declines the
    * whole script. The gate certifies the audit row (watermark value +
    * row count) and the purged final state together. */
  def q114_dtsx_script_vars(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) =
      runDtsxWarehousePackage(spark, dir, "WatermarkScriptETL.dtsx")
    val log = w("wm_log_ws").select(lit("log").as("kind"),
      lit(null).cast(LongType).as("o_orderkey"),
      col("wm").cast(DoubleType).as("v"),
      col("n_above").cast(LongType).as("n"))
    val live = w("orders_live_ws").select(lit("final").as("kind"),
      col("o_orderkey").cast(LongType).as("o_orderkey"),
      col("o_totalprice").cast(DoubleType).as("v"),
      lit(null).cast(LongType).as("n"))
    log.unionByName(live)
  }

  val q114Oracle: String =
    """WITH live0 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice
      |  FROM orders),
      |wm AS (
      |  SELECT MAX(o_totalprice) AS wm FROM live0 WHERE o_orderstatus = 'F')
      |SELECT 'log' AS kind, CAST(NULL AS BIGINT) AS o_orderkey,
      |  CAST(wm AS DOUBLE) AS v,
      |  (SELECT COUNT(*) FROM live0 CROSS JOIN wm
      |   WHERE o_totalprice > wm - 50000) AS n
      |FROM wm
      |UNION ALL
      |SELECT 'final', o_orderkey, CAST(o_totalprice AS DOUBLE),
      |  CAST(NULL AS BIGINT)
      |FROM live0 CROSS JOIN wm WHERE NOT (o_totalprice > wm - 50000)""".stripMargin

  /** T-SQL `CROSS APPLY` / `OUTER APPLY` through the dtsx frontend
    * (`LatestOrderApplyETL.dtsx`) — the latest-row-per-key source
    * idiom. [[graft.patterns.ApplySql]] translates the TOP-1
    * correlated body to a ranked join: `ROW_NUMBER()` partitioned by
    * the correlation key inside a derived table (corpus-cardinality
    * key, so the window parallelizes by construction — the
    * low-cardinality single-task hazard cannot arise), `CROSS` →
    * inner join, `OUTER` → left join with NULL extension for
    * customers who never ordered. The gate certifies both directions
    * plus the local-conjunct pushdown (`o_orderstatus = 'F'` stays
    * inside the derived table). */
  def q115_dtsx_apply(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) =
      runDtsxWarehousePackage(spark, dir, "LatestOrderApplyETL.dtsx")
    val latest = w("cust_latest_ca").select(lit("latest").as("kind"),
      col("c_custkey").cast(LongType).as("c_custkey"),
      col("o_orderkey").cast(LongType).as("o_orderkey"),
      col("o_totalprice").cast(DoubleType).as("o_totalprice"))
    val cov = w("cust_coverage_ca").select(lit("coverage").as("kind"),
      col("c_custkey").cast(LongType).as("c_custkey"),
      col("last_orderkey").cast(LongType).as("o_orderkey"),
      lit(null).cast(DoubleType).as("o_totalprice"))
    latest.unionByName(cov)
  }

  val q115Oracle: String =
    """WITH ranked AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey) AS rn
      |  FROM orders),
      |rankedf AS (
      |  SELECT o_custkey, o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey) AS rn
      |  FROM orders WHERE o_orderstatus = 'F')
      |SELECT 'latest' AS kind, c.c_custkey, r.o_orderkey,
      |  CAST(r.o_totalprice AS DOUBLE) AS o_totalprice
      |FROM customer c JOIN ranked r
      |  ON r.o_custkey = c.c_custkey AND r.rn = 1
      |UNION ALL
      |SELECT 'coverage', c.c_custkey, r.o_orderkey, CAST(NULL AS DOUBLE)
      |FROM customer c LEFT JOIN rankedf r
      |  ON r.o_custkey = c.c_custkey AND r.rn = 1""".stripMargin

  /** MERGE `WHEN NOT MATCHED BY SOURCE` through the dtsx frontend
    * (`FullSyncMergeETL.dtsx`) — the full-sync dimension idiom: the
    * feed is a complete current snapshot, so target rows the feed no
    * longer carries are FLAGGED (`UPDATE SET is_current = 0`, here
    * guarded by an `AND tgt.is_current = 1` predicate) on one
    * dimension and RETIRED (`DELETE`) on another. In
    * [[graft.patterns.MergeSqlCompiler]] both verbs ride the
    * null-source leg of the ONE full-outer-join state replacement the
    * other three verbs already share (PlanShapeSpec pins joins === 1)
    * — no extra join, no second merge-key shuffle, the 8672 guard
    * unchanged. Off-shape clauses (source references in BY SOURCE
    * bodies, a second BY SOURCE clause) decline the whole MERGE. */
  def q116_dtsx_merge_by_source(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "FullSyncMergeETL.dtsx")
    val flag = w("dim_supplier_fs").select(lit("FLAG").as("form"),
      col("s_suppkey").cast(LongType).as("s_suppkey"),
      col("s_acctbal").cast(DoubleType).as("bal"),
      col("is_current").cast(IntegerType).as("is_current"))
    val del = w("dim_supplier_del_fs").select(lit("DEL").as("form"),
      col("s_suppkey").cast(LongType).as("s_suppkey"),
      col("s_acctbal").cast(DoubleType).as("bal"),
      col("is_current").cast(IntegerType).as("is_current"))
    flag.unionByName(del)
  }

  val q116Oracle: String =
    """WITH dim0 AS (
      |  SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(12,2)) AS s_acctbal,
      |    1 AS is_current
      |  FROM supplier WHERE s_suppkey % 7 <> 3),
      |feed AS (
      |  SELECT s_suppkey, s_name, CAST(s_acctbal + 50 AS DECIMAL(12,2)) AS s_acctbal
      |  FROM supplier WHERE s_suppkey % 5 <> 0),
      |flagd AS (
      |  SELECT d.s_suppkey,
      |    CASE WHEN f.s_suppkey IS NOT NULL THEN f.s_acctbal
      |         ELSE d.s_acctbal END AS s_acctbal,
      |    CASE WHEN f.s_suppkey IS NULL THEN 0 ELSE d.is_current END AS is_current
      |  FROM dim0 d LEFT JOIN feed f ON d.s_suppkey = f.s_suppkey
      |  UNION ALL
      |  SELECT f.s_suppkey, f.s_acctbal, 1 FROM feed f
      |  WHERE f.s_suppkey NOT IN (SELECT s_suppkey FROM dim0)),
      |deld AS (
      |  SELECT d.s_suppkey, f.s_acctbal, d.is_current
      |  FROM dim0 d JOIN feed f ON d.s_suppkey = f.s_suppkey
      |  UNION ALL
      |  SELECT f.s_suppkey, f.s_acctbal, 1 FROM feed f
      |  WHERE f.s_suppkey NOT IN (SELECT s_suppkey FROM dim0))
      |SELECT 'FLAG' AS form, s_suppkey, CAST(s_acctbal AS DOUBLE) AS bal,
      |  is_current
      |FROM flagd
      |UNION ALL
      |SELECT 'DEL', s_suppkey, CAST(s_acctbal AS DOUBLE), is_current
      |FROM deld""".stripMargin

  /** The canonical one-DML CURSOR FETCH loop through the dtsx frontend
    * (`CursorLoopETL.dtsx`) — the statement class the reference (and
    * this engine through r12) routed wholesale to manual review.
    * [[graft.patterns.CursorLoopSqlCompiler]] recognizes the FETCH
    * loop whose body is ONE DML parameterized by the cursor row and
    * stages the cursor SELECT once as #temp rows: the UPDATE-body
    * cursor becomes ONE join-update (UpdateFromSqlCompiler's
    * multi-match guard aborts the only divergent case), the
    * DELETE-body cursor ONE anti-join delete (idempotent — exactly the
    * loop's semantics), and the cursor's ORDER BY drops (iteration
    * order is relationally unobservable once multi-match aborts; a
    * global sort of a 100 TB cursor source would be pure waste).
    * Off-shape cursors (repeated-target bodies, WHERE CURRENT OF,
    * FETCH PRIOR, accumulator variables) keep the honest decline. */
  def q117_dtsx_cursor_loop(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "CursorLoopETL.dtsx")
    w("dim_customer_cl").select(
      col("custkey").cast(LongType).as("custkey"),
      col("acctbal").cast(DoubleType).as("acctbal"),
      col("touched").cast(IntegerType).as("touched"))
  }

  val q117Oracle: String =
    """SELECT c_custkey AS custkey,
      |  CAST(CASE WHEN c_mktsegment = 'BUILDING'
      |       THEN CAST(c_acctbal + 10 AS DECIMAL(12,2))
      |       ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS DOUBLE) AS acctbal,
      |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS touched
      |FROM customer
      |WHERE c_mktsegment <> 'MACHINERY'""".stripMargin

  /** The batched-DML purge loop through the dtsx frontend
    * (`BatchedPurgeETL.dtsx`) — `WHILE 1 = 1 … UPDATE/DELETE TOP (n) …
    * IF @@ROWCOUNT = 0 BREAK`, the idiom operators use to bound
    * transaction-log growth and lock escalation on big mutations.
    * [[graft.patterns.BatchedDmlLoopSqlCompiler]] compiles the loop to
    * its set-based FIXPOINT (log pressure has no Spark analog — state
    * replacement writes a new generation): the DELETE form is
    * unconditionally equivalent (any TOP slice order reaches "no row
    * satisfies p"), the UPDATE form only when a SET literal provably
    * falsifies a WHERE conjunct so every batch shrinks the pred-set —
    * anything weaker would not terminate in T-SQL either and declines. */
  def q118_dtsx_batched_purge(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "BatchedPurgeETL.dtsx")
    w("orders_purge_bp").select(
      col("okey").cast(LongType).as("okey"),
      col("flagged").cast(IntegerType).as("flagged"),
      col("price").cast(DoubleType).as("price"))
  }

  val q118Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CASE WHEN o_orderstatus = 'O'
      |       AND CAST(o_totalprice AS DECIMAL(12,2)) < 50000
      |       THEN 1 ELSE 0 END AS flagged,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F'
      |  AND CAST(o_totalprice AS DECIMAL(12,2)) >= 100000)""".stripMargin

  /** The LEFT-join correlated DML pair through the dtsx frontend
    * (`CorrelatedLeftETL.dtsx`) — the two forms r12 still declined as
    * "a different semantics class", now owned on the SAME left_outer
    * frame the inner forms already build:
    * `UPDATE … FROM t LEFT JOIN s` (backfill-with-default: every
    * admitted target row updates; unmatched rows assign NULL from
    * source-referencing SETs) and
    * `DELETE t FROM t LEFT JOIN s ON … WHERE s.k IS NULL` (the orphan
    * purge — a target row deletes iff ANY of its result rows, the
    * NULL-extended one included, passes the WHERE). The gate's dim
    * leaves regions ≥ 3 with a NULL backfill, and the purge keeps only
    * customers with at least one order. */
  def q119_dtsx_correlated_left(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "CorrelatedLeftETL.dtsx")
    val dim = w("dim_nation_lj").select(lit("dim").as("kind"),
      col("nationkey").cast(LongType).as("k"),
      col("region_name").cast(StringType).as("region_name"),
      col("synced").cast(IntegerType).as("synced"))
    val cust = w("cust_lj").select(lit("cust").as("kind"),
      col("c_custkey").cast(LongType).as("k"),
      lit(null).cast(StringType).as("region_name"),
      lit(null).cast(IntegerType).as("synced"))
    dim.unionByName(cust)
  }

  val q119Oracle: String =
    """SELECT 'dim' AS kind, n_nationkey AS k,
      |  CASE WHEN n_regionkey < 3 THEN
      |    (SELECT r_name FROM region WHERE r_regionkey = n_regionkey)
      |  ELSE NULL END AS region_name,
      |  1 AS synced
      |FROM nation
      |UNION ALL
      |SELECT 'cust', c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS INT)
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin

  /** The schema-migration script through the dtsx frontend
    * (`MigrationScriptETL.dtsx`) — ALTER TABLE ADD a nullable column,
    * backfill it with UPDATEs, DROP the legacy column, ADD a NOT NULL
    * DEFAULT audit tag, all one script task.
    * [[graft.patterns.AlterTableSqlCompiler]] executes the DDL as
    * narrow projections inside the same shadow-overlay sequence as the
    * DML (all-or-nothing commit); T-SQL parity errors (2705 duplicate
    * add, 4901 NOT NULL without DEFAULT on rows, 4924 missing drop)
    * hold eagerly, and constraints / ALTER COLUMN stay declined. */
  def q120_dtsx_migration_script(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "MigrationScriptETL.dtsx")
    w("part_dim_ms").select(
      col("pkey").cast(LongType).as("pkey"),
      col("retail").cast(DoubleType).as("retail"),
      col("price_band").cast(StringType).as("price_band"),
      col("audit_tag").cast(StringType).as("audit_tag"))
  }

  val q120Oracle: String =
    """SELECT p_partkey AS pkey,
      |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS retail,
      |  CASE WHEN CAST(p_retailprice AS DECIMAL(12,2)) >= 1500
      |       THEN 'HIGH' ELSE 'LOW' END AS price_band,
      |  'migr13' AS audit_tag
      |FROM part""".stripMargin

  /** The all-or-nothing TRY/CATCH through the dtsx frontend
    * (`TryCatchRollbackETL.dtsx`) — the one ROLLBACK shape this engine
    * owns (any other placement stays manual review): a CATCH that
    * LEADS with a bare ROLLBACK discards the TRY's staged effects
    * before the rest of the CATCH runs, so a mid-script abort leaves
    * the target bit-identical to its pre-script state while the error
    * log still lands. The gate's TRY stages a real UPDATE, then aborts
    * on a 2714 (SELECT INTO an existing table); the post-rollback log
    * row certifies @@ROWCOUNT reads 0 after the undo. */
  def q121_dtsx_trycatch_rollback(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "TryCatchRollbackETL.dtsx")
    val acct = w("acct_tcr").select(lit("acct").as("kind"),
      col("id").cast(LongType).as("id"),
      col("bal").cast(DoubleType).as("bal"),
      lit(null).cast(StringType).as("what"),
      lit(null).cast(LongType).as("n"))
    val log = w("tcr_log").select(lit("log").as("kind"),
      lit(null).cast(LongType).as("id"),
      lit(null).cast(DoubleType).as("bal"),
      col("what").cast(StringType).as("what"),
      col("n").cast(LongType).as("n"))
    acct.unionByName(log)
  }

  val q121Oracle: String =
    """SELECT 'acct' AS kind, c_custkey AS id,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |  CAST(NULL AS VARCHAR) AS what, CAST(NULL AS BIGINT) AS n
      |FROM customer
      |UNION ALL
      |SELECT 'log', NULL, NULL, 'rolled_back', 0""".stripMargin

  /** Table-variable staging through the dtsx frontend
    * (`TableVarETL.dtsx`) — `DECLARE @t TABLE (…)`, the other
    * session-scoped staging spelling beside `#temp`.
    * [[graft.patterns.ScriptedSqlExecutor]] reduces table variables to
    * the temp overlay wholesale (the tempdb-vs-memory distinction is
    * physical, not relational): the DECLARE becomes the owned
    * CREATE TABLE form, every `@t` reference rewrites to the overlay
    * name at masked spans (scalar @variables untouched), and the
    * variable dies at script end without committing. */
  def q122_dtsx_table_var(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "TableVarETL.dtsx")
    w("hot_mart_tv").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("seg").cast(StringType).as("seg"))
  }

  val q122Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  c_mktsegment AS seg
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 200000""".stripMargin

  /** The ALTER COLUMN re-type script through the dtsx frontend
    * (`AlterColumnETL.dtsx`) — the last migration-script class: re-type
    * a stringly-keyed column to BIGINT NOT NULL, widen a decimal, then
    * backfill over the new types, one script task.
    * [[graft.patterns.AlterTableSqlCompiler]] executes each re-type as
    * a narrow overlay projection; T-SQL conversion parity holds lazily
    * (an unconvertible non-NULL value aborts with the 245/8114
    * contract, a NULL under NOT NULL with 515 — never Spark's silent
    * NULL), and COLLATE/IDENTITY/constraint forms stay declined. */
  def q123_dtsx_alter_column(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "AlterColumnETL.dtsx")
    w("cust_ac").select(
      col("ckey").cast(LongType).as("ckey"),
      col("key_txt").cast(LongType).as("key_txt"),
      col("bal").cast(DoubleType).as("bal"),
      col("seg").cast(StringType).as("seg"))
  }

  val q123Oracle: String =
    """SELECT c_custkey AS ckey, CAST(c_custkey AS BIGINT) AS key_txt,
      |  CAST(CASE WHEN c_mktsegment = 'BUILDING'
      |       THEN CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DECIMAL(14,4))
      |            * 2 AS DECIMAL(14,4))
      |       ELSE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DECIMAL(14,4))
      |  END AS DOUBLE) AS bal,
      |  c_mktsegment AS seg
      |FROM customer""".stripMargin

  /** Parameterized literal dynamic SQL through the dtsx frontend
    * (`ParamExecETL.dtsx`) — `EXEC sp_executesql N'<stmt with @p>',
    * N'@p <type>', @p = <literal | declared @var>`, the plan-cache
    * idiom estates standardize on.
    * [[graft.patterns.ExecLiteralSqlCompiler]] binds each parameter
    * into the inner statement as the script executor's typed-literal
    * form and compiles the bound statement inline; the declared-@var
    * argument spelling composes through the script executor's own
    * binding (task 3). Expression args, OUTPUT params, positional
    * args, and concatenated SQL keep the decline. */
  def q124_dtsx_param_exec(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ParamExecETL.dtsx")
    w("ord_pe").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("st").cast(StringType).as("st"),
      col("flag").cast(IntegerType).as("flag"))
  }

  val q124Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  o_orderstatus AS st,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) > 150000
      |        AND o_orderstatus = 'O' THEN 1 ELSE 0 END AS flag
      |FROM orders
      |WHERE CAST(o_totalprice AS DECIMAL(12,2)) <= 250000""".stripMargin

  /** The savepoint-suffix TRY/CATCH through the dtsx frontend
    * (`SavepointETL.dtsx`) — `SAVE TRAN sp` bracketing a SUFFIX of the
    * TRY, the partial-undo idiom beside q121's all-or-nothing: the
    * suffix aborts on a 2714, `ROLLBACK TRAN sp` discards only the
    * effects staged after the savepoint, the prefix UPDATE survives,
    * and the CATCH's audit row lands with @@ROWCOUNT = 0 before its
    * COMMIT makes the kept prefix durable. An abort BEFORE the
    * savepoint fails the task (the 6401 contract); interleaved
    * savepoints and commit-less catches stay declined. */
  def q125_dtsx_savepoint(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "SavepointETL.dtsx")
    val acct = w("acct_sp").select(lit("acct").as("kind"),
      col("id").cast(LongType).as("id"),
      col("bal").cast(DoubleType).as("bal"),
      lit(null).cast(StringType).as("what"),
      lit(null).cast(LongType).as("n"))
    val log = w("sp_log").select(lit("log").as("kind"),
      lit(null).cast(LongType).as("id"),
      lit(null).cast(DoubleType).as("bal"),
      col("what").cast(StringType).as("what"),
      col("n").cast(LongType).as("n"))
    acct.unionByName(log)
  }

  val q125Oracle: String =
    """SELECT 'acct' AS kind, c_custkey AS id,
      |  CAST(CASE WHEN c_custkey % 2 = 1
      |       THEN CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 50 AS DECIMAL(12,2))
      |       ELSE CAST(c_acctbal AS DECIMAL(12,2))
      |  END AS DOUBLE) AS bal,
      |  CAST(NULL AS VARCHAR) AS what, CAST(NULL AS BIGINT) AS n
      |FROM customer
      |UNION ALL
      |SELECT 'log', NULL, NULL, 'suffix_undone', 0""".stripMargin

  /** The WAITFOR-throttled purge script through the dtsx frontend
    * (`ThrottledPurgeETL.dtsx`) — DELETE waves separated by
    * `WAITFOR DELAY` / `WAITFOR TIME` throttles, the retry/log-pressure
    * idiom. Time is the ORCHESTRATOR's axis in a replay
    * ([[graft.patterns.NoopDdlSqlCompiler]]): the WAITFORs execute as
    * no-ops because the post-script state is bit-identical, while a
    * `@@ROWCOUNT` read straight after one declines rather than guess
    * T-SQL's reset behavior; `WAITFOR (RECEIVE …)` stays manual
    * review. */
  def q126_dtsx_throttled_purge(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ThrottledPurgeETL.dtsx")
    w("ord_tp").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("st").cast(StringType).as("st"))
  }

  val q126Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN o_orderstatus = 'O' THEN 'K' ELSE o_orderstatus END AS st
      |FROM orders
      |WHERE CAST(o_totalprice AS DECIMAL(12,2)) >= 50000
      |  AND o_orderstatus <> 'F'""".stripMargin

  /** Concatenated dynamic SQL through the dtsx frontend
    * (`ConcatSqlETL.dtsx`) — the `'+'`-built EXEC strings real estates
    * assemble from variables, in both owned spellings: the inline
    * `EXEC('…' + CAST(@v AS VARCHAR(n)) + …)` concat and the
    * `SET @sql = '…' + …; EXEC(@sql)` builder. The script executor
    * binds declared @vars to typed literals first, so every fragment
    * is a compile-time constant and [[graft.patterns.TsqlConcatFold]]
    * renders the exact text T-SQL would build (default-30 lengths,
    * silent string truncation, 8115 declines, decimal re-scaling);
    * non-constant fragments decline to manual review. */
  def q127_dtsx_concat_sql(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ConcatSqlETL.dtsx")
    w("cust_cs").select(
      col("ck").cast(LongType).as("ck"),
      col("bal").cast(DoubleType).as("bal"),
      col("seg").cast(StringType).as("seg"))
  }

  val q127Oracle: String =
    """SELECT c_custkey AS ck,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |  CASE WHEN c_mktsegment = 'MACHINERY'
      |        AND CAST(c_acctbal AS DECIMAL(12,2)) > 5000 THEN 'PRIORITY'
      |       ELSE c_mktsegment END AS seg
      |FROM customer
      |WHERE CAST(c_acctbal AS DECIMAL(12,2)) >= 100.00""".stripMargin

  /** The multi-statement cursor body through the dtsx frontend
    * (`CursorAuditETL.dtsx`) — the update-then-audit-log idiom: one
    * FETCH loop whose body flags the dimension row AND appends an
    * audit row per cursor row. [[graft.patterns.CursorLoopSqlCompiler]]
    * (r14) owns multi-statement bodies whose targets are PAIRWISE
    * DISTINCT tables: the clause bans (no FROM/JOIN/subquery in
    * SET/WHERE/VALUES) keep each statement blind to its sibling's
    * writes, so the staged per-statement order and T-SQL's per-row
    * interleaving provably commute — the cursor scan stages ONCE and
    * each body statement becomes its own set-based DML over it.
    * Repeated-target bodies keep the honest decline. */
  def q128_dtsx_cursor_multi(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "CursorAuditETL.dtsx")
    val dim = w("dim_part_ca").select(
      lit("dim").as("kind"),
      col("pk").cast(LongType).as("pk"),
      col("price").cast(DoubleType).as("price"),
      col("flagged").cast(IntegerType).as("flagged"),
      lit(null).cast(StringType).as("mfgr"))
    val log = w("log_ca").select(
      lit("log").as("kind"),
      col("pk").cast(LongType).as("pk"),
      lit(null).cast(DoubleType).as("price"),
      lit(null).cast(IntegerType).as("flagged"),
      col("mfgr").cast(StringType).as("mfgr"))
    dim.unionByName(log)
  }

  val q128Oracle: String =
    """SELECT 'dim' AS kind, p_partkey AS pk,
      |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN p_size > 40 THEN 1 ELSE 0 END AS flagged,
      |  CAST(NULL AS VARCHAR) AS mfgr
      |FROM part
      |UNION ALL
      |SELECT 'log', p_partkey, CAST(NULL AS DOUBLE), CAST(NULL AS INT),
      |  p_brand
      |FROM part WHERE p_size > 40""".stripMargin

  /** Positioned cursor DML through the dtsx frontend
    * (`PositionedCursorETL.dtsx`) — `WHERE CURRENT OF`, the classic
    * updatable-cursor idiom. [[graft.patterns.CursorLoopSqlCompiler]]
    * (r14) compiles it one-shot: the cursor's own WHERE becomes the
    * predicate and fetch vars substitute to their item expressions.
    * The KEYSET rebate updates its own PREDICATE column — exactly the
    * case the Halloween gate declines for dynamic-capable cursors
    * (membership could re-order mid-scan) and admits for KEYSET
    * (membership freezes at OPEN); the default-cursor positioned
    * DELETE needs no gate (deleting the current row cannot change
    * another row's membership). Read-only cursors (16929), DISTINCT,
    * TOP, and joined/aliased cursor FROMs keep the decline. */
  def q129_dtsx_positioned_cursor(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "PositionedCursorETL.dtsx")
    w("ord_pc").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("st").cast(StringType).as("st"))
  }

  val q129Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) > 200000
      |       THEN CAST(o_totalprice AS DECIMAL(12,2)) * 0.9
      |       ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS DOUBLE) AS price,
      |  o_orderstatus AS st
      |FROM orders
      |WHERE o_orderstatus <> 'F'""".stripMargin

  /** The script-local helper procedure through the dtsx frontend
    * (`ProcHelperETL.dtsx`) — `CREATE PROCEDURE` in its own GO batch,
    * EXEC calls with positional AND named literal args, `DROP
    * PROCEDURE`. [[graft.patterns.ProcInlineSqlCompiler]] (r14) owns
    * exactly the EXEC class whose body IS visible: each call inlines
    * to the body statements with parameters bound as typed literals
    * (the sp_executesql convention); an EXEC before the CREATE batch
    * or after the DROP declines with T-SQL's own 2812 contract, and
    * procedures created elsewhere keep the manual-review decline. */
  def q130_dtsx_proc_helper(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ProcHelperETL.dtsx")
    w("cust_ph").select(
      col("ck").cast(LongType).as("ck"),
      col("bal").cast(DoubleType).as("bal"),
      col("seg").cast(StringType).as("seg"))
  }

  val q130Oracle: String =
    """SELECT c_custkey AS ck,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |  CASE WHEN c_mktsegment = 'BUILDING'
      |        AND CAST(c_acctbal AS DECIMAL(12,2)) >= 7000 THEN 'TIER1'
      |       WHEN c_mktsegment = 'MACHINERY'
      |        AND CAST(c_acctbal AS DECIMAL(12,2)) >= 9000 THEN 'TIER1'
      |       ELSE c_mktsegment END AS seg
      |FROM customer""".stripMargin

  /** The `STUFF(… FOR XML PATH(''))` group-concat idiom through the
    * dtsx frontend (`XmlAggETL.dtsx`) — pre-2017 T-SQL's only string
    * aggregation spelling. [[graft.patterns.XmlPathAgg]] (r14)
    * translates the whole STUFF span to a correlated `collect_list`
    * scalar subquery (the ORDER BY realized as a struct sort with the
    * item expression as deterministic tiebreak), which Spark plans as
    * an aggregate + join on the correlation key — the same shuffle a
    * native group-concat needs, nothing more. Off-shape FOR XML
    * (AUTO/RAW/non-empty PATH, missing ORDER BY, DESC, multi-`+`
    * items, strip-length ≠ separator length) declines to manual
    * review — it is genuine XML shaping, not aggregation. */
  def q131_dtsx_xml_agg(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "XmlAggETL.dtsx")
    w("cust_orders_xa").select(
      col("ck").cast(LongType).as("ck"),
      col("olist").cast(StringType).as("olist"))
  }

  val q131Oracle: String =
    """SELECT o_custkey AS ck,
      |  string_agg(CAST(o_orderkey AS VARCHAR), ','
      |    ORDER BY o_orderkey, CAST(o_orderkey AS VARCHAR)) AS olist
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** `STRING_AGG … WITHIN GROUP (ORDER BY …)` through the dtsx
    * frontend (`StringAggETL.dtsx`) — SQL Server 2017+'s native string
    * aggregation, the successor of q131's STUFF idiom. Spark 4 parses
    * the identical surface (`string_agg` with `WITHIN GROUP`), so the
    * statement compiles through the normal SELECT path with NO
    * translation — the cheapest kind of parity, gated here so the
    * no-op stays proven. */
  def q132_dtsx_string_agg(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "StringAggETL.dtsx")
    w("cust_sa").select(
      col("ck").cast(LongType).as("ck"),
      col("n_orders").cast(LongType).as("n_orders"),
      col("olist").cast(StringType).as("olist"))
  }

  val q132Oracle: String =
    """SELECT o_custkey AS ck, COUNT(*) AS n_orders,
      |  string_agg(CAST(o_orderkey AS VARCHAR), ','
      |    ORDER BY o_orderkey) AS olist
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** T-SQL `PIVOT` through the dtsx frontend (`PivotReportETL.dtsx`)
    * — the status × priority revenue matrix. The relational operator
    * is identical in Spark; [[graft.patterns.PivotSql]] (r14) rewrites
    * only the spelling: T-SQL's bracketed-identifier IN list
    * (`IN ([O], [F])`) becomes Spark's aliased literals
    * (`IN ('O' AS O, 'F' AS F)`), the result alias strips, and `[X]`
    * references to the pivoted columns debracket. The pivot itself
    * plans as Spark's native partial-aggregating PIVOT — one shuffle
    * on the group keys, as cheap as the hand-written CASE form.
    * UNPIVOT and non-identifier value names decline. */
  def q133_dtsx_pivot(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "PivotReportETL.dtsx")
    w("prio_pv").select(
      col("prio").cast(StringType).as("prio"),
      col("O").cast(DoubleType).as("o_tot"),
      col("F").cast(DoubleType).as("f_tot"),
      col("P").cast(DoubleType).as("p_tot"))
  }

  val q133Oracle: String =
    """SELECT o_orderpriority AS prio,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS o_tot,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS f_tot,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS p_tot
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** T-SQL `UNPIVOT` through the dtsx frontend (`UnpivotETL.dtsx`) —
    * the wide-to-long reshape that undoes a report matrix.
    * [[graft.patterns.PivotSql]] (r14) rewrites only the spelling:
    * `UNPIVOT (v FOR s IN ([c1], [c2])) u` → Spark's
    * `UNPIVOT ((v) FOR s IN ((c1), (c2)))`, alias stripped. The
    * NULL-dropping default is identical in both dialects (T-SQL
    * always drops NULL measures; Spark excludes them unless INCLUDE
    * NULLS), and the name column takes the column text as written.
    * Plans as Spark's native Expand — one narrow pass, no shuffle. */
  def q134_dtsx_unpivot(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "UnpivotETL.dtsx")
    w("long_up").select(
      col("prio").cast(StringType).as("prio"),
      col("status_col").cast(StringType).as("status_col"),
      col("cnt").cast(LongType).as("cnt"))
  }

  val q134Oracle: String =
    """WITH w AS (
      |  SELECT o_orderpriority AS prio,
      |    SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS open_cnt,
      |    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS filled_cnt,
      |    SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS pending_cnt
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT prio, 'open_cnt' AS status_col, CAST(open_cnt AS BIGINT) AS cnt
      |FROM w
      |UNION ALL
      |SELECT prio, 'filled_cnt', CAST(filled_cnt AS BIGINT) FROM w
      |UNION ALL
      |SELECT prio, 'pending_cnt', CAST(pending_cnt AS BIGINT) FROM w""".stripMargin

  /** The script-local helper procedure called with DECLARED VARIABLE
    * arguments through the dtsx frontend (`ProcHelperVarETL.dtsx`) —
    * `DECLARE @x …; EXEC helper @x`, the overwhelmingly common
    * maintenance-script idiom (r15; the reference routes every EXEC
    * to manual review, `analyzer.py:137-145`).
    * [[graft.patterns.ProcInlineSqlCompiler]] expands each call to
    * hygienic per-call DECLAREs whose initializers are the argument
    * texts, so the executor's own typed-assignment machinery binds
    * the variable's value AT the call — the SET between the two calls
    * in the package proves by-value binding (the second call reads
    * the reassigned 9000, the first call's 7000 is untouched).
    * Cross-batch @args (T-SQL 137, variables are batch-scoped) and
    * undeclared @args decline. */
  def q135_dtsx_proc_var_args(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ProcHelperVarETL.dtsx")
    w("cust_phv").select(
      col("ck").cast(LongType).as("ck"),
      col("bal").cast(DoubleType).as("bal"),
      col("seg").cast(StringType).as("seg"))
  }

  val q135Oracle: String =
    """SELECT c_custkey AS ck,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |  CASE WHEN c_mktsegment = 'BUILDING'
      |        AND CAST(c_acctbal AS DECIMAL(12,2)) >= 7000 THEN 'TIER1'
      |       WHEN c_mktsegment = 'MACHINERY'
      |        AND CAST(c_acctbal AS DECIMAL(12,2)) >= 9000 THEN 'TIER1'
      |       ELSE c_mktsegment END AS seg
      |FROM customer""".stripMargin

  /** TWO script-local helpers, one with a body-local DECLARE, through
    * the dtsx frontend (`MultiHelperETL.dtsx`) — r15's second
    * extension of the q130 class. Each helper lives in its own CREATE
    * batch; the body-local `@tag` renames into the call's
    * `__graft_<k>_markhi_tag` namespace so nothing leaks into the
    * outer script, and the body's `SET @tag = 'HI' + 'VAL'` rides the
    * executor's constant string-concat fold. Re-CREATE of a live name
    * (2714), EXEC after DROP (2812), and a body-local shadowing a
    * parameter (134) decline. */
  def q136_dtsx_multi_helper(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "MultiHelperETL.dtsx")
    w("ord_mh").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("band").cast(StringType).as("band"))
  }

  val q136Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= 250000 THEN 'HIVAL'
      |       WHEN CAST(o_totalprice AS DECIMAL(12,2)) < 50000 THEN 'LOVAL'
      |       ELSE 'MID' END AS band
      |FROM orders""".stripMargin

  /** T-SQL `PIVOT` with NON-IDENTIFIER value names through the dtsx
    * frontend (`PivotYearETL.dtsx`) — the `[1996], [1997]` year-column
    * report (r15). T-SQL converts each IN name's text to the pivot
    * COLUMN's type for comparison; [[graft.patterns.PivotSql]] emits
    * the same direction — a string literal with a backtick-quoted
    * alias (`'1996' AS `1996``), which Spark's pivot casts to the INT
    * year column. Letterless values take no collation wrap (nothing
    * to case-fold). Still one shuffle on the group keys, the
    * partial-aggregating native PIVOT. */
  def q137_dtsx_pivot_year(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "PivotYearETL.dtsx")
    w("yr_pv").select(
      col("prio").cast(StringType).as("prio"),
      col("1996").cast(DoubleType).as("y1996"),
      col("1997").cast(DoubleType).as("y1997"))
  }

  val q137Oracle: String =
    """SELECT o_orderpriority AS prio,
      |  CAST(SUM(CASE WHEN year(o_orderdate) = 1996
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS y1996,
      |  CAST(SUM(CASE WHEN year(o_orderdate) = 1997
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS y1997
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** T-SQL `PIVOT` under CASE-INSENSITIVE collation through the dtsx
    * frontend (`PivotLangETL.dtsx`) — the estate writes `[EN], [FR],
    * [ES]` while the documents table stores lowercase codes; default-
    * collation T-SQL matches anyway. [[graft.patterns.PivotSql]]'s r15
    * collation fold reproduces that: the source wraps in an `upper()`
    * projection (star-EXCEPT keeps the implicit group-by set) and the
    * value literals upper-case. Without the fold every pivot column
    * reads NULL — the exact silent divergence this gate pins through
    * the oracle, not just a spec. Still one shuffle on the group key. */
  def q138_dtsx_pivot_ci(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "PivotLangETL.dtsx")
    w("lang_pv").select(
      col("source").cast(StringType).as("source"),
      col("EN").cast(LongType).as("en_chars"),
      col("FR").cast(LongType).as("fr_chars"),
      col("ES").cast(LongType).as("es_chars"))
  }

  val q138Oracle: String =
    """SELECT source,
      |  CAST(SUM(CASE WHEN upper(lang) = 'EN' THEN n_chars END) AS BIGINT)
      |    AS en_chars,
      |  CAST(SUM(CASE WHEN upper(lang) = 'FR' THEN n_chars END) AS BIGINT)
      |    AS fr_chars,
      |  CAST(SUM(CASE WHEN upper(lang) = 'ES' THEN n_chars END) AS BIGINT)
      |    AS es_chars
      |FROM documents GROUP BY source""".stripMargin

  /** Scalar OUTPUT parameter on a script-local procedure through the
    * dtsx frontend (`ProcOutputETL.dtsx`) — `EXEC helper @x, @tot
    * OUTPUT`, the second-most-common helper idiom after positional
    * args (r16; the reference routes every EXEC to manual review,
    * `analyzer.py:137-145`). [[graft.patterns.ProcInlineSqlCompiler]]
    * copies the caller's value IN through the hygienic per-call
    * DECLARE, the body's SELECT-assign mutates only the renamed
    * local, and a post-body `SET @t = @__graft_…_tot` copies the
    * final value back (T-SQL copy-in/copy-out, cast to the CALLER's
    * declared type). The written-back segment total then bounds an
    * UPDATE — positional OUTPUT on the first call, named on the
    * second. OUTPUT on a non-OUTPUT parameter (T-SQL 8162) and on a
    * literal argument (179) decline. Scale: the per-call machinery is
    * all driver-side text; each body statement plans exactly the
    * partial-aggregating scan + broadcast-literal filter the inline
    * spelling would. */
  def q139_dtsx_proc_output(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ProcOutputETL.dtsx")
    w("cust_po").select(
      col("ck").cast(LongType).as("ck"),
      col("bal").cast(DoubleType).as("bal"),
      col("seg").cast(StringType).as("seg"),
      col("flag").cast(StringType).as("flag"))
  }

  val q139Oracle: String =
    """SELECT c_custkey AS ck,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |  c_mktsegment AS seg,
      |  CASE WHEN c_mktsegment IN ('BUILDING', 'MACHINERY')
      |        AND CAST(c_acctbal AS DECIMAL(12,2)) * 400 >
      |          (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(12,2)))
      |             FROM customer c2
      |            WHERE c2.c_mktsegment = c.c_mktsegment)
      |       THEN 'HEAVY' ELSE 'KEEP' END AS flag
      |FROM customer c""".stripMargin

  /** `INSERT INTO t EXEC helper` over a VISIBLE single-SELECT body
    * through the dtsx frontend (`InsertExecETL.dtsx`) — the
    * insert-exec reporting idiom (r16).
    * [[graft.patterns.ProcInlineSqlCompiler]] inlines the helper's
    * renamed SELECT as the INSERT's source (the derived-table
    * reading); the SET between the two calls proves the declared-
    * variable argument binds by value at each call. Multi-statement
    * and assigning bodies keep the invisible-body decline. Scale: the
    * expansion IS `INSERT INTO … SELECT` — one filtered scan
    * appending, no extra materialization. */
  def q140_dtsx_insert_exec(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "InsertExecETL.dtsx")
    w("ord_hi").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("prio").cast(StringType).as("prio"))
  }

  val q140Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  o_orderpriority AS prio
      |FROM orders
      |WHERE (CAST(o_totalprice AS DECIMAL(12,2)) >= 200000
      |        AND o_orderpriority = '1-URGENT')
      |   OR (CAST(o_totalprice AS DECIMAL(12,2)) >= 300000
      |        AND o_orderpriority = '2-HIGH')""".stripMargin

  /** PIVOT and UNPIVOT chained in ONE statement through the dtsx
    * frontend (`PivotUnpivotETL.dtsx`) — the report-matrix round-trip
    * (r16; previously a documented decline).
    * [[graft.patterns.PivotSql]] rewrites the two postfix table
    * operators SEQUENTIALLY in source order — Spark's FROM clause
    * accepts the same chain, so no nesting is synthesized; the
    * collation fold wraps the pivot's derived-table source exactly as
    * in the single-PIVOT case, and T-SQL's NULL-measure drop on the
    * unpivot leg is Spark's default too. Plans as one scan + the
    * partial-aggregating pivot + a narrow Expand — the same shape the
    * two statements written separately would produce, minus the
    * intermediate materialization. */
  def q141_dtsx_pivot_unpivot(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "PivotUnpivotETL.dtsx")
    w("pu_chain").select(
      col("prio").cast(StringType).as("prio"),
      col("sc").cast(StringType).as("sc"),
      col("amt").cast(DoubleType).as("amt"))
  }

  val q141Oracle: String =
    """WITH w AS (
      |  SELECT o_orderpriority AS prio,
      |    SUM(CASE WHEN upper(o_orderstatus) = 'O'
      |      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS o_amt,
      |    SUM(CASE WHEN upper(o_orderstatus) = 'F'
      |      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS f_amt
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT prio, 'O' AS sc, CAST(o_amt AS DOUBLE) AS amt FROM w
      |WHERE o_amt IS NOT NULL
      |UNION ALL
      |SELECT prio, 'F', CAST(f_amt AS DOUBLE) FROM w
      |WHERE f_amt IS NOT NULL""".stripMargin

  /** Parameterized `sp_executesql` with a scalar OUTPUT parameter
    * through the dtsx frontend (`SpExecOutputETL.dtsx`) — the
    * counts-into-variables logging idiom (r16; previously a blanket
    * decline, and the reference manual-reviews every EXEC).
    * [[graft.patterns.ScriptedSqlExecutor]] owns the shape directly:
    * the OUT argument stays a VARIABLE reference (it is the write-back
    * target, so the literal-binding path cannot carry it), the inner
    * `SELECT @c = …` evaluates with IN params bound as typed literals
    * and the OUT param's copy-in value, and the result casts back
    * through the parameter's then the caller's declared types (each
    * with its char cap). The stamped count then rides an UPDATE.
    * Scale: the OUT evaluation is ONE scalar aggregate job; the stamp
    * is a narrow projection. */
  def q142_dtsx_spexec_output(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "SpExecOutputETL.dtsx")
    w("ord_so").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("st").cast(StringType).as("st"),
      col("hi_cnt").cast(IntegerType).as("hi_cnt"))
  }

  val q142Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  o_orderstatus AS st,
      |  CAST((SELECT COUNT(*) FROM orders o2
      |        WHERE CAST(o2.o_totalprice AS DECIMAL(12,2)) >= 250000)
      |    AS INT) AS hi_cnt
      |FROM orders""".stripMargin

  /** Parameterized `sp_executesql` with TWO scalar OUTPUT parameters
    * through the dtsx frontend (`SpExecMultiOutETL.dtsx`) — the
    * `@rows OUTPUT, @err OUTPUT` logging-pair form of the idiom q142
    * owns for one parameter (r17).
    * [[graft.patterns.ScriptedSqlExecutor]]'s OUTPUT path now takes N
    * OUT parameters: the inner comma-assign SELECT must assign every
    * OUT param exactly once with no RHS reading another target (T-SQL
    * evaluates left-to-right, which a parallel copy-in replay cannot
    * reproduce — those decline), a FROM-bearing inner evaluates as
    * ONE query whose single row feeds every write-back, and each
    * value casts back through its parameter's then its caller's
    * declared types with their char caps. Both stamped scalars then
    * ride one UPDATE. Scale: the OUT evaluation is ONE scalar
    * aggregate job regardless of N; the stamp is a narrow projection. */
  def q143_dtsx_spexec_multi_out(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "SpExecMultiOutETL.dtsx")
    w("ord_mo").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("hi_cnt").cast(IntegerType).as("hi_cnt"),
      col("hi_tot").cast(DoubleType).as("hi_tot"))
  }

  val q143Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CAST((SELECT COUNT(*) FROM orders o2
      |        WHERE CAST(o2.o_totalprice AS DECIMAL(12,2)) >= 250000)
      |    AS INT) AS hi_cnt,
      |  CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(12,2)))
      |          FROM orders o2
      |        WHERE CAST(o2.o_totalprice AS DECIMAL(12,2)) >= 250000)
      |    AS DOUBLE) AS hi_tot
      |FROM orders""".stripMargin

  /** `EXEC @rc = helper` return-code capture through the dtsx
    * frontend (`ProcReturnETL.dtsx`) — the exit-status idiom around
    * script-local helpers (r17; the reference routes every EXEC to
    * manual review, `analyzer.py:137-145`).
    * [[graft.patterns.ProcInlineSqlCompiler]] owns a RETURN only as
    * the body's FINAL statement with a scalar expression: the
    * hygienic expansion appends `SET @rc = CAST((<renamed expr>) AS
    * INT)` after the body — T-SQL converts the returned value to INT
    * — and a body ending without RETURN (or with a bare RETURN)
    * returns 0. Mid-body RETURN stays control flow and declines; the
    * @rc target must be declared in the same batch (T-SQL 137). The
    * captured code then stamps the rows. Scale: all driver-side text
    * expansion — the body plans the same scalar aggregate + narrow
    * stamp the inline spelling would. */
  def q144_dtsx_proc_return(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ProcReturnETL.dtsx")
    w("ord_rc").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("hi2").cast(IntegerType).as("hi2"))
  }

  val q144Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CAST(2 * (SELECT COUNT(*) FROM orders o2
      |        WHERE CAST(o2.o_totalprice AS DECIMAL(12,2)) >= 250000)
      |    AS INT) AS hi2
      |FROM orders""".stripMargin

  /** `INSERT INTO t EXEC helper` over an ASSIGNMENT-PREFIX body
    * through the dtsx frontend (`InsertExecMultiETL.dtsx`) — the
    * compute-a-threshold-then-select reporting idiom (r17, widening
    * q140's single-SELECT ownership).
    * [[graft.patterns.ProcInlineSqlCompiler]] owns bodies whose every
    * statement is a scalar assignment (DECLAREs, SETs, assigning
    * SELECTs — which return no result set) or a result-returning
    * SELECT: T-SQL INSERT-EXEC captures ALL result sets, so each
    * renamed result SELECT inlines as its own INSERT in body order,
    * interleaved with the renamed assignments exactly as the proc
    * would run them. The two calls (positional, then named args)
    * prove per-call threshold isolation. Bodies with any other
    * statement keep the decline. Scale: per call, one
    * scalar-aggregate job for the threshold and one filtered scan
    * appending per result set — identical to the hand-inlined
    * spelling. */
  def q145_dtsx_insert_exec_multi(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "InsertExecMultiETL.dtsx")
    w("cust_hie").select(
      col("ck").cast(LongType).as("ck"),
      col("bal").cast(DoubleType).as("bal"),
      col("seg").cast(StringType).as("seg"))
  }

  val q145Oracle: String =
    """SELECT c_custkey AS ck,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |  c_mktsegment AS seg
      |FROM customer c
      |WHERE (c_mktsegment = 'BUILDING'
      |    AND CAST(c_acctbal AS DECIMAL(12,2)) >=
      |      (SELECT MAX(CAST(c2.c_acctbal AS DECIMAL(12,2))) - 2000
      |         FROM customer c2 WHERE c2.c_mktsegment = 'BUILDING'))
      |   OR (c_mktsegment = 'MACHINERY'
      |    AND CAST(c_acctbal AS DECIMAL(12,2)) >=
      |      (SELECT MAX(CAST(c2.c_acctbal AS DECIMAL(12,2))) - 1500
      |         FROM customer c2 WHERE c2.c_mktsegment = 'MACHINERY'))""".stripMargin

  /** The scalar-predicate IF guard through the dtsx frontend
    * (`IfScalarETL.dtsx`) — `DECLARE @hi INT; SELECT @hi = COUNT(*)
    * …; IF @hi > 0 <load>`, the conditional-load idiom over script
    * variables (r17; the reference sends ALL control flow to manual
    * review, `analyzer.py:137-156`).
    * The script executor's [[graft.patterns.IfLadderSqlCompiler]]
    * handler folds the predicate eagerly as one driver fact — script
    * @vars bind as typed literals, NULL takes the ELSE like T-SQL's
    * UNKNOWN — and runs the taken branch through the same sequencer
    * (the package's second IF is false and exercises the ELSE leg);
    * nested control flow declines. Scale: the guard is one scalar
    * aggregate job; the branch plans exactly its inline spelling. */
  def q148_dtsx_if_scalar(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "IfScalarETL.dtsx")
    w("ord_if").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("flag").cast(StringType).as("flag"))
  }

  val q148Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= 300000 THEN 'HOT'
      |       WHEN CAST(o_totalprice AS DECIMAL(12,2)) < 50000 THEN 'COOL'
      |       ELSE 'NEW' END AS flag
      |FROM orders""".stripMargin

  /** Dispatcher-level scalar IF with MULTI-statement `BEGIN…END`
    * branches and conditional SET through the dtsx frontend
    * (`IfBlockETL.dtsx`) — the q109 move replayed for the q148 class
    * (r18; the reference sends ALL control flow to manual review,
    * `analyzer.py:137-156`). [[graft.patterns.IfLadderSqlCompiler]]
    * re-joins the fragments the `;` splitter shreds a block into and
    * parses the ladder; the script sequencer folds each predicate
    * eagerly (variables are in reach in the sequencer) and runs the
    * taken block's
    * statement LIST through its own compileOne, so a later block
    * statement sees an earlier one's staging and a conditional
    * `SET @v = …` feeds statements after the IF. The false guard's
    * TRUNCATE+INSERT block is skipped wholesale. Nested IF, fused
    * statements, and BEGIN-without-END keep the decline. Scale: the
    * guard is one scalar-aggregate job; each block statement plans
    * exactly its inline spelling. */
  def q149_dtsx_if_block(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "IfBlockETL.dtsx")
    w("ord_blk").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("flag").cast(StringType).as("flag"))
  }

  val q149Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= 300000 THEN 'HOT'
      |       WHEN CAST(o_totalprice AS DECIMAL(12,2)) < 50000 THEN 'loaded'
      |       ELSE 'NEW' END AS flag
      |FROM orders
      |WHERE CAST(o_totalprice AS DECIMAL(12,2)) >= 2000""".stripMargin

  /** ELSE IF cascades through the dtsx frontend (`ElseIfLadderETL
    * .dtsx`) — a four-leg ladder mixing scalar and EXISTS predicates
    * resolving first-match to its MIDDLE leg, a conditionally-SET
    * band read back by a later UPDATE, and an all-false two-leg
    * ladder skipping vacuously (r18; previously both IF families
    * declined any nested IF via `nestedControlRe`).
    * [[graft.patterns.IfLadderSqlCompiler]] reads `IF … ELSE IF … ELSE
    * …` as a sequential first-match cascade of the same eager probes —
    * legs past the taken one never evaluate. Scale: one LIMIT-1 /
    * scalar-aggregate probe per evaluated leg, then the branch's own
    * plan — identical to the hand-written CASE spelling. */
  def q150_dtsx_else_if(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ElseIfLadderETL.dtsx")
    w("ord_lad").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("band").cast(StringType).as("band"))
  }

  val q150Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= 200000 THEN 'NEW'
      |       WHEN (SELECT MAX(CAST(o2.o_totalprice AS DECIMAL(12,2)))
      |             FROM orders o2) >= 10000000 THEN 'mega'
      |       WHEN EXISTS (SELECT 1 FROM orders o3
      |             WHERE CAST(o3.o_totalprice AS DECIMAL(12,2)) >= 100000)
      |         THEN 'high'
      |       WHEN (SELECT MAX(CAST(o2.o_totalprice AS DECIMAL(12,2)))
      |             FROM orders o2) >= 1000 THEN 'mid'
      |       ELSE 'low' END AS band
      |FROM orders""".stripMargin

  /** The script early-exit guard through the dtsx frontend
    * (`EarlyExitETL.dtsx`) — `IF <pred> RETURN` at top level exits
    * the batch: later statements are skipped, staged effects commit
    * (r18; any top-level RETURN previously declined). The second
    * task's guard FIRES (no negative prices exist): its pre-exit
    * UPDATE lands while its trailing unconditional UPDATE provably
    * never runs — the oracle would diverge on every row otherwise.
    * The third task's guard does not fire and the whole script runs.
    * RETURN under an explicit BEGIN TRAN bracket and mid-body RETURN
    * keep the decline ([[graft.patterns.ScriptedSqlExecutor]]'s
    * allowEarlyExit gate). Scale: the guard is one scalar aggregate;
    * an exit costs nothing — statements after it never plan. */
  def q151_dtsx_early_exit(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "EarlyExitETL.dtsx")
    w("ord_ee").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("flag").cast(StringType).as("flag"))
  }

  val q151Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= 400000 THEN 'CHK'
      |       WHEN CAST(o_totalprice AS DECIMAL(12,2)) < 2000 THEN 'DONE'
      |       ELSE 'NEW' END AS flag
      |FROM orders""".stripMargin

  /** DYNAMIC pivot through the dtsx frontend (`DynamicPivotETL.dtsx`)
    * — the classic idiom where the pivot column list is assembled
    * FROM DATA: `SELECT @cols = STRING_AGG(CONCAT('[', p, ']'), ',')
    * WITHIN GROUP (ORDER BY p) FROM (SELECT DISTINCT …)`, then
    * `SET @sql = N'… SELECT st, ' + @cols + N' … PIVOT (… IN (' +
    * @cols + N')) p'; EXEC(@sql)` (r18 — the r17 verdict asked this
    * composition gated or its decline pinned; it COMPOSES). The
    * executor's query-assign makes @cols a literal (q114),
    * [[graft.patterns.TsqlConcatFold]] renders the exact spliced text
    * (q127), the literal EXEC unwraps, and the folded inner re-enters
    * [[graft.patterns.PivotSql]] (q137) — including the bracketed
    * `[4-NOT SPECIFIED]` column with an embedded space. The reference
    * routes every EXEC to manual review (`analyzer.py:137-145`).
    * Scale: the @cols aggregate is one DISTINCT over the staged
    * matrix's key column (narrow scan); the emitted INSERT plans the
    * same one-scan Expand + partial-agg pivot as the static spelling. */
  def q152_dtsx_dynamic_pivot(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "DynamicPivotETL.dtsx")
    w("prio_dpv").select(
      col("st").cast(StringType).as("st"),
      col("1-URGENT").cast(DoubleType).as("urgent"),
      col("2-HIGH").cast(DoubleType).as("high"),
      col("3-MEDIUM").cast(DoubleType).as("medium"),
      col("4-NOT SPECIFIED").cast(DoubleType).as("notspec"),
      col("5-LOW").cast(DoubleType).as("low"))
  }

  val q152Oracle: String =
    """SELECT o_orderstatus AS st,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS urgent,
      |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS high,
      |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS medium,
      |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS notspec,
      |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
      |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS low
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** An IF guard BLOCK inside a TRY/CATCH body through the dtsx
    * frontend (`TryIfETL.dtsx`) — the guarded-load-with-handler
    * composition (r18): the TRY body's `IF … BEGIN … END` is one node
    * of the task's block tree ([[graft.patterns.SqlBlocks]]), exactly
    * like a top-level script's, the guard folds eagerly, both block statements run
    * through the overlay, and the CATCH — never fired here — would
    * see pre-failure staged state per the q107 contract. RETURN legs
    * inside TRY bodies stay manual review. Scale: identical to q149 —
    * one scalar-aggregate guard job, block statements plan their
    * inline spellings. */
  def q153_dtsx_try_if(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "TryIfETL.dtsx")
    w("ord_ti").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("flag").cast(StringType).as("flag"))
  }

  val q153Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= 300000 THEN 'HOT'
      |       ELSE 'NEW' END AS flag
      |FROM orders
      |WHERE CAST(o_totalprice AS DECIMAL(12,2)) >= 2000""".stripMargin

  /** RAISERROR legs in mid-script IF ladders through the dtsx
    * frontend (`GuardLadderETL.dtsx`) — the validation guard beside
    * real DML, beyond the guard-only block of q15/q99 (r18): an
    * informational (severity 1) ELSE leg that fires and CONTINUES,
    * and a severity-16 guard inside a TRY whose CATCH handles the
    * abort — the statement after the fired guard provably never runs
    * (the oracle would read 'NEVER' on every row otherwise) and the
    * CATCH's flag lands instead. [[graft.patterns.IfLadderSqlCompiler]]
    * parses the leg; the sequencer fires it (≥ 11 throws a
    * T-SQL-catchable abort, ≤ 10 passes). Scale:
    * the guard is one scalar aggregate; a fired abort costs nothing
    * downstream — later statements never plan. */
  def q154_dtsx_guard_ladder(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "GuardLadderETL.dtsx")
    w("ord_gd").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("flag").cast(StringType).as("flag"))
  }

  val q154Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= 2000 THEN 'OK'
      |       ELSE 'GUARD' END AS flag
      |FROM orders""".stripMargin

  /** IF guard BLOCKS inside a counter WHILE body through the dtsx
    * frontend (`WhileIfETL.dtsx`) — the guarded monthly-backfill
    * composition (r18): [[graft.patterns.WhileLoopSqlCompiler]] reads
    * the body's `IF … BEGIN … END` off the block tree and validates it
    * loop-body-safe (no RETURN leg, no conditional assignment — a
    * `SET @v = …` branch would be invisible to the unroller's
    * driver-side variable model, so it declines rather than silently
    * diverge), then emits the block once per iteration with the
    * counter bound; each emitted copy executes through the ladder in
    * the script overlay. Month 1's guard is false — its block skips;
    * months 2/3 re-flag and purge. Scale: per FIRING iteration one
    * folded guard + two narrow DML plans, exactly the hand-unrolled
    * spelling; skipped iterations cost one driver-side fold. */
  def q155_dtsx_while_if(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "WhileIfETL.dtsx")
    w("ord_wl").select(
      col("okey").cast(LongType).as("okey"),
      col("mth").cast(IntegerType).as("mth"),
      col("price").cast(DoubleType).as("price"),
      col("flag").cast(StringType).as("flag"))
  }

  val q155Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(MONTH(o_orderdate) AS INT) AS mth,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  CASE WHEN MONTH(o_orderdate) IN (2, 3)
      |       THEN CONCAT('M', MONTH(o_orderdate)) ELSE 'NEW' END AS flag
      |FROM orders
      |WHERE NOT (MONTH(o_orderdate) IN (2, 3)
      |  AND CAST(o_totalprice AS DECIMAL(12,2)) < 10000)""".stripMargin

  /** DEFAULT parameter values on a script-local helper through the
    * dtsx frontend (`ProcDefaultETL.dtsx`) — `@cut DECIMAL(12,2) =
    * 250000` in the signature (r17; the reference routes every EXEC
    * to manual review, `analyzer.py:137-145`).
    * [[graft.patterns.ProcInlineSqlCompiler]] fills any call that
    * leaves the parameter unbound with the declared constant — the
    * trailing positional omission, an explicit positional bind, a
    * name-bound omission, and the call-site `DEFAULT` placeholder
    * keyword are the four calls this gate runs. Non-constant
    * defaults (a T-SQL syntax error), unbound parameters without a
    * default, and DEFAULT against a default-less parameter decline.
    * Scale: unchanged — the default is one more driver-side literal
    * in the hygienic per-call DECLARE. */
  def q147_dtsx_proc_default(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "ProcDefaultETL.dtsx")
    w("ord_dp").select(
      col("okey").cast(LongType).as("okey"),
      col("price").cast(DoubleType).as("price"),
      col("prio").cast(StringType).as("prio"),
      col("tier").cast(StringType).as("tier"))
  }

  val q147Oracle: String =
    """SELECT o_orderkey AS okey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  o_orderpriority AS prio,
      |  CASE WHEN (o_orderpriority = '1-URGENT'
      |          AND CAST(o_totalprice AS DECIMAL(12,2)) >= 250000)
      |        OR (o_orderpriority = '2-HIGH'
      |          AND CAST(o_totalprice AS DECIMAL(12,2)) >= 150000)
      |        OR (o_orderpriority = '3-MEDIUM'
      |          AND CAST(o_totalprice AS DECIMAL(12,2)) >= 250000)
      |        OR (o_orderpriority = '5-LOW'
      |          AND CAST(o_totalprice AS DECIMAL(12,2)) >= 250000)
      |       THEN 'HI' ELSE 'LO' END AS tier
      |FROM orders""".stripMargin

  /** UNPIVOT chained into PIVOT under CASE-INSENSITIVE collation
    * through the dtsx frontend (`PivotChainCiETL.dtsx`) — the q141 ×
    * q138 composition (r17; previously a documented decline). The
    * estate writes the pivot IN list lowercase (`[1-urgent]`,
    * `[2-high]`) while the staged matrix stores uppercase priorities;
    * [[graft.patterns.PivotSql]]'s fold now wraps the WHOLE
    * `<rel> UNPIVOT (…)` chain in the `upper()` projection — the
    * pivot column exists only through the chain — and upper-cases the
    * value literals, so the rows land exactly as a default-collation
    * estate folds them. Without the fold both pivot columns read NULL
    * — the silent divergence this gate pins through the oracle. Plans
    * as one scan + narrow Expand (unpivot) + the partial-aggregating
    * pivot — the same shape as the two statements written apart. */
  def q146_dtsx_pivot_chain_ci(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = runDtsxWarehousePackage(spark, dir, "PivotChainCiETL.dtsx")
    w("pc_ci").select(
      col("sc").cast(StringType).as("sc"),
      col("1-urgent").cast(DoubleType).as("urgent"),
      col("2-high").cast(DoubleType).as("high"))
  }

  val q146Oracle: String =
    """WITH w AS (
      |  SELECT o_orderpriority AS prio,
      |    SUM(CASE WHEN o_orderstatus = 'O'
      |      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS open_amt,
      |    SUM(CASE WHEN o_orderstatus = 'F'
      |      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS fill_amt
      |  FROM orders GROUP BY o_orderpriority),
      |u AS (
      |  SELECT prio, 'open_amt' AS sc, open_amt AS amt FROM w
      |  WHERE open_amt IS NOT NULL
      |  UNION ALL
      |  SELECT prio, 'fill_amt', fill_amt FROM w
      |  WHERE fill_amt IS NOT NULL)
      |SELECT sc,
      |  CAST(MAX(CASE WHEN upper(prio) = '1-URGENT' THEN amt END)
      |    AS DOUBLE) AS urgent,
      |  CAST(MAX(CASE WHEN upper(prio) = '2-HIGH' THEN amt END)
      |    AS DOUBLE) AS high
      |FROM u GROUP BY sc""".stripMargin

  /** Explicit GROUPING SETS with grouping_id disambiguation (beyond q24's
    * rollup): two chosen aggregation levels, no intermediate level. */
  def q39_grouping_sets(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))""".stripMargin)
  }

  val q39Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))""".stripMargin

  /** Correlated EXISTS / NOT EXISTS — Catalyst decorrelates both to
    * semi/anti joins (`RewritePredicateSubquery`, SURVEY §4): customers
    * with an urgent order but no returned lineitem. */
  def q40_exists_subquery(spark: SparkSession, dir: String): DataFrame = {
    customer(spark, dir).createOrReplaceTempView("customer_ex")
    orders(spark, dir).createOrReplaceTempView("orders_ex")
    lineitem(spark, dir).createOrReplaceTempView("lineitem_ex")
    spark.sql(
      """SELECT c.c_custkey AS customer_id, c.c_mktsegment AS segment
        |FROM customer_ex c
        |WHERE EXISTS (
        |    SELECT 1 FROM orders_ex o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders_ex o JOIN lineitem_ex l ON l.l_orderkey = o.o_orderkey
        |    WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')""".stripMargin)
  }

  val q40Oracle: String =
    """SELECT c.c_custkey AS customer_id, c.c_mktsegment AS segment
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |    WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')""".stripMargin

  /** The S2 runtime contract end-to-end in the gate: parse an engine-
    * authored package whose source SQL carries positional `?` placeholders
    * (reference `samples/ssis_packages/SalesFactETL.dtsx:40-46,79-91`),
    * evaluate its variables — `User::EndDate` is EXPRESSION-valued
    * (`DATEADD("day", @WindowDays, @StartDate)`, resolved by fixpoint) —
    * bind the placeholders, execute the full parameterized SELECT (WHERE
    * included, filters pushed to the scan), and compile the dataflow with
    * the variable environment so a derived column can reference
    * `@[User::StartDate]`. The oracle restates the evaluated window as
    * literals, so evaluation + binding + the parameterized scan are all
    * hash-checked. */
  def q41_param_binding(spark: SparkSession, dir: String): DataFrame = {
    val in = getClass.getResourceAsStream("/dtsx/ParamWindowETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val pkg = graft.parser.DtsxParser.parseString(xml)
    val values = graft.pipeline.PackageVariables.evaluate(spark, pkg.variables)
    val flow = pkg.tasks.collectFirst { case d: graft.ir.Ir.DataFlowTask => d }
      .getOrElse(throw new IllegalStateException("no dataflow in package"))
    val bound = graft.pipeline.PackageVariables.bindTaskSql(flow, pkg, values)
    graft.ops.DataFlowCompiler.compile(
      bound, graft.sources.Sources.testdataResolver(spark, dir), values).df
  }

  val q41Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
      |  datediff('day', DATE '1995-03-01', CAST(o_orderdate AS DATE)) AS days_into_window
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-05-31 00:00:00'""".stripMargin

  /** CONTAINER nesting in the gate: a Sequence container stages two
    * tables, a Success edge from the container gates the downstream mart
    * dataflow, and the whole package runs through [[PackageRunner]] — the
    * staged destinations feed the mart's source via the resolver, so the
    * final mart is ONE composed Catalyst plan (no materialization barrier
    * between tasks). Parser containers: `ir/Ir.scala` ContainerTask;
    * runner nesting: `pipeline/PackageRunner.scala` Container branch. */
  def q42_container_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val in = getClass.getResourceAsStream("/dtsx/SequenceMartETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val pkg = graft.parser.DtsxParser.parseString(xml)
    val written = scala.collection.mutable.Map.empty[String, DataFrame]
    val env = graft.pipeline.PackageRunner.RuntimeEnv(
      resolver = graft.sources.Sources.testdataResolver(spark, dir, written.get),
      write = (table, df, _) => {
        val bare = BracketedTable.findFirstMatchIn(table).map(_.group(1)).getOrElse(table)
        written(bare) = df
      })
    val run = graft.pipeline.PackageRunner.run(spark, pkg, env)
    require(!run.failed, s"package failed: ${run.tasks.map(t => t.taskName -> t.status)}")
    written("segment_orders")
      .select(col("segment"), col("n_orders"),
        col("total_value").cast(DoubleType).as("total_value"))
  }

  val q42Oracle: String =
    """SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total_value
      |FROM orders o
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1""".stripMargin

  /** CUBE — all 2² grouping sets over (year, priority), completing the
    * rollup (q24) / grouping-sets (q39) family. One scan, one expand +
    * partial-combining aggregate. */
  def q45_cube(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .cube(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Money)).cast(DoubleType).as("total_price"))

  val q45Oracle: String =
    """SELECT year(o_orderdate) AS o_year, o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY CUBE(year(o_orderdate), o_orderpriority)""".stripMargin

  /** Salted join in the gate: `Skew.saltedJoin` must be RESULT-PRESERVING
    * (salting only reshapes the shuffle), so its oracle is the plain
    * join — the property that makes salting safe to apply to any hot key
    * at 100 TB. */
  def q46_salted_join(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select(col("l_partkey"), col("l_quantity"))
    val p = part(spark, dir).select(col("p_partkey"), col("p_brand"))
    graft.ops.Skew.saltedJoin(li, p, "l_partkey", "p_partkey", saltFactor = 8)
      .groupBy(col("p_brand"))
      .agg(
        sum(col("l_quantity").cast(Money)).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"))
  }

  val q46Oracle: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  /** Window FRAMES (rows-between moving sum + running total) — the frame
    * clause is the one window surface q25's ranking functions don't touch.
    * Exact decimal sums inside the frames, DOUBLE at the boundary. The
    * unpartitioned window runs AFTER the date-grain aggregate — its input
    * is one row per calendar day (bounded by time, not by data volume),
    * so the single-partition sort is safe at any corpus size; a
    * per-entity moving window would partition by the entity instead. */
  def q47_window_frames(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = orders(spark, dir)
      .groupBy(col("o_orderdate").as("order_date"))
      .agg(sum(col("o_totalprice").cast(Money)).as("rev"))
    val byDate = Window.orderBy(col("order_date"))
    daily.select(
      col("order_date"),
      col("rev").cast(DoubleType).as("rev"),
      sum(col("rev")).over(byDate.rowsBetween(-6, 0)).cast(DoubleType).as("rev_7d"),
      sum(col("rev")).over(byDate.rowsBetween(Window.unboundedPreceding, 0))
        .cast(DoubleType).as("rev_running"))
  }

  val q47Oracle: String =
    """WITH daily AS (
      |  SELECT o_orderdate AS order_date,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT order_date, CAST(rev AS DOUBLE) AS rev,
      |  CAST(SUM(rev) OVER (ORDER BY order_date
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d,
      |  CAST(SUM(rev) OVER (ORDER BY order_date
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_running
      |FROM daily""".stripMargin

  /** UNPIVOT (wide→long) — the inverse of q32's pivot. `Dataset.unpivot`
    * is a narrow Expand (row → 4 rows) with NO shuffle: each measure
    * column becomes a (measure, value) row in the same task that read
    * it, so the melt scales linearly with input at any corpus size. */
  def q48_unpivot(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "value")

  val q48Oracle: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin

  /** Exact percentiles per group (`percentile` = linear-interpolation
    * PERCENTILE_CONT ≡ DuckDB quantile_cont). Exact quantiles need the
    * group's values together — one shuffle on the (low-cardinality) group
    * key; per-group state is the sorted value multiset. Results rounded
    * to 4dp on BOTH engines so last-ulp interpolation noise can't flip
    * the hash. The streaming-scale variant (approx_percentile, bounded
    * state) is spec-tested with a rank-error bound instead. */
  def q49_percentiles(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n"))

  val q49Oracle: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** FOREACH iteration in the gate: an Item enumerator drives three
    * passes of the child dataflow, each binding `User::Priority` from the
    * item row — into BOTH the source's `?` parameter and a Derived
    * Column stamping the loop variable. Destination appends accumulate
    * across iterations (the env unions), so the mart is the union of the
    * per-iteration loads. Parser: `DtsxParser` ForEachEnumerator/
    * VariableMappings; runner: `PackageRunner` ForEachLoop branch. */
  def q51_foreach_loop(spark: SparkSession, dir: String): DataFrame =
    runDtsxPackage(spark, dir, "ForEachPriorityETL.dtsx")("priority_orders")
      .groupBy(col("batch_priority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Money)).cast(DoubleType).as("total_price"))

  val q51Oracle: String =
    """SELECT o_orderpriority AS batch_priority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
      |GROUP BY 1""".stripMargin

  /** Bucketed staging + co-located join — the staging-table load pattern
    * with the 100 TB twist: both sides are bucketed on the join key at
    * write time, so the fact×orders join itself plans with ZERO Exchange
    * (each task merges bucket i of both sides; PlanShapeSpec asserts it).
    * The only shuffle in the whole query is the final low-cardinality
    * re-aggregation. Oracle = the plain join: bucketing must be invisible
    * to results, exactly like q46's salting. Both sides are staged once
    * per dataset and build; [[graft.ops.Staged]] owns the lifecycle. */
  def q50_bucketed_join(spark: SparkSession, dir: String): DataFrame = {
    val stage = q50Stage(dir)
    graft.ops.Staged.tables(spark, stage)(
      new graft.ops.Staged.Table("lineitem", "l_orderkey",
        lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity"))),
      new graft.ops.Staged.Table("orders", "o_orderkey",
        orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")))): Unit
    graft.ops.Bucketing.bucketedJoin(spark, stage.table("lineitem"),
        stage.table("orders"), "l_orderkey", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(col("l_quantity").cast(Money)).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n_lines"))
  }

  private[graft] def q50Stage(dir: String): graft.ops.Staged.Stage =
    graft.ops.Staged.Stage("bucketed", dir, Seq("lineitem.parquet", "orders.parquet"))

  val q50Oracle: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** FOREACH FILE iteration in the gate: nation is first split into
    * multiple CSV part files in a temp folder (fixture prep), then the
    * `ForEachFileIngest.dtsx` package's File enumerator lists `*.csv`
    * under `User::SourceFolder` (overridden at run time — the dtexec
    * `/SET` idiom), binds each fully-qualified path to
    * `User::CurrentFile`, and the child dataflow's Flat File source reads
    * that one file through the declared schema, appending into the mart.
    * The result must hash-match a plain read of the whole table — the
    * reference recognizes ForEach containers generically
    * (`src/parser/constants.py:11-19`); this is the dominant real-world
    * enumerator executed with real semantics. */
  def q52_foreach_file(spark: SparkSession, dir: String): DataFrame = {
    // fixture prep: nation as 3 header-CSV part files in a flat folder
    val staging = tempDirCleanedOnExit("graft_fef_stage").toString
    graft.sources.Sources.writeCsv(
      nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
        .repartition(3), staging)
    val enumDir = tempDirCleanedOnExit("graft_fef_parts")
    new java.io.File(staging).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath, enumDir.resolve(s"nation_part$i.csv"))
      }
    // dtexec /SET-style variable override: point the enumerator at the
    // run-time folder
    runDtsxPackage(spark, dir, "ForEachFileIngest.dtsx",
      overrideVars = Map("User::SourceFolder" -> enumDir.toString))("nation_ingest")
  }

  val q52Oracle: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  /** FOREACH ADO iteration in the gate: an Execute SQL task loads the
    * region key list with a Full result set bound to an Object variable
    * (`ResultBinding` → `User::Regions`), and the ADO enumerator iterates
    * the recordset's rows, binding `r_regionkey` to `User::RegionKey` for
    * each pass of the child dataflow — into BOTH the source's `?`
    * parameter and a Derived Column stamp. The reference recognizes
    * ForEach containers generically (`src/parser/constants.py:11-19`);
    * this executes the recordset-driven variant with real semantics
    * (driver-side iteration, exactly as SSIS runs it, with a runaway
    * backstop — a data-sized iteration belongs in a dataflow). */
  def q53_foreach_ado(spark: SparkSession, dir: String): DataFrame =
    runDtsxPackage(spark, dir, "ForEachAdoRegionETL.dtsx",
      withSqlExecutor = true)("nation_by_region")

  val q53Oracle: String =
    """SELECT n_nationkey, n_name, n_regionkey,
      |  n_regionkey AS batch_region
      |FROM nation""".stripMargin

  /** FOREACH NODELIST iteration in the gate: the enumerator evaluates
    * `/segments/segment` over an inline XML document (DirectInput,
    * entity-escaped into the `SourceDocument` attribute exactly as the
    * SSIS designer stores it), iterates the matched nodes' text
    * (`EnumerationType=NodeText`) and binds each segment to
    * `User::Segment` for one pass of the child dataflow — into BOTH the
    * source's `?` parameter and a Derived Column stamp. The reference
    * recognizes ForEach containers generically
    * (`src/parser/constants.py:11-19`); this executes the XML-driven
    * variant with real semantics (JDK XPath over a DTD-disabled parse —
    * the document is untrusted input). Parser: `DtsxParser` FEENODELIST;
    * runner: `PackageRunner.nodeListItems`. */
  def q54_foreach_nodelist(spark: SparkSession, dir: String): DataFrame =
    runDtsxPackage(spark, dir, "ForEachNodeListETL.dtsx")("customer_by_segment")

  val q54Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment, c_mktsegment AS batch_segment
      |FROM customer
      |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')""".stripMargin

  /** Partition pruning end-to-end — THE 100 TB scan discipline: the
    * orders table is staged as a hive-partitioned dataset (one directory
    * per order month, the warehouse layout every date-keyed fact uses),
    * and the month filter must prune at PLANNING time — the executed
    * plan's `PartitionFilters` keeps every other month's files unopened
    * (asserted in PlanShapeSpec), so scan cost is proportional to the
    * month, not the table. The oracle applies the same predicate to the
    * unpartitioned table: partition layout must be invisible to results. */
  def q56_partition_pruning(spark: SparkSession, dir: String): DataFrame = {
    val stage = tempDirCleanedOnExit("graft_part_orders").toString
    orders(spark, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      // cluster rows by the partition column before the write: without
      // this every one of the N write tasks emits a file into every
      // month directory (N×months small files — the classic partitioned-
      // write mistake); with it each month's rows land in one task
      .repartition(col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(stage)
    Tables.open(spark, stage)
      .filter(col("o_month") === "1997-03")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Money)).cast(DoubleType).as("total_price"))
  }

  val q56Oracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE strftime(o_orderdate, '%Y-%m') = '1997-03'
      |GROUP BY 1""".stripMargin

  /** Bloom-filter semi-join pushdown: a selective orders predicate
    * (urgent + finished) builds a key bloom in one tiny aggregate job,
    * and the lineitem side applies a codegen'd `might_contain` BEFORE
    * any exchange — the fact scan ships only can-match rows into the
    * join (Spark's runtime bloom filter made explicit and always-on;
    * `ops/BloomJoin`). False positives die in the exact equi-join that
    * follows, so the oracle is the PLAIN filtered join — the pruning
    * must be invisible to results. PlanShapeSpec asserts the probe
    * filter sits on the scan side of the join. */
  def q57_bloom_join(spark: SparkSession, dir: String): DataFrame = {
    val dim = orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    graft.ops.BloomJoin.prefilteredEquiJoin(
        lineitem(spark, dir).select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
        "l_orderkey", dim, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(Money)).cast(DoubleType).as("sum_qty"))
  }

  val q57Oracle: String =
    """SELECT l_returnflag, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
      |GROUP BY 1""".stripMargin

  /** The q57 bloom pushdown with MIXED-WIDTH keys: an INT fact key
    * probing a BIGINT dim key. `xxhash64` is type-sensitive — hashing
    * each side's NATIVE type turns every probe into a false negative and
    * silently drops all matching rows (the latent BloomJoin bug the r7
    * spec fix closed); `prefilteredEquiJoin` widens both sides to one
    * BIGINT hash type, so the result must equal the plain coercing join,
    * which is exactly what the oracle computes. Oracle-visible twin of
    * the BloomJoin mixed-type parity spec. */
  def q61_bloom_mixed_keys(spark: SparkSession, dir: String): DataFrame = {
    val dim = orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select(col("o_orderkey")) // BIGINT
    val fact = lineitem(spark, dir)
      .select(col("l_orderkey").cast(IntegerType).as("l_orderkey_i"),
        col("l_returnflag"), col("l_quantity"))
    graft.ops.BloomJoin.prefilteredEquiJoin(fact, "l_orderkey_i", dim, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(Money)).cast(DoubleType).as("sum_qty"))
  }

  val q61Oracle: String =
    """SELECT l_returnflag, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON CAST(l_orderkey AS INT) = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
      |GROUP BY 1""".stripMargin

  /** JSON-Lines round-trip — the flat-file interchange format training
    * corpora actually ship in (one object per line, splittable): write the
    * documents table as JSONL, read it back under the DECLARED schema
    * (never inferSchema — a second full scan at 100 TB), and reproduce
    * the source exactly, including text with meaningful trailing
    * whitespace and quote-worthy characters the CSV path would have to
    * escape. */
  def q62_jsonl_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.ir.Ir.ColumnInfo
    import graft.types.SsisTypes.SsisColumnType
    val tmp = tempDirCleanedOnExit("graft_jsonl").toString
    graft.sources.Sources.writeJsonl(
      documents(spark, dir).select("doc_id", "text", "lang", "source", "n_chars"), tmp)
    val declared = List(
      ColumnInfo("doc_id", SsisColumnType("i8")),
      ColumnInfo("text", SsisColumnType("wstr", Some(4000))),
      ColumnInfo("lang", SsisColumnType("wstr", Some(8))),
      ColumnInfo("source", SsisColumnType("wstr", Some(32))),
      ColumnInfo("n_chars", SsisColumnType("i8")))
    graft.sources.Sources.readJsonl(spark, tmp, declared)
  }

  val q62Oracle: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents"

  /** Schema evolution across ingest batches — the lakehouse reality a
    * long-lived warehouse dataset accretes: batch 1 was written before
    * `n_regionkey` existed, batch 2 carries it. `mergeSchema` unifies
    * the footers at planning time (the batch-1 files are never
    * rewritten), old rows surface NULL for the new column, and the
    * partition-discovered `b` column identifies the batch. The oracle is
    * the explicit union with a NULL column — evolution must behave
    * exactly like a backfill-free migration. At 100 TB the footer merge
    * is listing-cost only; no data job touches the historical files. */
  def q58_schema_evolution(spark: SparkSession, dir: String): DataFrame = {
    val stage = tempDirCleanedOnExit("graft_evolve").toString
    val n = nation(spark, dir)
    n.select(col("n_nationkey"), col("n_name"))
      .write.mode("overwrite").parquet(s"$stage/b=1")
    n.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite").parquet(s"$stage/b=2")
    spark.read.option("mergeSchema", "true").parquet(stage)
      .select(col("b").cast(IntegerType).as("b"),
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  val q58Oracle: String =
    """SELECT 1 AS b, n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey FROM nation
      |UNION ALL
      |SELECT 2 AS b, n_nationkey, n_name, n_regionkey FROM nation""".stripMargin

  /** Semi-structured JSON extraction — the props-bag column every event
    * table carries: `from_json` with a DECLARED schema (never schema
    * inference — at 100 TB an inference pass is a full extra scan and a
    * schema that drifts with the sample) projects the typed field inside
    * whole-stage codegen, then a standard partial-combining aggregate.
    * Malformed JSON yields NULL (PERMISSIVE), which the aggregates skip —
    * the same contract as DuckDB's json_extract_string. */
  def q59_json_extract(spark: SparkSession, dir: String): DataFrame =
    eventsNs(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  val q59Oracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** Ordered funnel analysis over the event stream — the product-analytics
    * staple (view → click → purchase, each stage within a 24 h conversion
    * window of the previous stage's FIRST occurrence, so late events don't
    * convert). Sequencing makes this
    * inexpressible as one conditional aggregate — stage k's `min` is
    * conditioned on stage k−1's result — so the distributed shape is a
    * CASCADE of per-stage partial-combining `min` aggregates, each stage
    * scanning ONLY its event type (the `event_type` filter pushes into the
    * parquet scan, so at 100 TB each stage reads a type-pruned slice, not
    * the full log) and equi-joining the previous stage's user→ts frame on
    * `user_id`. Every shuffle in the cascade keys on `user_id`, so the
    * exchanges align, and each stage's frame only SHRINKS (funnel
    * monotonicity). The alternative single-scan collect-and-sort-per-user
    * form materializes every user's full event list — the shape that dies
    * on power users; this one never holds more than one row per user per
    * stage. */
  def q63_funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsNs(spark, dir).select(col("user_id"), col("event_type"), col("ts_us"))
    val windowUs = 24L * 3600 * 1000000L
    def stage(tpe: String, prev: DataFrame, prevTs: String, outTs: String) =
      e.filter(col("event_type") === tpe)
        .join(prev.select(col("user_id"), col(prevTs)), Seq("user_id"))
        .filter(col("ts_us") >= col(prevTs) && col("ts_us") < col(prevTs) + windowUs)
        .groupBy(col("user_id")).agg(min(col("ts_us")).as(outTs))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("view_us"))
    val c = stage("click", v, "view_us", "click_us")
    val p = stage("purchase", c, "click_us", "purchase_us")
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
        (lit(1) + when(col("click_us").isNotNull, 1).otherwise(0)
          + when(col("purchase_us").isNotNull, 1).otherwise(0)).as("stage_reached"))
  }

  val q63Oracle: String =
    """WITH v AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS view_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS click_us
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.view_us
      |    AND epoch_us(e.ts) < v.view_us + 86400000000
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.click_us
      |    AND epoch_us(e.ts) < c.click_us + 86400000000
      |  GROUP BY e.user_id)
      |SELECT v.user_id, v.view_us, c.click_us, p.purchase_us,
      |  1 + CASE WHEN c.click_us IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN p.purchase_us IS NOT NULL THEN 1 ELSE 0 END AS stage_reached
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin

  /** Cohort retention — users grouped by the ISO week of their first event,
    * retention counted as distinct active users per (cohort, week offset).
    * Week ids are integer epoch-µs division (never an engine's date_trunc,
    * whose week-start convention differs): both engines divide the same
    * exact integers. Shapes at scale: the first-touch frame is ONE
    * partial-combining `min` per user; joining it back keys on `user_id` —
    * the same key as the aggregate, so the exchange aligns — and the
    * (user, week) de-dup partial-aggregates before the final small
    * (cohort, offset) rollup. Nothing in the plan holds per-user event
    * lists; the widest frame is one row per (user, active week). */
  def q64_cohort_retention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val e = eventsNs(spark, dir).select(col("user_id"), col("ts_us"))
    val first = e.groupBy(col("user_id"))
      .agg(floor(min(col("ts_us")) / weekUs).cast(LongType).as("cohort_week"))
    e.join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_week"),
        (floor(col("ts_us") / weekUs).cast(LongType) - col("cohort_week")).as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val q64Oracle: String =
    """WITH f AS (
      |  SELECT user_id,
      |    CAST(floor(MIN(epoch_us(ts)) / 604800000000.0) AS BIGINT) AS cohort_week
      |  FROM events GROUP BY user_id),
      |act AS (
      |  SELECT DISTINCT e.user_id, f.cohort_week,
      |    CAST(floor(epoch_us(e.ts) / 604800000000.0) AS BIGINT) - f.cohort_week AS week_offset
      |  FROM events e JOIN f ON e.user_id = f.user_id)
      |SELECT cohort_week, week_offset, COUNT(*) AS n_users
      |FROM act GROUP BY cohort_week, week_offset""".stripMargin

  /** Point-in-interval (range) join, binned — events attributed to
    * OVERLAPPING promo windows (10 four-day windows starting every 3 days,
    * so an event can land in up to two). Without an equi conjunct Spark
    * plans a nested-loop join; [[graft.ops.RangeJoin.binnedIntervalJoin]]
    * explodes each interval into its 1-day bins and hash-joins on the bin
    * id with the raw range predicate residual — the shape that scales when
    * the interval side is too big to broadcast (see RangeJoin scaladoc; the
    * equi-keyed join is asserted in PlanShapeSpec). Window frame built from
    * `spark.range` — deterministic, and the oracle rebuilds it with
    * `generate_series`. */
  def q65_interval_join(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 24L * 3600 * 1000000L
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val promos = spark.range(10).select(
      col("id").as("promo_id"),
      (lit(baseUs) + col("id") * (3 * dayUs)).as("start_us"),
      (lit(baseUs) + col("id") * (3 * dayUs) + 4 * dayUs).as("end_us"))
    val e = eventsNs(spark, dir)
      .select(col("event_id"), col("ts_us"),
        col("value").cast(DecimalType(18, 4)).as("v"))
    graft.ops.RangeJoin.binnedIntervalJoin(e, "ts_us", promos,
        "start_us", "end_us", dayUs)
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast(DoubleType).as("total_value"))
  }

  val q65Oracle: String =
    """WITH promos AS (
      |  SELECT i AS promo_id,
      |    1704067200000000 + i * 259200000000 AS start_us,
      |    1704067200000000 + i * 259200000000 + 345600000000 AS end_us
      |  FROM generate_series(0, 9) t(i))
      |SELECT promo_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events JOIN promos
      |  ON epoch_us(ts) >= start_us AND epoch_us(ts) < end_us
      |GROUP BY promo_id""".stripMargin

  /** Gaps-and-islands: per-user runs of CONSECUTIVE active days (streaks)
    * via the classic `day − row_number()` grouping idiom — consecutive
    * days share a constant difference, so each run collapses to one
    * group key without any self-join or recursive scan. Day ids are
    * integer epoch division (the q64 convention). Shapes at scale: the
    * (user, day) de-dup partial-aggregates MAP-SIDE, so its exchange
    * carries day-granular rows, never the raw event log (a power user
    * with 10⁶ events ships ≤ span-days rows); the row_number window's
    * `user_id` exchange moves the same day-granular frame; and BOTH
    * streak rollups reuse the window's partitioning — zero further
    * exchanges (a single raw-row `repartition(user_id)` would halve the
    * exchange count but ship the unreduced event log, strictly worse at
    * scale; asserted in PlanShapeSpec). */
  def q66_activity_streaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 24L * 3600 * 1000000L
    val days = eventsNs(spark, dir)
      .select(col("user_id"), floor(col("ts_us") / dayUs).cast(LongType).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        min(col("streak_start")).as("first_active_day"))
  }

  val q66Oracle: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp,
      |    day
      |  FROM days),
      |runs AS (
      |  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS streak_start
      |  FROM isl GROUP BY user_id, grp)
      |SELECT user_id,
      |  CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  COUNT(*) AS n_streaks,
      |  MAX(len) AS longest_streak,
      |  MIN(streak_start) AS first_active_day
      |FROM runs GROUP BY user_id""".stripMargin

  /** Z-order (Morton) clustering key — [[graft.ops.ZOrder]]: customer id
    * and order day interleave into one integer code, so range-clustering
    * the fact on it gives every file tight min/max stats on BOTH
    * dimensions (predicates on either prune at planning time — the
    * Delta/Iceberg `OPTIMIZE ZORDER BY` layout, done with plain Spark).
    * The gate checks the code itself: pure shift/mask integer
    * arithmetic, bit-identical in any engine; the layout's locality
    * property (per-file spans shrink in both dims vs a single-dim sort)
    * is asserted quantitatively in RangeJoinAndDiffSpec. */
  def q68_zorder_key(spark: SparkSession, dir: String): DataFrame = {
    val a = col("o_custkey").bitwiseAND(lit(255L))
    // o_orderdate arrives TIMESTAMP_NTZ; the UTC-session cast makes
    // unix_millis read the same wall-clock epoch DuckDB's epoch_ms sees
    val b = floor(unix_millis(col("o_orderdate").cast(TimestampType)) / 86400000.0)
      .cast(LongType).bitwiseAND(lit(255L))
    orders(spark, dir).select(
      col("o_orderkey"), a.as("a"), b.as("b"),
      graft.ops.ZOrder.zValue2(a, b, 8).as("z"))
  }

  val q68Oracle: String = {
    val a = "(o_custkey & 255)"
    val b = "(CAST(floor(epoch_ms(o_orderdate) / 86400000.0) AS BIGINT) & 255)"
    s"""SELECT o_orderkey, $a AS a, $b AS b,
       |  ${graft.ops.ZOrder.zValue2Sql(a, b, 8)} AS z
       |FROM orders""".stripMargin
  }

  /** Time-weighted average (TWAP-style): each event's value holds until
    * the user's next event (step-function semantics — the telemetry/
    * finance temporal aggregate `avg()` gets wrong, since sparse samples
    * must weigh by how LONG they were in force, not how often they were
    * reported). Duration weights come from one `lead` per user-ordered
    * row; the weighted sum folds in DECIMAL(38,0) (µs × decimal-scaled
    * value — exact integers, order-independent, immune to the Long
    * overflow a 30-day µs span × scaled value would hit), and only the
    * final division drops to double — the same IEEE expression in both
    * engines. Single-event users have no interval and no row. One
    * shuffle on `user_id`, reused by window and aggregate. */
  def q70_time_weighted_avg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    eventsNs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        (col("value").cast(DecimalType(18, 4)) * 10000).cast(LongType).as("scaled"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum((col("next_us") - col("ts_us")).cast(DecimalType(38, 0))
          * col("scaled").cast(DecimalType(38, 0))).as("ws"),
        sum(col("next_us") - col("ts_us")).as("total_us"),
        count(lit(1)).as("n_intervals"))
      .select(col("user_id"),
        col("ws").cast(StringType).as("weighted_sum"),
        col("total_us"), col("n_intervals"),
        (col("ws").cast(DoubleType) / col("total_us").cast(DoubleType) / 10000.0)
          .as("twap"))
  }

  val q70Oracle: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS scaled,
      |    LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_t
      |  FROM events),
      |agg AS (
      |  SELECT user_id,
      |    SUM(CAST(next_t - t AS HUGEINT) * CAST(scaled AS HUGEINT)) AS ws,
      |    CAST(SUM(next_t - t) AS BIGINT) AS total_us,
      |    COUNT(*) AS n_intervals
      |  FROM iv WHERE next_t IS NOT NULL GROUP BY user_id)
      |SELECT user_id, CAST(ws AS VARCHAR) AS weighted_sum, total_us, n_intervals,
      |  CAST(ws AS DOUBLE) / CAST(total_us AS DOUBLE) / 10000.0 AS twap
      |FROM agg""".stripMargin

  /** Rolling 7-day distinct active users per day — the engagement metric
    * whose naive form (`COUNT(DISTINCT) OVER (RANGE 7 days)`) most
    * engines can't run distributed (and Spark rejects outright). The
    * scalable identity: a user active on day d contributes to windows
    * d..d+6, so EXPLODE each distinct (user, day) into its 7 target
    * windows, de-dup (window, user), and count — two partial-combining
    * aggregates and one bounded ×7 fan-out, no window function at all.
    * Windows past the observed range are clipped so every reported day
    * aggregates a full trailing week of data. */
  def q71_rolling_active_users(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 24L * 3600 * 1000000L
    val days = eventsNs(spark, dir)
      .select(col("user_id"), floor(col("ts_us") / dayUs).cast(LongType).as("day"))
      .distinct()
    val maxDay = days.agg(max(col("day")).as("max_day"))
    days
      .withColumn("w", explode(sequence(col("day"), col("day") + 6)))
      .crossJoin(broadcast(maxDay))
      .filter(col("w") <= col("max_day"))
      .select(col("w").as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users_7d"))
  }

  val q71Oracle: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day
      |  FROM events),
      |m AS (SELECT MAX(day) AS max_day FROM days),
      |expanded AS (
      |  SELECT DISTINCT d.user_id, d.day + i.i AS w
      |  FROM days d, generate_series(0, 6) i(i), m
      |  WHERE d.day + i.i <= m.max_day)
      |SELECT w AS day, COUNT(*) AS active_users_7d
      |FROM expanded GROUP BY w""".stripMargin

  /** Event-type transition matrix — first-order Markov statistics over
    * each user's event sequence (the product-analytics "what happens
    * after X" question, and the sequence-model sanity check a training
    * pipeline runs over behavioral logs). One `lead` window per user
    * ordered by the FULL-resolution event time with `event_id` as the
    * unique tiebreak (µs truncation can alias distinct ns instants, and
    * a nondeterministic order would change the matrix run-to-run), then
    * a partial-combining count per (from, to) and a transition
    * probability normalized within each source state.
    *
    * Scale shape: ONE hash exchange on `user_id` feeds the window (user
    * partitions are bounded — no giant-partition sort risk); the matrix
    * itself is ≤ |types|² rows, so the second window over it is free.
    */
  def q72_transition_matrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val t = eventsNs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(seq))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy(col("from_type"))
    t.withColumn("p",
      col("n").cast(DoubleType) / sum(col("n")).over(byFrom).cast(DoubleType))
  }

  val q72Oracle: String =
    """WITH s AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |t AS (
      |  SELECT event_type AS from_type, to_type, COUNT(*) AS n
      |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) /
      |    CAST(CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE) AS p
      |FROM t""".stripMargin

  /** Ingest volume-anomaly detection — the data-quality tripwire a
    * 100 TB pipeline runs on every load: per (event_type, day) row
    * counts compared against the trailing 7-day average, with a flag
    * when today's volume swings outside [0.5×, 1.5×] of trend (feed
    * died / double-delivery). The trailing window is a RANGE frame over
    * the integer day index, so calendar GAPS are handled identically in
    * both engines (a rows-frame would silently misalign after a missing
    * day). Day boundaries come from integer µs arithmetic — no timezone
    * or calendar functions to disagree cross-engine.
    *
    * Scale shape: the windowed trend runs over the AGGREGATED
    * (type, day) frame — |types|·|days| rows, not raw events — so the
    * only event-scale work is one partial-combining count.
    */
  def q73_volume_anomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400000000L
    val daily = eventsNs(spark, dir)
      .select(col("event_type"), floor(col("ts_us") / dayUs).cast(LongType).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-7, -1)
    daily
      .withColumn("w_sum", sum(col("n")).over(trail))
      .withColumn("w_cnt", count(col("n")).over(trail))
      .withColumn("trail_avg",
        when(col("w_cnt") > 0,
          col("w_sum").cast(DoubleType) / col("w_cnt").cast(DoubleType)))
      .withColumn("ratio",
        when(col("trail_avg").isNotNull,
          col("n").cast(DoubleType) / col("trail_avg")))
      .withColumn("anomaly",
        when(col("ratio") > 1.5 || col("ratio") < 0.5, 1).otherwise(0))
      .select(col("event_type"), col("day"), col("n"),
        col("trail_avg"), col("ratio"), col("anomaly"))
  }

  val q73Oracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, n,
      |    CAST(SUM(n) OVER tr AS BIGINT) AS w_sum,
      |    COUNT(n) OVER tr AS w_cnt
      |  FROM daily
      |  WINDOW tr AS (PARTITION BY event_type ORDER BY day
      |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |a AS (
      |  SELECT event_type, day, n,
      |    CASE WHEN w_cnt > 0
      |      THEN CAST(w_sum AS DOUBLE) / CAST(w_cnt AS DOUBLE) END AS trail_avg
      |  FROM w),
      |r AS (
      |  SELECT event_type, day, n, trail_avg,
      |    CASE WHEN trail_avg IS NOT NULL
      |      THEN CAST(n AS DOUBLE) / trail_avg END AS ratio
      |  FROM a)
      |SELECT event_type, day, n, trail_avg, ratio,
      |  CASE WHEN ratio > 1.5 OR ratio < 0.5 THEN 1 ELSE 0 END AS anomaly
      |FROM r""".stripMargin

  /** Iterative hierarchy closure — the recursive-CTE workload (org trees,
    * bill-of-materials, category taxonomies) Spark has no native operator
    * for: the ancestor set of every node in a parent-child edge table,
    * with depth. The edge table derives a synthetic but genuinely
    * tree-shaped hierarchy from `customer` (parent = custkey div 10 —
    * ~4 levels over 1500 nodes at sf0.01); the oracle replays it with
    * DuckDB's real `WITH RECURSIVE`.
    *
    * Spark-first shape: a driver-side LOOP of DISTRIBUTED equi-joins —
    * frontier(depth d) ⋈ edges → frontier(depth d+1) — accumulated by
    * union, terminating when a frontier is empty. Each iteration
    * `localCheckpoint`s the frontier: without it, iteration d's plan
    * embeds d nested joins and Catalyst re-plans the WHOLE lineage every
    * level (the x15 discipline — exactly how the dup-components
    * propagation bounds its plans). Depth is logarithmic in key space,
    * so the loop count stays single-digit at any scale; every join is a
    * key-partitioned equi-join AQE can broadcast when the edge table is
    * dimension-sized.
    */
  def q74_hierarchy_closure(spark: SparkSession, dir: String): DataFrame = {
    val edges = customer(spark, dir)
      .select(col("c_custkey").as("child"),
        call_function("div", col("c_custkey"), lit(10L)).as("parent"))
      .filter(col("parent") >= 1)
    hierarchyClosure(edges)
  }

  /** The reusable closure loop behind q74. `maxDepth` bounds the
    * iteration: a parent-child table with a cycle (A→B→A) would otherwise
    * produce a frontier that NEVER empties and loop the driver forever.
    * Depth grows logarithmically in key space for genuine trees (64
    * levels covers any real hierarchy — 2⁶⁴ nodes at branching factor 2),
    * so hitting the bound is a data-quality signal, not a tuning knob:
    * fail loudly instead of returning a silently-truncated closure.
    */
  def hierarchyClosure(edges: DataFrame, maxDepth: Int = 64): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    var paths = edges.select(col("child").as("node"), col("parent").as("anc"),
      lit(1).as("depth"))
    var frontier = paths.localCheckpoint()
    var depth = 1
    while (!frontier.isEmpty) {
      // the join PROVES whether paths beyond `depth` exist, so a clean
      // hierarchy of depth exactly maxDepth completes (its last join
      // yields an empty frontier); only a frontier that is still
      // non-empty BEYOND maxDepth — a cycle, or a deeper tree — throws
      frontier = frontier.as("f")
        .join(edges.as("e"), col("f.anc") === col("e.child"))
        .select(col("f.node").as("node"), col("e.parent").as("anc"),
          (col("f.depth") + 1).as("depth"))
        .localCheckpoint()
      depth += 1
      if (depth > maxDepth && !frontier.isEmpty)
        throw new IllegalStateException(
          s"hierarchyClosure: paths deeper than maxDepth ($maxDepth) exist — " +
            "the edge table contains a cycle or a hierarchy deeper than " +
            s"maxDepth; verify acyclicity or raise maxDepth")
      paths = paths.unionByName(frontier)
    }
    paths
  }

  val q74Oracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT c_custkey AS child, c_custkey // 10 AS parent
      |  FROM customer WHERE c_custkey // 10 >= 1),
      |p AS (
      |  SELECT child AS node, parent AS anc, 1 AS depth FROM e
      |  UNION ALL
      |  SELECT p.node, e.parent, p.depth + 1
      |  FROM p JOIN e ON p.anc = e.child)
      |SELECT node, anc, depth FROM p""".stripMargin

  /** W2 — Sort component with OBSERVABLE ordering (upgrades the
    * spec-only row: the driver's compare hashes sorted rows, so a bare
    * sorted frame proves nothing about order — the emitted `pos` column
    * encodes the total order and IS hash-checked). The sort itself runs
    * through the REAL component path: an inline IR `DataFlowTask`
    * (source → Sort) compiled by [[graft.ops.DataFlowCompiler]] — the
    * same code the dtsx frontend drives. SSIS Sort is a FULL sort; the
    * `pos` column comes from [[graft.ops.RankLowering]]'s two-phase
    * range-bucketed rank rather than a bare global window, so the total
    * order is produced with bucket-bounded tasks even at fact scale. */
  def q75_sort_component(spark: SparkSession, dir: String): DataFrame = {
    import graft.ir.Ir._
    val flow = DataFlowTask("sort_flow", None, List(
      SourceComponent("Cust", "OLEDBSource", None, None,
        Some("[dbo].[customer]"), None, Nil),
      SortComponent("SortByBal", List("c_acctbal" -> false, "c_custkey" -> true))))
    val sorted = graft.ops.DataFlowCompiler.compile(
      flow, graft.sources.Sources.testdataResolver(spark, dir)).df
    // global position via the two-phase rank (RankLowering): a bare
    // Window.orderBy serializes the whole frame into ONE task — honest
    // for a dimension, a wall at fact scale; the range-bucketed shape
    // keeps every task bucket-sized while producing the identical rank
    graft.ops.RankLowering
      .rowNumber(sorted, Nil,
        Seq(col("c_acctbal").desc, col("c_custkey").asc), "pos")
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast(DoubleType).as("c_acctbal"), col("pos"))
  }

  val q75Oracle: String =
    """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
      |  CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT) AS pos
      |FROM customer""".stripMargin

  /** §2.7 — processed-flag handshake (upgrades the spec-only row): the
    * InventorySync shape — a staging table where rows carry a processed
    * flag, the extract takes ONLY unprocessed rows (flag 0 OR NULL — a
    * freshly inserted row with no flag yet must not be skipped), through
    * the real [[graft.patterns.Incremental.unprocessed]] filter. The
    * flag derives deterministically from the order key so the oracle
    * can replay it. Narrow filter on the scan — pushdown-eligible,
    * zero shuffles. */
  def q76_processed_flag(spark: SparkSession, dir: String): DataFrame = {
    val staged = orders(spark, dir).withColumn("processed_flag",
      when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null).cast(IntegerType))
        .when(pmod(col("o_orderkey"), lit(3)) === 0, lit(1))
        .otherwise(lit(0)))
    graft.patterns.Incremental.unprocessed(staged, "processed_flag")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(DoubleType).as("o_totalprice"))
  }

  val q76Oracle: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |         WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS processed_flag
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM staged WHERE processed_flag = 0 OR processed_flag IS NULL""".stripMargin

  /** §2.7 — sync-log append (upgrades the spec-only row): after an
    * incremental run, append one log row (package, rows processed, high
    * watermark) through the real
    * [[graft.patterns.Incremental.syncLogEntry]]. The one-row aggregate
    * collect is the operator's production shape — a log entry is a
    * DRIVER-side fact about the finished run (the runner's row-count
    * observations land the same way); `logged_at` (current_timestamp) is
    * dropped from the gated output because wall-clock can never
    * hash-match an oracle. */
  def q77_sync_log(spark: SparkSession, dir: String): DataFrame = {
    val batch = eventsNs(spark, dir).filter(col("event_type") === "purchase")
    val (n, wmUs) = batch
      .agg(count(lit(1)), max(col("ts_us")))
      .collect().headOption
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .getOrElse((0L, None))
    graft.patterns.Incremental
      .syncLogEntry(spark, "InventorySync", n,
        wmUs.map(us => new java.sql.Timestamp(us / 1000L)))
      .select(col("package_name"), col("rows_processed"),
        // the Timestamp constructor above is ms-precision; re-attach the
        // µs watermark for the parity check (the LOG stores the scalar,
        // the gate checks the derivation). An EMPTY batch carries a NULL
        // watermark — the same convention as the oracle's max() over zero
        // rows (0 would claim a sync at the epoch)
        wmUs.map(lit).getOrElse(lit(null).cast(LongType)).as("last_sync_us"))
  }

  val q77Oracle: String =
    """SELECT 'InventorySync' AS package_name,
      |  COUNT(*) AS rows_processed,
      |  max(epoch_us(ts)) AS last_sync_us
      |FROM events WHERE event_type = 'purchase'""".stripMargin

  /** CDC change-feed apply — the general upsert+delete a warehouse sync
    * runs when the source ships I/U/D rows instead of full snapshots
    * (the SSIS analog is the staged-MERGE pattern J5 gates; this is the
    * three-verb form). The change set derives deterministically from the
    * customer table itself: ids ≡7 (mod 10) are INSERTs (absent from the
    * base), base ids ≡0 (mod 13) are DELETEs, base ids ≡0 (mod 11) and
    * not ≡0 (mod 13) are UPDATEs (+10 on the balance). Apply =
    * anti-join the base on ALL change keys, union the I/U images — one
    * hash-partitioned anti-join plus a union, the minimal-shuffle apply;
    * at scale the change set is delta-sized and broadcasts. */
  def q78_cdc_apply(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast(Money).as("c_acctbal"))
    val base = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 7)
    val changes = cust.filter(pmod(col("c_custkey"), lit(10)) === 7)
      .withColumn("op", lit("I"))
      .unionByName(base.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .withColumn("op", lit("D")))
      .unionByName(base
        .filter(pmod(col("c_custkey"), lit(11)) === 0 &&
          pmod(col("c_custkey"), lit(13)) =!= 0)
        .withColumn("c_acctbal", (col("c_acctbal") + lit(10)).cast(Money))
        .withColumn("op", lit("U")))
    base
      .join(broadcast(changes.select(col("c_custkey"))), Seq("c_custkey"), "left_anti")
      .unionByName(changes.filter(col("op") =!= "D").drop("op"))
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast(DoubleType).as("c_acctbal"))
  }

  val q78Oracle: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal
      |  FROM customer),
      |base AS (SELECT * FROM cust WHERE c_custkey % 10 <> 7),
      |changes AS (
      |  SELECT c_custkey, c_name, c_acctbal, 'I' AS op FROM cust WHERE c_custkey % 10 = 7
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, 'D' FROM base WHERE c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name,
      |    CAST(c_acctbal + 10 AS DECIMAL(12,2)), 'U'
      |  FROM base WHERE c_custkey % 11 = 0 AND c_custkey % 13 <> 0)
      |SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
      |FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
      |UNION ALL
      |SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE)
      |FROM changes WHERE op <> 'D'""".stripMargin

  /** Deletion-cascade propagation — the right-to-be-forgotten sweep a
    * 100 TB store must run as a batch job: a deterministic 5% of
    * customers (md5 draw) is purged, the purge cascades through the
    * foreign-key chain (orders by custkey, lineitem by purged orderkey),
    * and the output is the per-table audit row a compliance job files.
    * Scale shape: the deletion KEY SETS ride broadcasts into semi/anti
    * probes — three narrow scans, no fact-to-fact shuffle; counts
    * partial-combine. */
  def q79_delete_cascade(spark: SparkSession, dir: String): DataFrame = {
    val (audit, keySets) = deleteCascadeAudit(spark, dir)
    // materialize the 3-row audit, then free the cascade's key-set caches
    // (the x06 lifecycle rule — callers inherit no working-set storage)
    val res = audit.localCheckpoint(true)
    keySets.foreach(_.unpersist())
    res
  }

  /** The un-checkpointed cascade (audit frame + the cached key sets it
    * holds), exposed so PlanShapeSpec can pin the probe shape that
    * `localCheckpoint` erases from the public query's plan. */
  private[graft] def deleteCascadeAudit(spark: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) = {
    // the deletion KEY SETS feed two consumers each (the next cascade
    // level's probe and their own audit count) — cache so the md5 scan
    // and the semi joins run once per level, not once per consumer
    val delCust = customer(spark, dir).select(col("c_custkey"))
      .filter(pmod(graft.text.TextOps.stableHash64(
        concat(lit("gdpr|"), col("c_custkey").cast(StringType))), lit(100)) < 5)
      .cache()
    val ord = orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val delOrd = ord.join(broadcast(delCust),
      ord("o_custkey") === delCust("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
      .cache()
    val li = lineitem(spark, dir).select(col("l_orderkey"))
    val delLi = li.join(broadcast(delOrd),
      li("l_orderkey") === delOrd("o_orderkey"), "left_semi")
    val counts = Seq(
      ("customer", customer(spark, dir).select(col("c_custkey")), delCust.toDF("k")),
      ("orders", ord.select(col("o_orderkey")), delOrd.toDF("k")),
      ("lineitem", li, delLi.toDF("k")))
    val audit = counts.map { case (name, all, purged) =>
      all.agg(count(lit(1)).as("n_total")).crossJoin(
        purged.agg(count(lit(1)).as("n_purged")))
        .select(lit(name).as("table_name"), col("n_total"), col("n_purged"),
          (col("n_total") - col("n_purged")).as("n_kept"))
    }.reduce(_ unionByName _)
    (audit, Seq(delCust, delOrd))
  }

  val q79Oracle: String =
    """WITH dc AS (
      |  SELECT c_custkey FROM customer
      |  WHERE CAST(('0x' || substr(md5('gdpr|' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 5),
      |do_ AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM dc)),
      |dl AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM do_))
      |SELECT 'customer' AS table_name,
      |  (SELECT COUNT(*) FROM customer) AS n_total,
      |  (SELECT COUNT(*) FROM dc) AS n_purged,
      |  (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM dc) AS n_kept
      |UNION ALL
      |SELECT 'orders',
      |  (SELECT COUNT(*) FROM orders),
      |  (SELECT COUNT(*) FROM do_),
      |  (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM do_)
      |UNION ALL
      |SELECT 'lineitem',
      |  (SELECT COUNT(*) FROM lineitem),
      |  (SELECT COUNT(*) FROM dl),
      |  (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM dl)""".stripMargin

  /** Three-verb CDC MERGE driven through the dtsx FRONTEND — q78's apply
    * semantics, but arriving as package SQL: `CdcCustomerMergeETL.dtsx`
    * stages the dimension base state and an I/U/D change feed with two
    * rewritten INSERT…SELECT tasks, then its third Execute SQL task
    * carries a three-verb `MERGE` that [[graft.patterns.LoadPatterns]]
    * classifies as merge_scd (the reference analyzer.py:147-156 text
    * surface) and [[graft.patterns.MergeSqlCompiler]] executes as a
    * state replacement. The gated output is the post-merge dimension.
    * Scale shape: one shuffle on the merge key for the anti/inner legs
    * (AQE broadcasts the feed when it is small); staging tasks stay
    * lazy Catalyst plans — no materialization barrier between tasks. */
  def q80_dtsx_cdc_merge(spark: SparkSession, dir: String): DataFrame = {
    val (written, run) =
      runDtsxWarehousePackage(spark, dir, "CdcCustomerMergeETL.dtsx")
    // the frontend really classified the MERGE text as merge_scd
    val det = run.tasks.find(_.taskName == "Apply CDC Merge").flatMap(_.pattern)
    require(det.exists(
        _.pattern == graft.patterns.LoadPatterns.LoadPattern.MergeScd),
      s"MERGE task not classified merge_scd: $det")
    written("dim_customer").select(col("c_custkey"), col("c_name"),
      col("c_acctbal").cast(DoubleType).as("c_acctbal"))
  }

  /** The full-rewrite package scaffold (q80/q83): like [[runDtsxPackage]]
    * but the SQL executor routes every Execute-SQL statement through the
    * compile-time rewriters — [[graft.patterns.MergeSqlCompiler]] first
    * (three-verb MERGE), then [[graft.patterns.SqlPatternRewriter]]
    * (INSERT…SELECT / DELETE+INSERT / bare SELECT) — against temp views
    * registered per referenced warehouse table: runner write-state first,
    * parquet testdata second; an INSERT's not-yet-created target resolves
    * to neither and needs no view. */
  private def runDtsxWarehousePackage(spark: SparkSession, dir: String,
      resource: String): (scala.collection.Map[String, DataFrame],
        graft.pipeline.PackageRunner.PackageRun) = {
    val in = getClass.getResourceAsStream(s"/dtsx/$resource")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val pkg = graft.parser.DtsxParser.parseString(xml)
    val written = scala.collection.mutable.Map.empty[String, DataFrame]
    // every temp view this run registers is dropped when the run ends:
    // a view outliving the run leaks into the NEXT package run's
    // spark.table fallback (a bootstrap INSERT would silently turn into
    // an append onto the previous run's rows)
    val boundViews = scala.collection.mutable.Set.empty[String]
    def bind(sql: String): String = {
      BracketedTable.findAllMatchIn(sql).map(_.group(1)).toSet[String].foreach { t =>
        written.get(t).orElse {
          val f = new java.io.File(s"$dir/$t.parquet")
          if (f.exists) Some(Tables.open(spark, f.getAbsolutePath)) else None
        }.foreach { df => df.createOrReplaceTempView(t); boundViews += t }
      }
      BracketedTable.replaceAllIn(sql, m => m.group(1))
    }
    val env = graft.pipeline.PackageRunner.RuntimeEnv(
      resolver = graft.sources.Sources.testdataResolver(spark, dir, written.get),
      write = (table, df, mode) => {
        val bare = BracketedTable.findFirstMatchIn(table).map(_.group(1)).getOrElse(table)
        written(bare) = mode match {
          case org.apache.spark.sql.SaveMode.Append =>
            // an Append to a parquet-backed table not yet in `written`
            // must keep the warehouse base rows, not silently replace
            // them with only the appended frame
            written.get(bare).orElse {
              val f = new java.io.File(s"$dir/$bare.parquet")
              if (f.exists) Some(Tables.open(spark, f.getAbsolutePath))
              else None
            }.map(_.unionByName(df)).getOrElse(df)
          case _ => df
        }
      },
      sqlExecutor = {
        // stateless across tasks — build once, bind per task
        val exec = graft.patterns.ScriptedSqlExecutor.executor(
          spark,
          written = written.get,
          bareName = name => BracketedTable.findFirstMatchIn(name)
            .map(_.group(1)).getOrElse(name),
          commit = (k, v) => written(k) = v)
        t => exec(t.copy(sqlStatement = bind(t.sqlStatement)))
      })
    // the view drop must survive a run that THROWS outside the per-task
    // catch (e.g. a precedence-constraint evaluation failure): leaked
    // views would feed the next run's spark.table fallback
    val run =
      try graft.pipeline.PackageRunner.run(spark, pkg, env)
      finally boundViews.foreach(v => spark.catalog.dropTempView(v): Unit)
    require(!run.failed,
      s"package failed: ${run.tasks.map(t => t.taskName -> t.status)}")
    (written, run)
  }

  val q80Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal
      |  FROM customer WHERE c_custkey % 10 <> 7),
      |changes AS (
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal,
      |    'I' AS op
      |  FROM customer WHERE c_custkey % 10 = 7
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)), 'D'
      |  FROM customer WHERE c_custkey % 10 <> 7 AND c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(c_acctbal + 10 AS DECIMAL(12,2)), 'U'
      |  FROM customer
      |  WHERE c_custkey % 10 <> 7 AND c_custkey % 11 = 0 AND c_custkey % 13 <> 0)
      |SELECT b.c_custkey, b.c_name, CAST(b.c_acctbal AS DOUBLE) AS c_acctbal
      |FROM base b WHERE b.c_custkey NOT IN (SELECT c_custkey FROM changes)
      |UNION ALL
      |SELECT b.c_custkey, c.c_name, CAST(c.c_acctbal AS DOUBLE)
      |FROM base b JOIN changes c ON b.c_custkey = c.c_custkey WHERE c.op <> 'D'
      |UNION ALL
      |SELECT c.c_custkey, c.c_name, CAST(c.c_acctbal AS DOUBLE)
      |FROM changes c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM base)""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_dtsx_window_sql" -> (q83_dtsx_window_sql _),
    "q85_dtsx_update" -> (q85_dtsx_update _),
    "q86_dtsx_delete" -> (q86_dtsx_delete _),
    "q87_compaction_maintenance" -> (q87_compaction_maintenance _),
    "q88_dtsx_script" -> (q88_dtsx_script _),
    "q89_dtsx_values_log" -> (q89_dtsx_values_log _),
    "q90_dtsx_script_select" -> (q90_dtsx_script_select _),
    "q91_dtsx_param_synclog" -> (q91_dtsx_param_synclog _),
    "q92_dtsx_update_from" -> (q92_dtsx_update_from _),
    "q93_dtsx_rank_sql" -> (q93_dtsx_rank_sql _),
    "q94_dtsx_delete_from" -> (q94_dtsx_delete_from _),
    "q95_dtsx_ntile_sql" -> (q95_dtsx_ntile_sql _),
    "q96_dtsx_txn_script" -> (q96_dtsx_txn_script _),
    "q97_dtsx_select_into" -> (q97_dtsx_select_into _),
    "q98_dtsx_watermark_loop" -> (q98_dtsx_watermark_loop _),
    "q99_dtsx_guard_block" -> (q99_dtsx_guard_block _),
    "q100_dtsx_reference_composite" -> (q100_dtsx_reference_composite _),
    "q101_dtsx_temp_table" -> (q101_dtsx_temp_table _),
    "q102_dtsx_rowcount_audit" -> (q102_dtsx_rowcount_audit _),
    "q103_dtsx_while_loop" -> (q103_dtsx_while_loop _),
    "q104_dtsx_convert_style" -> (q104_dtsx_convert_style _),
    "q105_dtsx_if_exists" -> (q105_dtsx_if_exists _),
    "q106_dtsx_cte_insert" -> (q106_dtsx_cte_insert _),
    "q107_dtsx_try_catch" -> (q107_dtsx_try_catch _),
    "q108_dtsx_dynamic_sql" -> (q108_dtsx_dynamic_sql _),
    "q109_dtsx_if_exists_block" -> (q109_dtsx_if_exists_block _),
    "q110_dtsx_output_into" -> (q110_dtsx_output_into _),
    "q111_dtsx_merge_output" -> (q111_dtsx_merge_output _),
    "q112_dtsx_merge_subquery" -> (q112_dtsx_merge_subquery _),
    "q113_dtsx_join_update_output" -> (q113_dtsx_join_update_output _),
    "q114_dtsx_script_vars" -> (q114_dtsx_script_vars _),
    "q115_dtsx_apply" -> (q115_dtsx_apply _),
    "q116_dtsx_merge_by_source" -> (q116_dtsx_merge_by_source _),
    "q117_dtsx_cursor_loop" -> (q117_dtsx_cursor_loop _),
    "q118_dtsx_batched_purge" -> (q118_dtsx_batched_purge _),
    "q119_dtsx_correlated_left" -> (q119_dtsx_correlated_left _),
    "q120_dtsx_migration_script" -> (q120_dtsx_migration_script _),
    "q121_dtsx_trycatch_rollback" -> (q121_dtsx_trycatch_rollback _),
    "q122_dtsx_table_var" -> (q122_dtsx_table_var _),
    "q123_dtsx_alter_column" -> (q123_dtsx_alter_column _),
    "q124_dtsx_param_exec" -> (q124_dtsx_param_exec _),
    "q125_dtsx_savepoint" -> (q125_dtsx_savepoint _),
    "q126_dtsx_throttled_purge" -> (q126_dtsx_throttled_purge _),
    "q127_dtsx_concat_sql" -> (q127_dtsx_concat_sql _),
    "q128_dtsx_cursor_multi" -> (q128_dtsx_cursor_multi _),
    "q129_dtsx_positioned_cursor" -> (q129_dtsx_positioned_cursor _),
    "q130_dtsx_proc_helper" -> (q130_dtsx_proc_helper _),
    "q131_dtsx_xml_agg" -> (q131_dtsx_xml_agg _),
    "q132_dtsx_string_agg" -> (q132_dtsx_string_agg _),
    "q133_dtsx_pivot" -> (q133_dtsx_pivot _),
    "q134_dtsx_unpivot" -> (q134_dtsx_unpivot _),
    "q135_dtsx_proc_var_args" -> (q135_dtsx_proc_var_args _),
    "q136_dtsx_multi_helper" -> (q136_dtsx_multi_helper _),
    "q137_dtsx_pivot_year" -> (q137_dtsx_pivot_year _),
    "q138_dtsx_pivot_ci" -> (q138_dtsx_pivot_ci _),
    "q139_dtsx_proc_output" -> (q139_dtsx_proc_output _),
    "q140_dtsx_insert_exec" -> (q140_dtsx_insert_exec _),
    "q141_dtsx_pivot_unpivot" -> (q141_dtsx_pivot_unpivot _),
    "q142_dtsx_spexec_output" -> (q142_dtsx_spexec_output _),
    "q143_dtsx_spexec_multi_out" -> (q143_dtsx_spexec_multi_out _),
    "q144_dtsx_proc_return" -> (q144_dtsx_proc_return _),
    "q145_dtsx_insert_exec_multi" -> (q145_dtsx_insert_exec_multi _),
    "q146_dtsx_pivot_chain_ci" -> (q146_dtsx_pivot_chain_ci _),
    "q147_dtsx_proc_default" -> (q147_dtsx_proc_default _),
    "q148_dtsx_if_scalar" -> (q148_dtsx_if_scalar _),
    "q149_dtsx_if_block" -> (q149_dtsx_if_block _),
    "q150_dtsx_else_if" -> (q150_dtsx_else_if _),
    "q151_dtsx_early_exit" -> (q151_dtsx_early_exit _),
    "q152_dtsx_dynamic_pivot" -> (q152_dtsx_dynamic_pivot _),
    "q153_dtsx_try_if" -> (q153_dtsx_try_if _),
    "q154_dtsx_guard_ladder" -> (q154_dtsx_guard_ladder _),
    "q155_dtsx_while_if" -> (q155_dtsx_while_if _),
    "q82_orc_roundtrip" -> (q82_orc_roundtrip _),
    "q80_dtsx_cdc_merge" -> (q80_dtsx_cdc_merge _),
    "q79_delete_cascade" -> (q79_delete_cascade _),
    "q78_cdc_apply" -> (q78_cdc_apply _),
    "q77_sync_log" -> (q77_sync_log _),
    "q76_processed_flag" -> (q76_processed_flag _),
    "q75_sort_component" -> (q75_sort_component _),
    "q74_hierarchy_closure" -> (q74_hierarchy_closure _),
    "q73_volume_anomaly" -> (q73_volume_anomaly _),
    "q72_transition_matrix" -> (q72_transition_matrix _),
    "q71_rolling_active_users" -> (q71_rolling_active_users _),
    "q70_time_weighted_avg" -> (q70_time_weighted_avg _),
    "q68_zorder_key" -> (q68_zorder_key _),
    "q66_activity_streaks" -> (q66_activity_streaks _),
    "q65_interval_join" -> (q65_interval_join _),
    "q64_cohort_retention" -> (q64_cohort_retention _),
    "q63_funnel" -> (q63_funnel _),
    "q62_jsonl_roundtrip" -> (q62_jsonl_roundtrip _),
    "q61_bloom_mixed_keys" -> (q61_bloom_mixed_keys _),
    "q59_json_extract" -> (q59_json_extract _),
    "q58_schema_evolution" -> (q58_schema_evolution _),
    "q57_bloom_join" -> (q57_bloom_join _),
    "q56_partition_pruning" -> (q56_partition_pruning _),
    "q54_foreach_nodelist" -> (q54_foreach_nodelist _),
    "q53_foreach_ado" -> (q53_foreach_ado _),
    "q52_foreach_file" -> (q52_foreach_file _),
    "q51_foreach_loop" -> (q51_foreach_loop _),
    "q50_bucketed_join" -> (q50_bucketed_join _),
    "q49_percentiles" -> (q49_percentiles _),
    "q48_unpivot" -> (q48_unpivot _),
    "q47_window_frames" -> (q47_window_frames _),
    "q46_salted_join" -> (q46_salted_join _),
    "q45_cube" -> (q45_cube _),
    "q42_container_pipeline" -> (q42_container_pipeline _),
    "q41_param_binding" -> (q41_param_binding _),
    "q39_grouping_sets" -> (q39_grouping_sets _),
    "q40_exists_subquery" -> (q40_exists_subquery _),
    "q38_csv_roundtrip" -> (q38_csv_roundtrip _),
    "q36_incremental_exec" -> (q36_incremental_exec _),
    "q37_sql_rewrite" -> (q37_sql_rewrite _),
    "q35_dtsx_branched" -> (q35_dtsx_branched _),
    "q34_scd2_merge" -> (q34_scd2_merge _),
    "q33_dtsx_dataflow" -> (q33_dtsx_dataflow _),
    "q30_tumbling_window" -> (q30_tumbling_window _),
    "q31_set_ops" -> (q31_set_ops _),
    "q32_pivot" -> (q32_pivot _),
    "q28_count_distinct" -> (q28_count_distinct _),
    "q29_sessionization" -> (q29_sessionization _),
    "q23_validation_report" -> (q23_validation_report _),
    "q24_rollup" -> (q24_rollup _),
    "q25_window_rank" -> (q25_window_rank _),
    "q26_sql_api" -> (q26_sql_api _),
    "q27_asof_join" -> (q27_asof_join _),
    "q02_project_cast_rename" -> (q02_project_cast_rename _),
    "q03_source_filter_params" -> (q03_source_filter_params _),
    "q04_lookup_chain" -> (q04_lookup_chain _),
    "q05_derived_columns" -> (q05_derived_columns _),
    "q06_cleaning" -> (q06_cleaning _),
    "q07_merge_join" -> (q07_merge_join _),
    "q08_union_all" -> (q08_union_all _),
    "q09_conditional_split" -> (q09_conditional_split _),
    "q10_scd2_rebuild" -> (q10_scd2_rebuild _),
    "q11_semi_join" -> (q11_semi_join _),
    "q12_anti_join" -> (q12_anti_join _),
    "q13_watermark_top1" -> (q13_watermark_top1 _),
    "q14_scd2_windows" -> (q14_scd2_windows _),
    "q15_row_counts" -> (q15_row_counts _),
    "q16_pk_validation" -> (q16_pk_validation _),
    "q17_agg_refresh_daily" -> (q17_agg_refresh_daily _),
    "q18_hash_keys" -> (q18_hash_keys _),
    "q19_string_functions" -> (q19_string_functions _),
    "q20_decimal_money_math" -> (q20_decimal_money_math _),
    "q21_incremental_filter" -> (q21_incremental_filter _),
    "q22_date_functions" -> (q22_date_functions _))

  val oracle: Map[String, String] = Map(
    "q83_dtsx_window_sql" -> q83Oracle,
    "q85_dtsx_update" -> q85Oracle,
    "q86_dtsx_delete" -> q86Oracle,
    "q87_compaction_maintenance" -> q87Oracle,
    "q88_dtsx_script" -> q88Oracle,
    "q89_dtsx_values_log" -> q89Oracle,
    "q90_dtsx_script_select" -> q90Oracle,
    "q91_dtsx_param_synclog" -> q91Oracle,
    "q92_dtsx_update_from" -> q92Oracle,
    "q93_dtsx_rank_sql" -> q93Oracle,
    "q94_dtsx_delete_from" -> q94Oracle,
    "q95_dtsx_ntile_sql" -> q95Oracle,
    "q96_dtsx_txn_script" -> q96Oracle,
    "q97_dtsx_select_into" -> q97Oracle,
    "q98_dtsx_watermark_loop" -> q98Oracle,
    "q99_dtsx_guard_block" -> q99Oracle,
    "q100_dtsx_reference_composite" -> q100Oracle,
    "q101_dtsx_temp_table" -> q101Oracle,
    "q102_dtsx_rowcount_audit" -> q102Oracle,
    "q103_dtsx_while_loop" -> q103Oracle,
    "q104_dtsx_convert_style" -> q104Oracle,
    "q105_dtsx_if_exists" -> q105Oracle,
    "q106_dtsx_cte_insert" -> q106Oracle,
    "q107_dtsx_try_catch" -> q107Oracle,
    "q108_dtsx_dynamic_sql" -> q108Oracle,
    "q109_dtsx_if_exists_block" -> q109Oracle,
    "q110_dtsx_output_into" -> q110Oracle,
    "q111_dtsx_merge_output" -> q111Oracle,
    "q112_dtsx_merge_subquery" -> q112Oracle,
    "q113_dtsx_join_update_output" -> q113Oracle,
    "q114_dtsx_script_vars" -> q114Oracle,
    "q115_dtsx_apply" -> q115Oracle,
    "q116_dtsx_merge_by_source" -> q116Oracle,
    "q117_dtsx_cursor_loop" -> q117Oracle,
    "q118_dtsx_batched_purge" -> q118Oracle,
    "q119_dtsx_correlated_left" -> q119Oracle,
    "q120_dtsx_migration_script" -> q120Oracle,
    "q121_dtsx_trycatch_rollback" -> q121Oracle,
    "q122_dtsx_table_var" -> q122Oracle,
    "q123_dtsx_alter_column" -> q123Oracle,
    "q124_dtsx_param_exec" -> q124Oracle,
    "q125_dtsx_savepoint" -> q125Oracle,
    "q126_dtsx_throttled_purge" -> q126Oracle,
    "q127_dtsx_concat_sql" -> q127Oracle,
    "q128_dtsx_cursor_multi" -> q128Oracle,
    "q129_dtsx_positioned_cursor" -> q129Oracle,
    "q130_dtsx_proc_helper" -> q130Oracle,
    "q131_dtsx_xml_agg" -> q131Oracle,
    "q132_dtsx_string_agg" -> q132Oracle,
    "q133_dtsx_pivot" -> q133Oracle,
    "q134_dtsx_unpivot" -> q134Oracle,
    "q135_dtsx_proc_var_args" -> q135Oracle,
    "q136_dtsx_multi_helper" -> q136Oracle,
    "q137_dtsx_pivot_year" -> q137Oracle,
    "q138_dtsx_pivot_ci" -> q138Oracle,
    "q139_dtsx_proc_output" -> q139Oracle,
    "q140_dtsx_insert_exec" -> q140Oracle,
    "q141_dtsx_pivot_unpivot" -> q141Oracle,
    "q142_dtsx_spexec_output" -> q142Oracle,
    "q143_dtsx_spexec_multi_out" -> q143Oracle,
    "q144_dtsx_proc_return" -> q144Oracle,
    "q145_dtsx_insert_exec_multi" -> q145Oracle,
    "q146_dtsx_pivot_chain_ci" -> q146Oracle,
    "q147_dtsx_proc_default" -> q147Oracle,
    "q148_dtsx_if_scalar" -> q148Oracle,
    "q149_dtsx_if_block" -> q149Oracle,
    "q150_dtsx_else_if" -> q150Oracle,
    "q151_dtsx_early_exit" -> q151Oracle,
    "q152_dtsx_dynamic_pivot" -> q152Oracle,
    "q153_dtsx_try_if" -> q153Oracle,
    "q154_dtsx_guard_ladder" -> q154Oracle,
    "q155_dtsx_while_if" -> q155Oracle,
    "q82_orc_roundtrip" -> q82Oracle,
    "q80_dtsx_cdc_merge" -> q80Oracle,
    "q79_delete_cascade" -> q79Oracle,
    "q78_cdc_apply" -> q78Oracle,
    "q77_sync_log" -> q77Oracle,
    "q76_processed_flag" -> q76Oracle,
    "q75_sort_component" -> q75Oracle,
    "q74_hierarchy_closure" -> q74Oracle,
    "q73_volume_anomaly" -> q73Oracle,
    "q72_transition_matrix" -> q72Oracle,
    "q71_rolling_active_users" -> q71Oracle,
    "q70_time_weighted_avg" -> q70Oracle,
    "q68_zorder_key" -> q68Oracle,
    "q66_activity_streaks" -> q66Oracle,
    "q65_interval_join" -> q65Oracle,
    "q64_cohort_retention" -> q64Oracle,
    "q63_funnel" -> q63Oracle,
    "q62_jsonl_roundtrip" -> q62Oracle,
    "q61_bloom_mixed_keys" -> q61Oracle,
    "q59_json_extract" -> q59Oracle,
    "q58_schema_evolution" -> q58Oracle,
    "q57_bloom_join" -> q57Oracle,
    "q56_partition_pruning" -> q56Oracle,
    "q54_foreach_nodelist" -> q54Oracle,
    "q53_foreach_ado" -> q53Oracle,
    "q52_foreach_file" -> q52Oracle,
    "q51_foreach_loop" -> q51Oracle,
    "q50_bucketed_join" -> q50Oracle,
    "q49_percentiles" -> q49Oracle,
    "q48_unpivot" -> q48Oracle,
    "q47_window_frames" -> q47Oracle,
    "q46_salted_join" -> q46Oracle,
    "q45_cube" -> q45Oracle,
    "q42_container_pipeline" -> q42Oracle,
    "q41_param_binding" -> q41Oracle,
    "q39_grouping_sets" -> q39Oracle,
    "q40_exists_subquery" -> q40Oracle,
    "q38_csv_roundtrip" -> q38Oracle,
    "q36_incremental_exec" -> q36Oracle,
    "q37_sql_rewrite" -> q37Oracle,
    "q35_dtsx_branched" -> q35Oracle,
    "q34_scd2_merge" -> q34Oracle,
    "q33_dtsx_dataflow" -> q33Oracle,
    "q30_tumbling_window" -> q30Oracle,
    "q31_set_ops" -> q31Oracle,
    "q32_pivot" -> q32Oracle,
    "q23_validation_report" -> q23Oracle,
    "q24_rollup" -> q24Oracle,
    "q25_window_rank" -> q25Oracle,
    "q26_sql_api" -> q26Oracle,
    "q27_asof_join" -> q27Oracle,
    "q28_count_distinct" -> q28Oracle,
    "q29_sessionization" -> q29Oracle,
    "q02_project_cast_rename" -> q02Oracle,
    "q03_source_filter_params" -> q03Oracle,
    "q04_lookup_chain" -> q04Oracle,
    "q05_derived_columns" -> q05Oracle,
    "q06_cleaning" -> q06Oracle,
    "q07_merge_join" -> q07Oracle,
    "q08_union_all" -> q08Oracle,
    "q09_conditional_split" -> q09Oracle,
    "q10_scd2_rebuild" -> q10Oracle,
    "q11_semi_join" -> q11Oracle,
    "q12_anti_join" -> q12Oracle,
    "q13_watermark_top1" -> q13Oracle,
    "q14_scd2_windows" -> q14Oracle,
    "q15_row_counts" -> q15Oracle,
    "q16_pk_validation" -> q16Oracle,
    "q17_agg_refresh_daily" -> q17Oracle,
    "q18_hash_keys" -> q18Oracle,
    "q19_string_functions" -> q19Oracle,
    "q20_decimal_money_math" -> q20Oracle,
    "q21_incremental_filter" -> q21Oracle,
    "q22_date_functions" -> q22Oracle)
}
