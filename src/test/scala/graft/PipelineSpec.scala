package graft

import graft.ir.Ir._
import graft.ops.DataFlowCompiler
import graft.ops.DataFlowCompiler.Resolver
import graft.parser.DtsxParser
import graft.patterns.{Incremental, LoadPatterns, ScdType2}
import graft.pipeline.PackageRunner
import graft.pipeline.PackageRunner.{RuntimeEnv, TaskStatus}
import graft.validate.ValidationSuite
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end slice (SURVEY.md §7.2): parse SalesFactETL.dtsx → compile the
  * Load Sales Facts dataflow → run it over FIXTURES.md-shaped frames →
  * SCD2 / incremental patterns → validation suite. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  /** The surfaces a script's route reports to the ledger, joined. */
  private def features(sql: String): Option[String] =
    graft.patterns.ScriptedSqlExecutor.route(sql) match {
      case s: graft.patterns.ScriptedSqlExecutor.Route.Script =>
        Some(s.features.mkString(" + ")).filter(_.nonEmpty)
      case _ => None
    }

  private def fixture(name: String): String =
    getClass.getResource(s"/dtsx/$name").getPath

  // FIXTURES.md §2 sales.transactions shape
  private lazy val transactions = Seq(
    (1L, 101, 11, java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 3,
      BigDecimal("10.50"), BigDecimal("10.00"), 7, 1),
    (2L, 102, 12, java.sql.Timestamp.valueOf("2024-01-06 11:00:00"), 1,
      BigDecimal("99.99"), BigDecimal("0.00"), 7, 1),
    (3L, 999, 11, java.sql.Timestamp.valueOf("2024-01-07 12:00:00"), 2,
      BigDecimal("5.00"), BigDecimal("50.00"), 8, 2))
    .toDF("SaleID", "CustomerID", "ProductID", "SaleDate", "Quantity",
      "UnitPrice", "DiscountPercent", "SalesRepID", "StoreID")

  private lazy val dimCustomer = Seq((1001, 101), (1002, 102))
    .toDF("CustomerKey", "CustomerID")
  private lazy val dimProduct = Seq((21, 11, 5), (22, 12, 5))
    .toDF("ProductKey", "ProductID", "CategoryID")
  private lazy val dimDate = Seq(
    (20240105, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
    (20240106, java.sql.Timestamp.valueOf("2024-01-06 00:00:00")),
    (20240107, java.sql.Timestamp.valueOf("2024-01-07 00:00:00")))
    .toDF("DateKey", "FullDate")

  private lazy val resolver = Resolver(
    source = _ => transactions,
    lookup = l => l.name match {
      case "Lookup Customer" => dimCustomer
      case "Lookup Product" => dimProduct
      case "Lookup Date" =>
        // date-typed probe joins the date dim on the day (J2's
        // CAST(sale_date AS DATE) = FullDate shape)
        dimDate.withColumn("FullDate", col("FullDate"))
      case other => sys.error(s"unexpected lookup $other")
    })

  test("SalesFactETL Load Sales Facts compiles and runs end-to-end") {
    val pkg = DtsxParser.parseFile(fixture("SalesFactETL.dtsx"))
    val dataflow = pkg.tasks.collectFirst { case d: DataFlowTask => d }.get
    val compiled = DataFlowCompiler.compile(dataflow, resolver)

    assert(compiled.destination.flatMap(_.tableName) === Some("[fact].[Sales]"))
    // FailComponent lookup (Date) is registered for validation
    assert(compiled.failComponentChecks.keySet === Set("Lookup Date"))

    val out = compiled.df.collect()
    assert(out.length === 3)
    val schema = compiled.df.columns.toSet
    assert(Set("CustomerKey", "ProductKey", "CategoryID", "DateKey",
      "GrossAmount", "DiscountAmount", "NetAmount").subsetOf(schema))
    val r1 = compiled.df.filter(col("SaleID") === 1L).head()
    assert(r1.getAs[Int]("CustomerKey") === 1001)
    assert(r1.getAs[java.math.BigDecimal]("GrossAmount").doubleValue() === 31.5)
    assert(r1.getAs[java.math.BigDecimal]("NetAmount").doubleValue() === 28.35)
    // unmatched customer (999) keeps its row with null key (IgnoreFailure)
    val r3 = compiled.df.filter(col("SaleID") === 3L).head()
    assert(r3.isNullAt(r3.fieldIndex("CustomerKey")))
  }

  test("date lookup joins SaleDate to FullDate on the derived date") {
    val pkg = DtsxParser.parseFile(fixture("SalesFactETL.dtsx"))
    val dataflow = pkg.tasks.collectFirst { case d: DataFlowTask => d }.get
    // the date dim join uses a timestamp probe; day-level alignment means
    // SaleDate 10:00 doesn't equal FullDate midnight -> the compiler's
    // name-miss fallback pairs SaleDate with FullDate; normalize the dim
    // to the probe's granularity for the test
    val resolverDay = resolver.copy(lookup = l => l.name match {
      case "Lookup Date" => transactions.select(col("SaleDate").as("FullDate")).distinct()
        .join(dimDate.drop("FullDate"), expr("true"), "cross").limit(0)
        .unionByName(transactions.select(col("SaleDate").as("FullDate"))
          .withColumn("DateKey",
            (year(col("FullDate")) * 10000 + month(col("FullDate")) * 100 +
              dayofmonth(col("FullDate"))).cast("int"))
          .select("DateKey", "FullDate"))
      case other => resolver.lookup(l.copy(name = other))
    })
    val compiled = DataFlowCompiler.compile(dataflow, resolverDay)
    val keys = compiled.df.select("DateKey").collect().map(_.get(0)).toSet
    assert(keys === Set(20240105, 20240106, 20240107))
  }

  test("PackageRunner executes topo order, skips script/mail, logs patterns") {
    val pkg = DtsxParser.parseFile(fixture("InventorySync.dtsx"))
    val written = scala.collection.mutable.Map.empty[String, Long]
    val inv = Seq(
      ("SKU1", "W1", 10, 2, 8, 5, 50, java.sql.Date.valueOf("2024-01-05"),
        BigDecimal("2.5000"), 0),
      ("SKU2", "W1", 0, 0, 0, 5, 50, java.sql.Date.valueOf("2024-01-05"),
        BigDecimal("4.0000"), 0))
      .toDF("ProductSKU", "WarehouseCode", "QuantityOnHand", "QuantityReserved",
        "QuantityAvailable", "ReorderPoint", "MaxStockLevel", "LastCountDate",
        "UnitCost", "ProcessedFlag")
    val env = RuntimeEnv(
      resolver = Resolver(source = _ => inv, lookup = l => l.name match {
        case "Lookup Product" => Seq((31, "SKU1"), (32, "SKU2"))
          .toDF("ProductKey", "SKU") // probe ProductSKU pairs by suffix
        case "Lookup Warehouse" => Seq((41, "W1")).toDF("WarehouseKey", "WarehouseCode")
        case other => sys.error(other)
      }),
      write = (table, df, _) => written(table) = df.count())
    val run = PackageRunner.run(spark, pkg, env)
    assert(!run.failed)
    val byName = run.tasks.map(t => t.taskName -> t).toMap
    assert(byName.values.exists(_.taskType == "ScriptTask"))
    assert(byName.values.collectFirst {
      case t if t.taskType == "ScriptTask" => t.status
    }.contains(TaskStatus.SkippedManualReview))
    assert(written.keys.exists(_.contains("InventorySnapshot")))
    // watermark fetch task classified incremental
    val sqlRuns = run.tasks.filter(_.taskType == "ExecuteSQLTask")
    assert(sqlRuns.flatMap(_.pattern).exists(_.pattern == LoadPatterns.LoadPattern.Incremental))
  }

  test("load-pattern detection: full/incremental/merge") {
    import LoadPatterns._
    assert(detect("TRUNCATE TABLE stg.X; INSERT INTO stg.X SELECT * FROM y").pattern ===
      LoadPattern.FullLoad)
    assert(detect("SELECT * FROM t WHERE ModifiedDate >= ?").pattern ===
      LoadPattern.Incremental)
    val m = detect("MERGE dim.Customer AS tgt USING stg.C AS src ON tgt.Id = src.Id " +
      "WHEN MATCHED THEN UPDATE SET x = 1")
    assert(m.pattern === LoadPattern.MergeScd)
    assert(m.confidence >= 0.6)
  }

  test("SCD2 merge: changed rows close out, new version inserted, unchanged pass") {
    val ts0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val ts1 = lit("2024-02-01 00:00:00").cast("timestamp")
    val current = ScdType2.rebuild(
      Seq((101, "Ada", "gold"), (102, "Bob", "silver")).toDF("id", "name", "tier"),
      naturalKey = Seq("id"), tracked = Seq("name", "tier"), validFrom = ts0)
    val incoming = Seq((101, "Ada", "platinum"), (103, "Cyd", "bronze"))
      .toDF("id", "name", "tier")
    val merged = ScdType2.merge(current, incoming, Seq("id"), Seq("name", "tier"), ts1)
      .cache()
    assert(merged.count() === 4) // Ada old+new, Bob, Cyd
    val adaRows = merged.filter(col("id") === 101).collect()
    assert(adaRows.length === 2)
    val closed = adaRows.find(!_.getAs[Boolean]("is_current")).get
    assert(closed.getAs[java.sql.Timestamp]("valid_to") != null)
    val cur = adaRows.find(_.getAs[Boolean]("is_current")).get
    assert(cur.getAs[String]("tier") === "platinum")
    assert(merged.filter(col("id") === 102 && col("is_current")).count() === 1)
    assert(merged.filter(col("id") === 103 && col("is_current")).count() === 1)
  }

  test("SCD2 merge is idempotent: replaying the same increment changes nothing") {
    val ts0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val ts1 = lit("2024-02-01 00:00:00").cast("timestamp")
    val current = ScdType2.rebuild(
      Seq((101, "Ada", "gold")).toDF("id", "name", "tier"),
      naturalKey = Seq("id"), tracked = Seq("name", "tier"), validFrom = ts0)
    val incoming = Seq((101, "Ada", "platinum")).toDF("id", "name", "tier")
    val once = ScdType2.merge(current, incoming, Seq("id"), Seq("name", "tier"), ts1)
    val twice = ScdType2.merge(once, incoming, Seq("id"), Seq("name", "tier"),
      lit("2024-03-01 00:00:00").cast("timestamp"))
    assert(once.count() === 2)
    assert(twice.count() === 2) // replay adds no rows
    assert(twice.filter(col("is_current")).count() === 1)
  }

  test("incremental aboveWatermark keeps only new rows; empty sink passes all") {
    val sink = Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
      .toDF("id", "updated_at")
    val incoming = Seq(
      (2L, java.sql.Timestamp.valueOf("2024-01-04 00:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-06 00:00:00")))
      .toDF("id", "updated_at")
    val out = Incremental.aboveWatermark(incoming, sink, "updated_at")
    assert(out.select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    val empty = sink.filter(lit(false))
    assert(Incremental.aboveWatermark(incoming, empty, "updated_at").count() === 2)
  }

  test("validation suite: tolerances, PK, dbt-style tests, relationships") {
    import ValidationSuite._
    val a = Tables.orders(spark, "/root/testdata/sf0.001")
    val c = Tables.customer(spark, "/root/testdata/sf0.001")
    assert(rowCountMatch(a, a, "orders").passed)
    val pk = pkIntegrity(a, Seq("o_orderkey"), "orders")
    assert(pk.forall(_.passed))
    assert(checksum(a, a, "o_totalprice", "orders").forall(_.passed))
    assert(notNull(a, "o_orderkey", "orders").passed)
    assert(unique(a, "o_orderkey", "orders").passed)
    assert(!unique(a, "o_custkey", "orders").passed) // customers repeat
    assert(acceptedValues(a, "o_orderstatus", Seq("F", "O", "P"), "orders").passed)
    assert(valuesBetween(a, "o_totalprice", Some(0.0), None, "orders").passed)
    assert(relationships(a, "o_custkey", c, "c_custkey", "orders->customer").passed)
    // same-named FK/PK (THE common case): must not be ambiguous or
    // trivially true — a bad FK value has to FAIL the check
    val childSame = Seq(1L, 2L, 99L).toDF("customer_id")
    val parentSame = Seq(1L, 2L, 3L).toDF("customer_id")
    val rel = relationships(childSame, "customer_id", parentSame, "customer_id", "t")
    assert(!rel.passed && rel.actual === "1")
    // NULL-key semantics: repeated nulls are neither duplicates (dbt
    // unique filters nulls) nor duplicate PK groups (NULL != NULL)
    val withNulls = Seq(Some(1L), None, None, Some(2L)).toDF("id")
    assert(unique(withNulls, "id", "t").passed, "repeated NULLs are not duplicates")
    val pkN = pkIntegrity(withNulls, Seq("id"), "t")
    assert(!pkN.find(_.check == "pk_not_null").get.passed)
    assert(pkN.find(_.check == "pk_unique").get.passed,
      "null keys must not double-report as duplicates")
    assert(nonEmptyGuard(a, "orders").passed)
    val rep = report(pk)
    assert(rep.contains("PASS"))
  }

  test("runner executes a branched (<paths>) package: destination written via DAG") {
    val in = getClass.getResourceAsStream("/dtsx/DispositionBranchETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val pkg = DtsxParser.parseString(xml)
    val written = scala.collection.mutable.Map.empty[String, Long]
    val env = PackageRunner.RuntimeEnv(
      resolver = graft.sources.Sources.testdataResolver(spark, "/root/testdata/sf0.001"),
      write = (t, df, _) => written(t) = df.count())
    val run = PackageRunner.run(spark, pkg, env)
    assert(!run.failed)
    assert(written.keySet === Set("[mart].[disposition_rollup]"))
    assert(written("[mart].[disposition_rollup]") === 2L) // RETURN + KEEP
  }

  test("dry run writes nothing, lists the real run's task set and its write targets") {
    val in = getClass.getResourceAsStream("/dtsx/DispositionBranchETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val pkg = DtsxParser.parseString(xml)
    val written = scala.collection.mutable.Map.empty[String, Long]
    var sqlCalls = 0
    val env = PackageRunner.RuntimeEnv(
      resolver = graft.sources.Sources.testdataResolver(spark, "/root/testdata/sf0.001"),
      write = (t, df, _) => written(t) = df.count(),
      sqlExecutor = { _ => sqlCalls += 1; None })
    val dry = PackageRunner.dryRun(spark, pkg, env)
    // the approval contract: nothing executed, no sink touched
    assert(written.isEmpty, "dry run must not write")
    assert(sqlCalls === 0, "dry run must not invoke the SQL executor")
    // the planned write targets are exactly what a real run writes …
    assert(dry.sinks === List("[mart].[disposition_rollup]"))
    // … and the planned task set is exactly the task set the run executes
    val real = PackageRunner.run(spark, pkg, env)
    assert(dry.taskNames === real.tasks.map(_.taskName))
    assert(written.keySet === dry.sinks.toSet)
    // the rendering is the approval prompt: targets + per-task actions
    val text = dry.render
    assert(text.contains("planned actions"))
    assert(text.contains("[mart].[disposition_rollup]"))
  }

  test("dry run classifies ExecuteSQL on the RAW statement, like the artifact and the run") {
    // `?`/`@var` placeholders are classification SIGNALS; the dry run,
    // the migration-mapping artifact, and the run's detector must all
    // read the same raw text (binding happens on the execution path)
    import graft.ir.Ir.{SsisPackage, Variable}
    def pkgOf(stmt: String, vars: List[Variable]) = SsisPackage("p", None, Nil, vars,
      List(graft.ir.Ir.ExecuteSqlTask("sql", None, "conn", stmt)), Nil)
    val env = PackageRunner.RuntimeEnv(
      resolver = graft.sources.Sources.testdataResolver(spark, "/root/testdata/sf0.001"),
      write = (_, _, _) => fail("dry run must not write"))
    val stmt = "SELECT * FROM src WHERE updated_at >= ?"
    val vars = List(Variable("User", "LastSyncTime", "DT_WSTR", "2024-01-01"))
    val dry = PackageRunner.dryRun(spark, pkgOf(stmt, vars), env)
    val artifact = graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("sql", None, "conn", stmt), vars)
    // the incremental `?` signal must survive into BOTH classifications
    val runDetect = graft.patterns.LoadPatterns.detect(stmt, vars)
    assert(runDetect.signals.contains("incremental WHERE predicate"),
      "binding before detection would erase the ?-placeholder signal")
    assert(dry.planned.head.action.nonEmpty)
    assert(dry.planned.head.sinks === artifact.sparkPlan.toList)
    // the REAL run's recorded detection must agree with what the dry run
    // previewed — same raw text into the same detector on both paths
    val real = PackageRunner.run(spark, pkgOf(stmt, vars), env)
    val recorded = real.tasks.head.pattern.getOrElse(
      fail("run did not record a detection for the ExecuteSQL task"))
    assert(recorded.signals === runDetect.signals,
      "dry-run preview and runInternal classified different texts")
    assert(recorded.pattern === runDetect.pattern)
    // a bind failure (two placeholders, one variable) is PREVIEWED on the
    // failing task — the rest of the approval listing still plans
    val broken = PackageRunner.dryRun(spark,
      pkgOf("x", Nil).copy(
        variables = List(Variable("User", "Batch", "DT_I4", "42")),
        tasks = List(
          graft.ir.Ir.ExecuteSqlTask("bad", None, "conn",
            "DELETE FROM [stage].[t] WHERE a = ? AND b = ?"),
          graft.ir.Ir.ExecuteSqlTask("good", None, "conn",
            "DELETE FROM [stage].[t] WHERE a = 1"))), env)
    assert(broken.planned.map(_.taskName) === List("bad", "good"))
    assert(broken.planned.head.action.contains("PARAMETER BINDING FAILS"))
    assert(!broken.planned(1).action.contains("FAILS"))
  }

  test("MergeSqlCompiler: WHEN NOT MATCHED BY SOURCE flags/retires; off-shape declines") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, "a", 10.0, 1), (2L, "b", 20.0, 1), (3L, "c", 30.0, 0))
      .toDF("id", "name", "bal", "cur")
    val feed = Seq((2L, "b2", 25.0), (9L, "z", 5.0)).toDF("id", "name", "bal")
    val frames = Map("dim" -> tgt, "feed" -> feed,
      "mlog" -> Seq.empty[(String, Option[Long], Option[Long])]
        .toDF("op", "old_id", "new_id"))
    def run(sql: String) = graft.patterns.MergeSqlCompiler
      .rewrite(spark, graft.ir.Ir.ExecuteSqlTask("m", None, "conn", sql), frames)
    // UPDATE form with AND predicate: id 1 flagged (cur 1→0), id 3
    // source-absent but pred false → untouched, id 2 updated, 9 inserted
    val flag = run(
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED BY TARGET THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE AND t.cur = 1 THEN UPDATE SET cur = 0")
      .getOrElse(fail("BY SOURCE UPDATE did not compile")).df.get
    assert(flag.orderBy("id").as[(Long, String, Double, Int)].collect().toList
      === List((1L, "a", 10.0, 0), (2L, "b2", 25.0, 1),
        (3L, "c", 30.0, 0), (9L, "z", 5.0, 1)))
    // DELETE form: source-absent rows 1 and 3 retired
    val del = run(
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
      .getOrElse(fail("BY SOURCE DELETE did not compile")).df.get
    assert(del.orderBy("id").select("id").as[Long].collect().toList
      === List(2L, 9L))
    // OUTPUT composes: BY SOURCE rows report their own $action and a
    // NULL post-image on DELETE; untouched-by-pred rows emit nothing
    val outed = run(
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE AND t.cur = 1 THEN DELETE " +
        "OUTPUT $action AS op, deleted.id AS old_id, inserted.id AS new_id " +
        "INTO mlog").getOrElse(fail("BY SOURCE + OUTPUT did not compile"))
    val audit = outed.side.head._2
      .as[(String, Option[Long], Option[Long])].collect().toSet
    assert(audit === Set(("DELETE", Some(1L), None),
      ("UPDATE", Some(2L), Some(2L)), ("INSERT", None, Some(9L))))
    // declines: a source reference in a BY SOURCE body (T-SQL compile
    // error — the source side IS null there), a second BY SOURCE
    // clause, a CASE expression in the SET body
    for ((sql, clue) <- Seq(
      ("MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET bal = s.bal",
        "source reference in BY SOURCE SET"),
      ("MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE AND s.id > 0 THEN DELETE",
        "source reference in BY SOURCE predicate"),
      ("MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE AND t.cur = 1 THEN UPDATE SET cur = 0 " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        "two BY SOURCE clauses"),
      ("MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET " +
        "cur = CASE WHEN t.cur = 1 THEN 0 ELSE t.cur END",
        "CASE in BY SOURCE body")))
      assert(run(sql).isEmpty, s"must decline: $clue")
    // a misspelled BY SOURCE SET column aborts, never silently no-ops
    val typoErr = intercept[IllegalArgumentException] {
      run("MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
        "VALUES (s.id, s.name, s.bal, 1) " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET curr = 0")
    }
    assert(typoErr.getMessage.contains("BY SOURCE"))
    // the 8672 guard is unchanged with a BY SOURCE clause present
    val dupFeed = Seq((2L, "b2", 25.0), (2L, "b3", 26.0)).toDF("id", "name", "bal")
    val dupOut = graft.patterns.MergeSqlCompiler.rewrite(spark,
      graft.ir.Ir.ExecuteSqlTask("m", None, "conn",
        "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
          "WHEN NOT MATCHED THEN INSERT (id, name, bal, cur) " +
          "VALUES (s.id, s.name, s.bal, 1) " +
          "WHEN NOT MATCHED BY SOURCE THEN DELETE"),
      Map("dim" -> tgt, "feed" -> dupFeed)).get
    val dupErr = intercept[Exception] { dupOut.df.get.collect() }
    val chain = Iterator.iterate(dupErr: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(chain.contains("8672"))
  }

  test("MergeSqlCompiler: three-verb MERGE executes; non-canonical stays None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    val feed = Seq((2L, "b2", 25.0, "U"), (3L, "c", 0.0, "D"), (9L, "z", 5.0, "I"))
      .toDF("id", "name", "bal", "op")
    val frames = Map("dim" -> tgt, "feed" -> feed)
    val merge = graft.ir.Ir.ExecuteSqlTask("m", None, "conn",
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)")
    val out = graft.patterns.MergeSqlCompiler.rewrite(spark, merge, frames)
      .getOrElse(fail("canonical MERGE did not compile"))
    assert(out.target.contains("dim"))
    val rows = out.df.get.orderBy(col("id"))
      .as[(Long, String, Double)].collect().toList
    // 1 untouched, 2 updated, 3 deleted, 9 inserted
    assert(rows === List((1L, "a", 10.0), (2L, "b2", 25.0), (9L, "z", 5.0)))
    // missing clause (no DELETE verb) must NOT half-execute
    val partial = merge.copy(sqlStatement =
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET name = s.name")
    assert(graft.patterns.MergeSqlCompiler.rewrite(spark, partial, frames).isEmpty)
    // insert-column subset: absent target columns become typed NULLs
    val subset = merge.copy(sqlStatement =
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.bal)")
    val sub = graft.patterns.MergeSqlCompiler.rewrite(spark, subset, frames).get
    val ins = sub.df.get.filter(col("id") === 9L).collect().head
    assert(ins.isNullAt(1) && ins.getDouble(2) === 5.0)
    // duplicate source rows per merge key must abort (T-SQL error 8672),
    // never silently duplicate the target row. The guard rides the same
    // plan that materializes the state (one join, lazy writes — nothing
    // commits), so the abort surfaces at action time; walk the cause
    // chain because the raise_error lands inside a task failure wrapper.
    val dupFeed = Seq((2L, "b2", 25.0, "U"), (2L, "b3", 26.0, "U"))
      .toDF("id", "name", "bal", "op")
    val dupOut = graft.patterns.MergeSqlCompiler.rewrite(spark, merge,
      Map("dim" -> tgt, "feed" -> dupFeed)).get
    val dupErr = intercept[Exception] { dupOut.df.get.collect() }
    val chain = Iterator.iterate(dupErr: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(chain.contains("8672"))
    // a misspelled SET / INSERT column must abort, not silently NULL
    val typo = merge.copy(sqlStatement =
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET nam = s.name " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)")
    val typoErr = intercept[IllegalArgumentException] {
      graft.patterns.MergeSqlCompiler.rewrite(spark, typo, frames)
    }
    assert(typoErr.getMessage.contains("nam"))
    // alias text inside a string literal is DATA, not a reference
    val quoted = merge.copy(sqlStatement =
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET name = concat(s.name, ' (s. updated)') " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)")
    val qOut = graft.patterns.MergeSqlCompiler.rewrite(spark, quoted, frames).get
    val updName = qOut.df.get.filter(col("id") === 2L)
      .select(col("name")).as[String].head()
    assert(updName === "b2 (s. updated)",
      s"literal containing the alias was rewritten: $updName")
    // function calls in the INSERT VALUES list parse (depth-tracked
    // scan, not [^)]*) — including nested parens and a ')' in a literal
    val fnVals = merge.copy(sqlStatement =
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) " +
        "VALUES (s.id, upper(concat(s.name, ':)')), round(abs(s.bal), 1))")
    val fnOut = graft.patterns.MergeSqlCompiler.rewrite(spark, fnVals, frames)
      .getOrElse(fail("MERGE with function-call VALUES did not compile"))
    val fnIns = fnOut.df.get.filter(col("id") === 9L)
      .as[(Long, String, Double)].head()
    assert(fnIns === ((9L, "Z:)", 5.0)))
    // bracketed / double-quoted identifiers in clause bodies are outside
    // the canonical contract: a clean None skip, never a half-translate
    val bracketed = merge.copy(sqlStatement =
      "MERGE INTO dim AS t USING feed AS s ON t.id = [s].[id] " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)")
    assert(graft.patterns.MergeSqlCompiler.rewrite(spark, bracketed, frames).isEmpty)
    val dquoted = merge.copy(sqlStatement =
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET \"name\" = s.name " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)")
    assert(graft.patterns.MergeSqlCompiler.rewrite(spark, dquoted, frames).isEmpty)
  }

  test("MergeSqlCompiler USING (SELECT …): inline-filtered source; non-simple declines") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    // the feed carries a stale batch ('X') the subquery must exclude
    val feed = Seq((2L, "b2", 25.0, "U"), (3L, "c", 0.0, "D"),
      (9L, "z", 5.0, "I"), (2L, "bX", 99.0, "X"), (8L, "yX", 1.0, "X"))
      .toDF("id", "name", "bal", "op")
    val frames = Map("dim" -> tgt, "feed" -> feed)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("ms", None, "conn", sql)
    def go(sql: String) =
      graft.patterns.MergeSqlCompiler.rewrite(spark, task(sql), frames)
    val out = go(
      "MERGE INTO dim AS t USING (SELECT id, name, bal, op FROM feed " +
        "WHERE op <> 'X') AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)")
      .getOrElse(fail("subquery-source MERGE did not compile"))
    // the 'X' rows are invisible: no 8672 from the duplicate id 2, no
    // insert of id 8, and the surviving 'U' row carries the live values
    assert(out.df.get.orderBy(col("id")).as[(Long, String, Double)]
      .collect().toList === List((1L, "a", 10.0), (2L, "b2", 25.0),
        (9L, "z", 5.0)))
    // projection subset + expression items compile through selectExpr
    val proj = go(
      "MERGE INTO dim AS t USING (SELECT id, upper(name) AS name, " +
        "bal + 1 AS bal, op FROM feed WHERE op = 'U') AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)").get
    assert(proj.df.get.filter(col("id") === 2L)
      .as[(Long, String, Double)].collect().toList === List((2L, "B2", 26.0)))
    // a string literal containing ') as s on' is DATA: the balanced
    // scan must not close the subquery inside it
    assert(go(
      "MERGE INTO dim AS t USING (SELECT id, name, bal, op FROM feed " +
        "WHERE name <> ') as s on' AND op = 'U') AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.bal)").nonEmpty)
    // non-simple subqueries decline whole: a join leg, a nested
    // select, a union — authored staging logic stays manual review
    def body(using: String) =
      s"MERGE INTO dim AS t USING ($using) AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.bal)"
    assert(go(body("SELECT f.id, f.bal, f.op FROM feed f JOIN dim d ON f.id = d.id")).isEmpty)
    assert(go(body("SELECT id, bal, op FROM feed WHERE id IN (SELECT id FROM dim)")).isEmpty)
    assert(go(body("SELECT id, bal, op FROM feed UNION ALL SELECT id, bal, op FROM feed")).isEmpty)
    // OUTPUT INTO the subquery's base table declines — it is a table
    // of the statement
    assert(go(
      "MERGE INTO dim AS t USING (SELECT id, name, bal, op FROM feed " +
        "WHERE op <> 'X') AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.bal) " +
        "OUTPUT deleted.id, deleted.name, deleted.bal, deleted.id " +
        "INTO feed").isEmpty)
  }

  test("MergeSqlCompiler OUTPUT…INTO: change feed per affected row; off-shape declines") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("id", "name", "bal")
    // op 'N' matches row 4 but fires neither verb — it must emit NO
    // change-feed row (T-SQL OUTPUT covers affected rows only)
    val feed = Seq((2L, "b2", 25.0, "U"), (3L, "c", 0.0, "D"),
      (9L, "z", 5.0, "I"), (4L, "d4", 44.0, "N"))
      .toDF("id", "name", "bal", "op")
    val log = Seq.empty[(String, Option[Long], Option[Long], Option[Double],
      Option[Double])].toDF("act", "old_id", "new_id", "old_bal", "new_bal")
    val frames = Map("dim" -> tgt, "feed" -> feed, "chlog" -> log)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("mo", None, "conn", sql)
    def go(sql: String, fr: Map[String, org.apache.spark.sql.DataFrame] = frames) =
      graft.patterns.MergeSqlCompiler.rewrite(spark, task(sql), fr)
    val body =
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)"
    val out = go(body + " OUTPUT $action AS act, deleted.id AS old_id, " +
      "inserted.id AS new_id, deleted.bal AS old_bal, " +
      "inserted.bal AS new_bal INTO chlog;")
      .getOrElse(fail("canonical MERGE OUTPUT INTO did not compile"))
    // target state unchanged by the OUTPUT clause
    assert(out.df.get.orderBy(col("id")).as[(Long, String, Double)]
      .collect().toList === List((1L, "a", 10.0), (2L, "b2", 25.0),
        (4L, "d", 40.0), (9L, "z", 5.0)))
    val List((ln, lf, lm)) = out.side
    assert(ln === "chlog" && lm === org.apache.spark.sql.SaveMode.Append)
    // $action + both images: deleted = pre (NULL on insert), inserted =
    // post from the SAME atomic statement (NULL on delete); the
    // no-verb-fired match (id 4) emits nothing
    assert(lf.orderBy(coalesce(col("old_id"), col("new_id")))
      .as[(String, Option[Long], Option[Long], Option[Double], Option[Double])]
      .collect().toList === List(
        ("UPDATE", Some(2L), Some(2L), Some(20.0), Some(25.0)),
        ("DELETE", Some(3L), None, Some(30.0), None),
        ("INSERT", None, Some(9L), None, Some(5.0))))
    // deleted.* / inserted.* expand positionally over the target schema
    val wide = Seq.empty[(Long, String, Double)].toDF("id", "name", "bal")
    val star = go(body + " OUTPUT inserted.* INTO wide",
      frames + ("wide" -> wide)).get
    assert(star.side.head._2.filter(col("id").isNotNull)
      .orderBy(col("id")).as[(Long, String, Double)].collect().toList
      === List((2L, "b2", 25.0), (9L, "z", 5.0)))
    // the 8672 guard rides the SIDE frame too — the audit append is the
    // first action the runner takes, so the abort must fire from it
    val dupFeed = Seq((2L, "b2", 25.0, "U"), (2L, "b3", 26.0, "U"))
      .toDF("id", "name", "bal", "op")
    val dup = go(body + " OUTPUT $action AS act, deleted.id AS old_id, " +
      "inserted.id AS new_id, deleted.bal AS old_bal, " +
      "inserted.bal AS new_bal INTO chlog",
      frames + ("feed" -> dupFeed)).get
    val dupErr = intercept[Exception] { dup.side.head._2.collect() }
    val chain = Iterator.iterate(dupErr: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(chain.contains("8672"))
    // eager T-SQL aborts: arity mismatch vs the log table (213), an
    // OUTPUT column absent from the target
    assert(intercept[IllegalArgumentException] {
      go(body + " OUTPUT $action INTO chlog")
    }.getMessage.contains("213"))
    assert(intercept[IllegalArgumentException] {
      go(body + " OUTPUT $action AS act, deleted.nope AS old_id, " +
        "inserted.id AS new_id, deleted.bal AS old_bal, " +
        "inserted.bal AS new_bal INTO chlog")
    }.getMessage.contains("nope"))
    // declines: OUTPUT into the MERGE's own target or source, OUTPUT
    // without INTO, junk after the VALUES list
    assert(go(body + " OUTPUT $action AS act, deleted.id AS old_id, " +
      "inserted.id AS new_id, deleted.bal AS old_bal, " +
      "inserted.bal AS new_bal INTO dim").isEmpty)
    assert(go(body + " OUTPUT deleted.* INTO feed").isEmpty)
    assert(go(body + " OUTPUT $action, deleted.id").isEmpty)
    assert(go(body + " SELECT 1").isEmpty)
    // $action stays MERGE-only: the single-table OUTPUT compiler
    // declines it (T-SQL: $action is valid only in MERGE)
    assert(graft.patterns.OutputIntoSqlCompiler.rewrite(spark,
      task("UPDATE dim SET bal = 0 OUTPUT $action, deleted.bal INTO chlog"),
      frames).isEmpty)
    // ledger twin agrees with the executable surface
    assert(graft.patterns.MergeSqlCompiler.outputShape(body +
      " OUTPUT $action AS act, deleted.id AS old_id, inserted.id AS " +
      "new_id, deleted.bal AS old_bal, inserted.bal AS new_bal INTO chlog"))
    assert(!graft.patterns.MergeSqlCompiler.outputShape(body))
    assert(!graft.patterns.MergeSqlCompiler.outputShape(body +
      " OUTPUT deleted.* INTO feed"))
  }

  test("UpdateFromSqlCompiler: correlated join-update; off-shape stays None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"))
      .toDF("id", "bal", "tag")
    val dim = Seq((1L, 5.0, "keep"), (2L, 7.0, "adj"))
      .toDF("id", "delta", "action")
    val frames = Map("acct" -> tgt, "dim" -> dim)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("uf", None, "conn", sql)
    // canonical shape: SET references source cols, WHERE over source
    // cols, unmatched target rows pass through untouched
    val out = graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = t.bal + s.delta, tag = upper(s.action) " +
        "FROM acct t JOIN dim s ON t.id = s.id WHERE s.action = 'adj'"),
      frames).getOrElse(fail("canonical UPDATE...FROM did not compile"))
    assert(out.target.contains("acct"))
    assert(out.df.get.orderBy("id").as[(Long, Double, String)].collect().toList
      === List((1L, 10.0, "A"), (2L, 27.0, "ADJ"), (3L, 30.0, "C")))
    // UPDATE clause may name the table instead of the alias
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = s.delta FROM acct t JOIN dim s ON t.id = s.id"),
      frames).nonEmpty)
    // pre-update-row semantics: SET sees the PRE-update joined row
    val swap = graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta, tag = concat(t.tag, s.action) " +
        "FROM acct t JOIN dim s ON t.id = s.id"), frames).get
    assert(swap.df.get.filter(col("id") === 1L)
      .as[(Long, Double, String)].head() === ((1L, 5.0, "Akeep")))
    // OUTPUT…INTO between SET and FROM (the T-SQL position): the audit
    // frame is the fired rows of the SAME guarded join — deleted = the
    // pre-image, inserted = the SET expression (which may reference the
    // source leg) on the PRE-update row
    val audit = Seq.empty[(Long, Double, Double)].toDF("id", "old_bal", "new_bal")
    val au = graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = t.bal + s.delta " +
        "OUTPUT inserted.id, deleted.bal AS old_bal, inserted.bal AS new_bal " +
        "INTO audit FROM acct t JOIN dim s ON t.id = s.id " +
        "WHERE s.action = 'adj'"),
      frames + ("audit" -> audit)).getOrElse(
        fail("audited UPDATE...FROM did not compile"))
    val List((an, af, am)) = au.side
    assert(an === "audit" && am === org.apache.spark.sql.SaveMode.Append)
    assert(af.as[(Long, Double, Double)].collect().toList
      === List((2L, 20.0, 27.0)))
    assert(au.df.get.filter(col("id") === 2L)
      .as[(Long, Double, String)].head() === ((2L, 27.0, "B")))
    // audited declines: INTO the statement's own target or source leg,
    // $action outside MERGE, a malformed OUTPUT (no INTO)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta OUTPUT deleted.bal INTO acct " +
        "FROM acct t JOIN dim s ON t.id = s.id"), frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta OUTPUT deleted.bal INTO dim " +
        "FROM acct t JOIN dim s ON t.id = s.id"), frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta OUTPUT $action, deleted.bal " +
        "INTO audit FROM acct t JOIN dim s ON t.id = s.id"),
      frames + ("audit" -> audit)).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta OUTPUT deleted.bal " +
        "FROM acct t JOIN dim s ON t.id = s.id"), frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.shapeMatches(
      "UPDATE t SET bal = s.delta OUTPUT deleted.bal INTO audit " +
        "FROM acct t JOIN dim s ON t.id = s.id"))
    assert(!graft.patterns.UpdateFromSqlCompiler.shapeMatches(
      "UPDATE t SET bal = s.delta OUTPUT deleted.bal INTO acct " +
        "FROM acct t JOIN dim s ON t.id = s.id"))
    // multi-match: T-SQL leaves the winner undefined — this engine
    // aborts from the materializing action rather than silently pick
    val dupDim = Seq((2L, 7.0, "adj"), (2L, 9.0, "adj"))
      .toDF("id", "delta", "action")
    val dupOut = graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t JOIN dim s ON t.id = s.id"),
      Map("acct" -> tgt, "dim" -> dupDim)).get
    val dupErr = intercept[Exception] { dupOut.df.get.collect() }
    val chain = Iterator.iterate(dupErr: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(chain.contains("matched by multiple source rows"))
    // LEFT JOIN executes (r13): EVERY target row is in the result set —
    // unmatched rows assign NULL from source-referencing SETs (the
    // backfill-with-default idiom); RIGHT/FULL/CROSS stay declined
    val lj = graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t LEFT JOIN dim s ON t.id = s.id"),
      frames).getOrElse(fail("LEFT-join UPDATE...FROM did not compile"))
    assert(lj.df.get.orderBy("id").as[(Long, Option[Double], String)]
      .collect().toList === List((1L, Some(5.0), "A"), (2L, Some(7.0), "B"),
        (3L, None, "C")))
    // a WHERE over source columns is NULL on the unmatched row → that
    // row does NOT update (the same WHERE-is-TRUE rule)
    val ljw = graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t LEFT JOIN dim s " +
        "ON t.id = s.id WHERE s.action = 'adj'"), frames).get
    assert(ljw.df.get.orderBy("id").as[(Long, Option[Double], String)]
      .collect().toList === List((1L, Some(10.0), "A"), (2L, Some(7.0), "B"),
        (3L, Some(30.0), "C")))
    // alias-less LEFT (the natural authoring): the direction must be
    // captured, never swallowed as the alias token; the table name is
    // the reference alias
    val ljBare = graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = s.delta FROM acct LEFT JOIN dim s " +
        "ON acct.id = s.id"), frames)
      .getOrElse(fail("alias-less LEFT UPDATE...FROM did not compile"))
    assert(ljBare.df.get.orderBy("id").as[(Long, Option[Double], String)]
      .collect().toList === List((1L, Some(5.0), "A"), (2L, Some(7.0), "B"),
        (3L, None, "C")))
    // off-shape declines: RIGHT/FULL/CROSS joins (a right join can
    // produce rows with no target identity), a second join, comma-list
    // FROM, subqueries, a mismatched update token, trailing statements
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t RIGHT JOIN dim s ON t.id = s.id"),
      frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t FULL OUTER JOIN dim s ON t.id = s.id"),
      frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t JOIN dim s ON t.id = s.id " +
        "JOIN dim u ON u.id = s.id"), frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t, dim s WHERE t.id = s.id"),
      frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = (SELECT max(delta) FROM dim) " +
        "FROM acct t JOIN dim s ON t.id = s.id"), frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE other SET bal = s.delta FROM acct t JOIN dim s ON t.id = s.id"),
      frames).isEmpty)
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET bal = s.delta FROM acct t JOIN dim s ON t.id = s.id; " +
        "DELETE FROM acct"), frames).isEmpty)
    // a 'join'/'from' inside a string literal is DATA, not structure
    assert(graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
      task("UPDATE t SET tag = 'from the join' " +
        "FROM acct t JOIN dim s ON t.id = s.id"), frames).nonEmpty)
    // misspelled SET column aborts eagerly, never silently no-ops
    assert(intercept[IllegalArgumentException] {
      graft.patterns.UpdateFromSqlCompiler.rewrite(spark,
        task("UPDATE t SET ball = s.delta FROM acct t JOIN dim s ON t.id = s.id"),
        frames)
    }.getMessage.contains("ball"))
    // the compiled plan shuffles target×source ONCE (guard rides it)
    val plan = out.df.get.queryExecution.optimizedPlan.toString
    assert(plan.linesIterator.count(_.contains("Join ")) === 1,
      s"UPDATE...FROM must join once:\n$plan")
    assert(plan.contains("__graft_mcnt"))
  }

  test("OutputIntoSqlCompiler: audit/archive side writes; off-shape stays None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "A"))
      .toDF("id", "bal", "tag")
    val audit = Seq.empty[(Long, Double, Double)].toDF("id", "old_bal", "new_bal")
    val archive = Seq.empty[(Long, Double, String)].toDF("id", "bal", "tag")
    val frames = Map("acct" -> tgt, "audit" -> audit, "arch" -> archive)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("oi", None, "conn", sql)
    def go(sql: String) =
      graft.patterns.OutputIntoSqlCompiler.rewrite(spark, task(sql), frames)
    // UPDATE: audit rows carry BOTH images (deleted = pre, inserted =
    // the SET expression over the PRE-update row); target is the usual
    // CASE state replacement; @@ROWCOUNT = fired rows
    val up = go("UPDATE acct SET bal = bal * 2 " +
      "OUTPUT inserted.id, deleted.bal AS old_bal, inserted.bal AS new_bal " +
      "INTO audit WHERE tag = 'A'")
      .getOrElse(fail("canonical UPDATE OUTPUT INTO did not compile"))
    assert(up.target.contains("acct") && up.mode ===
      org.apache.spark.sql.SaveMode.Overwrite)
    assert(up.df.get.orderBy("id").as[(Long, Double, String)].collect().toList
      === List((1L, 20.0, "A"), (2L, 20.0, "B"), (3L, 60.0, "A")))
    val List((an, af, am)) = up.side
    assert(an === "audit" && am === org.apache.spark.sql.SaveMode.Append)
    assert(af.orderBy("id").as[(Long, Double, Double)].collect().toList
      === List((1L, 10.0, 20.0), (3L, 30.0, 60.0)))
    assert(up.affected.get.apply() === 2L)
    // DELETE with deleted.* and an explicit positional column list;
    // unnamed audit columns take typed NULLs
    val del = go("DELETE FROM acct OUTPUT deleted.id, deleted.tag " +
      "INTO arch (id, tag) WHERE bal >= 20").get
    assert(del.df.get.as[(Long, Double, String)].collect().toList
      === List((1L, 10.0, "A")))
    val arch = del.side.head._2
    assert(arch.columns.toList === List("id", "bal", "tag"))
    assert(arch.orderBy("id").as[(Long, Option[Double], String)].collect()
      .toList === List((2L, None, "B"), (3L, None, "A")))
    // deleted.* expands positionally over the whole target row
    val delStar = go("DELETE FROM acct OUTPUT deleted.* INTO arch " +
      "WHERE tag = 'B'").get
    assert(delStar.side.head._2.as[(Long, Double, String)].collect().toList
      === List((2L, 20.0, "B")))
    // arity mismatch aborts eagerly (T-SQL 213), as does an unknown
    // audit column and an unknown OUTPUT column
    assert(intercept[IllegalArgumentException] {
      go("DELETE FROM acct OUTPUT deleted.id INTO arch WHERE bal >= 20")
    }.getMessage.contains("213"))
    assert(intercept[IllegalArgumentException] {
      go("DELETE FROM acct OUTPUT deleted.id INTO arch (nope) WHERE bal >= 20")
    }.getMessage.contains("nope"))
    assert(intercept[IllegalArgumentException] {
      go("UPDATE acct SET bal = 0 OUTPUT deleted.nope INTO audit")
    }.getMessage.contains("nope"))
    // off-shape declines: inserted in a DELETE, OUTPUT without INTO,
    // OUTPUT into the statement's own target, a FROM/JOIN leg, a
    // subquery in the WHERE, deleted.* with an alias
    assert(go("DELETE FROM acct OUTPUT inserted.id INTO arch (id)").isEmpty)
    assert(go("UPDATE acct SET bal = 0 OUTPUT deleted.bal WHERE tag = 'A'").isEmpty)
    assert(go("UPDATE acct SET bal = 0 OUTPUT deleted.bal INTO acct").isEmpty)
    assert(go("UPDATE t SET bal = 0 OUTPUT deleted.bal INTO audit " +
      "FROM acct t JOIN audit s ON t.id = s.id").isEmpty)
    assert(go("DELETE FROM acct OUTPUT deleted.id INTO arch (id) " +
      "WHERE bal = (SELECT max(old_bal) FROM audit)").isEmpty)
    assert(go("DELETE FROM acct OUTPUT deleted.* AS d INTO arch").isEmpty)
    // the plain compilers DECLINE the OUTPUT forms (never half-execute)
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = 0 OUTPUT deleted.bal INTO audit"),
      frames).isEmpty)
    // shapeMatches is the parse-only twin
    assert(graft.patterns.OutputIntoSqlCompiler.shapeMatches(
      "UPDATE acct SET bal = bal + 1 OUTPUT deleted.bal AS old_bal, " +
        "inserted.bal AS new_bal INTO audit (old_bal, new_bal) WHERE tag = 'A'"))
    assert(!graft.patterns.OutputIntoSqlCompiler.shapeMatches(
      "UPDATE acct SET bal = 0 WHERE tag = 'A'"))
    assert(!graft.patterns.OutputIntoSqlCompiler.shapeMatches(
      "DELETE FROM acct OUTPUT inserted.id INTO arch"))
    // a literal 'output into' inside a string is DATA, not structure
    assert(!graft.patterns.OutputIntoSqlCompiler.shapeMatches(
      "UPDATE acct SET tag = 'output into arch' WHERE bal > 0"))
    assert(graft.patterns.UpdateSqlCompiler.shapeMatches(
      "UPDATE acct SET tag = 'output into arch' WHERE bal > 0"))
    // zero joins: both frames are narrow projections of one scan
    val upPlan = up.df.get.queryExecution.optimizedPlan.toString
    val auPlan = af.queryExecution.optimizedPlan.toString
    assert(!upPlan.contains("Join ") && !auPlan.contains("Join "))
  }

  test("OutputIntoSqlCompiler: script staging order and @@ROWCOUNT") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("so", None, "conn", sql)
    // a later script statement reads the audit rows the OUTPUT clause
    // staged, and @@ROWCOUNT after the OUTPUT DML counts fired rows
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "t" -> Seq((1L, 5.0), (2L, 50.0), (3L, 500.0)).toDF("id", "v"),
      "aud" -> Seq.empty[(Long, Double, Double)].toDF("id", "old_v", "new_v"),
      "log" -> Seq.empty[(String, Long)].toDF("what", "n"))
    mkExec(w)(task(
      "UPDATE t SET v = v + 1 OUTPUT inserted.id, deleted.v AS old_v, " +
        "inserted.v AS new_v INTO aud WHERE v >= 50; " +
        "INSERT INTO log (what, n) VALUES ('updated', @@ROWCOUNT); " +
        "DELETE FROM aud WHERE old_v > 100"))
      .getOrElse(fail("OUTPUT script did not compile"))
    assert(w("t").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 5.0), (2L, 51.0), (3L, 501.0)))
    assert(w("aud").as[(Long, Double, Double)].collect().toList
      === List((2L, 50.0, 51.0)))
    assert(w("log").as[(String, Long)].head() === (("updated", 2L)))
  }

  test("script-scoped scalar @vars: watermark idiom, T-SQL assign semantics, declines") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("sv", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "src" -> Seq((1L, 10.0), (2L, 40.0), (3L, 90.0)).toDF("id", "v"),
        "tgt" -> Seq((1L, 10.0), (2L, 40.0), (3L, 90.0)).toDF("id", "v"),
        "log" -> Seq.empty[(Double, Long)].toDF("wm", "n"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // the in-script watermark: DECLARE, scalar assign from a query on
    // the live state, then DML + audit INSERT both using the value
    val w = fresh()
    mkExec(w)(task(
      "DECLARE @wm FLOAT, @cut FLOAT = 25.0; " +
        "SELECT @wm = MAX(v) FROM src WHERE v < 50; " +
        "SET @cut = @wm - @cut; " +
        "INSERT INTO log (wm, n) VALUES (@wm, @@ROWCOUNT); " +
        "DELETE FROM tgt WHERE v <= @cut"))
      .getOrElse(fail("scalar-var script did not compile"))
    assert(w("log").as[(Double, Long)].head() === ((40.0, 1L)))
    assert(w("tgt").orderBy("id").as[(Long, Double)].collect().toList
      === List((2L, 40.0), (3L, 90.0)))
    // zero-row assign keeps the prior value (T-SQL), and @@ROWCOUNT
    // reads 0 — the canonical "no new rows since the watermark" branch
    val w2 = fresh()
    mkExec(w2)(task(
      "DECLARE @wm FLOAT = 7.5; " +
        "SELECT @wm = MAX(v) FROM src WHERE v > 1000 HAVING COUNT(*) > 0; " +
        "INSERT INTO log (wm, n) VALUES (@wm, @@ROWCOUNT)"))
      .getOrElse(fail("zero-row assign script did not compile"))
    assert(w2("log").as[(Double, Long)].head() === ((7.5, 0L)))
    // declines, never half-bound: an undeclared variable in DML, a
    // multi-assign SELECT, a multi-row assign (T-SQL picks an arbitrary
    // row — this engine refuses), a subquery SET
    val w3 = fresh()
    assert(mkExec(w3)(task(
      "DECLARE @a FLOAT; SELECT @a = MAX(v) FROM src; " +
        "DELETE FROM tgt WHERE v < @nope")).isEmpty)
    assert(mkExec(w3)(task(
      "DECLARE @a FLOAT, @b FLOAT; SELECT @a = MIN(v), @b = MAX(v) " +
        "FROM src; DELETE FROM tgt WHERE v < @a")).isEmpty)
    assert(mkExec(w3)(task(
      "DECLARE @a FLOAT; SELECT @a = v FROM src; " +
        "DELETE FROM tgt WHERE v < @a")).isEmpty)
    assert(mkExec(w3)(task(
      "DECLARE @a FLOAT; SET @a = (SELECT MAX(v) FROM src); " +
        "DELETE FROM tgt WHERE v < @a")).isEmpty)
    // nothing committed by the declined scripts
    assert(w3("tgt").count() === 3L)
    // the route surfaces the feature for the ledger
    assert(features(
      "DECLARE @wm FLOAT; SELECT @wm = MAX(v) FROM src; " +
        "DELETE FROM tgt WHERE v <= @wm")
      .exists(_.contains("scalar @vars")))
  }

  test("DeleteFromSqlCompiler: correlated join-delete; off-shape stays None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "D"))
      .toDF("id", "tag")
    val dim = Seq((1L, "purge"), (2L, "keep"), (4L, "purge"))
      .toDF("id", "action")
    val frames = Map("acct" -> tgt, "dim" -> dim)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("df", None, "conn", sql)
    // canonical: rows deleted exactly where a source row joins AND the
    // WHERE (over source columns) holds; unmatched rows survive
    val out = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE t FROM acct t JOIN dim s ON t.id = s.id " +
        "WHERE s.action = 'purge'"), frames)
      .getOrElse(fail("canonical DELETE...FROM did not compile"))
    assert(out.target.contains("acct"))
    assert(out.df.get.orderBy("id").as[(Long, String)].collect().toList
      === List((2L, "B"), (3L, "C")))
    // no WHERE: every matched row deletes; table name instead of alias
    val all = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE acct FROM acct t JOIN dim s ON t.id = s.id"), frames).get
    assert(all.df.get.as[(Long, String)].collect().toList === List((3L, "C")))
    // multi-match deletes once — idempotent, no guard, no dup
    val dupDim = Seq((1L, "x"), (1L, "y")).toDF("id", "action")
    val dup = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE t FROM acct t JOIN dim s ON t.id = s.id"),
      Map("acct" -> tgt, "dim" -> dupDim)).get
    assert(dup.df.get.orderBy("id").as[(Long, String)].collect().toList
      === List((2L, "B"), (3L, "C"), (4L, "D")))
    // NULL WHERE means not deleted (SQL's WHERE-is-TRUE rule)
    val nullPred = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE t FROM acct t JOIN dim s ON t.id = s.id " +
        "WHERE CASE WHEN s.id = 1 THEN NULL ELSE true END"), frames).get
    assert(nullPred.df.get.filter(col("id") === 1L).count() === 1L)
    // LEFT JOIN executes (r13): the orphan-purge idiom — a target row
    // deletes iff ANY of its result rows (NULL-extended when
    // unmatched) passes the WHERE
    val orphan = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE t FROM acct t LEFT JOIN dim s ON t.id = s.id " +
        "WHERE s.id IS NULL"), frames).getOrElse(
        fail("LEFT-join orphan DELETE did not compile"))
    assert(orphan.df.get.orderBy("id").as[(Long, String)].collect().toList
      === List((1L, "A"), (2L, "B"), (4L, "D")))
    assert(orphan.affected.get.apply() === 1L)
    // LEFT with no WHERE: every row rides the result set → delete all
    val allLeft = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE t FROM acct t LEFT JOIN dim s ON t.id = s.id"), frames).get
    assert(allLeft.df.get.count() === 0L)
    // the ALIAS-LESS spelling (the natural authoring) must parse with
    // the direction captured — never with alias "LEFT" and silent
    // inner semantics (the pre-r13 hazard, now a lookahead in the
    // alias token; the table name is the reference alias)
    val bare = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE acct FROM acct LEFT JOIN dim s ON acct.id = s.id " +
        "WHERE s.id IS NULL"), frames).getOrElse(
        fail("alias-less LEFT orphan purge did not compile"))
    assert(bare.df.get.orderBy("id").as[(Long, String)].collect().toList
      === List((1L, "A"), (2L, "B"), (4L, "D")))
    // IS NULL on a NON-KEY source column is NOT the orphan fast path:
    // a MATCHED row whose source column is genuinely NULL also fires
    // in T-SQL — only the general windowed form models that
    val nullDim = Seq((1L, "purge"), (2L, null.asInstanceOf[String]),
      (4L, "purge")).toDF("id", "action")
    val nonKey = graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE t FROM acct t LEFT JOIN dim s ON t.id = s.id " +
        "WHERE s.action IS NULL"),
      Map("acct" -> tgt, "dim" -> nullDim)).get
    // id=2 matched-with-NULL-action fires; id=3 unmatched fires
    assert(nonKey.df.get.orderBy("id").as[(Long, String)].collect().toList
      === List((1L, "A"), (4L, "D")))
    // off-shape declines: RIGHT/FULL/CROSS join, second join, comma
    // list, doubled T-SQL FROM spelling, mismatched token, subquery,
    // trailing stmt
    for (sql <- Seq(
      "DELETE t FROM acct t RIGHT JOIN dim s ON t.id = s.id",
      "DELETE t FROM acct t CROSS JOIN dim s ON t.id = s.id",
      "DELETE t FROM acct t JOIN dim s ON t.id = s.id JOIN dim u ON u.id = s.id",
      "DELETE t FROM acct t, dim s WHERE t.id = s.id",
      "DELETE FROM acct FROM acct t JOIN dim s ON t.id = s.id",
      "DELETE other FROM acct t JOIN dim s ON t.id = s.id",
      "DELETE t FROM acct t JOIN dim s ON t.id = (SELECT max(id) FROM dim)",
      "DELETE t FROM acct t JOIN dim s ON t.id = s.id; DELETE FROM acct"))
      assert(graft.patterns.DeleteFromSqlCompiler
        .rewrite(spark, task(sql), frames).isEmpty, s"should decline: $sql")
    // single-table DELETE stays with DeleteSqlCompiler (regex disjoint)
    assert(graft.patterns.DeleteFromSqlCompiler.rewrite(spark,
      task("DELETE FROM acct WHERE id = 1"), frames).isEmpty)
    // the compiled plan is one anti join
    val plan = out.df.get.queryExecution.optimizedPlan.toString
    assert(plan.linesIterator.count(_.contains("Join ")) === 1 &&
      plan.contains("LeftAnti"), s"join-delete must be one anti join:\n$plan")
  }

  test("pre-ETL guard block: executes through the script executor; trips fail") {
    import spark.implicits._
    Seq((1L, 5.0), (2L, -3.0)).toDF("id", "v").createOrReplaceTempView("gb_dim")
    spark.emptyDataFrame.createOrReplaceTempView("gb_unused")
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("g", None, "conn", sql)
    var w = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    def run(sql: String) = {
      w = scala.collection.mutable.Map("gb_dim" -> spark.table("gb_dim"))
      graft.patterns.ScriptedSqlExecutor.executor(spark, written = w.get,
        bareName = identity, commit = (k, v) => w(k) = v)(task(sql))
    }
    // passing guard: success outcome, nothing written
    val ok = run(
      "DECLARE @A INT, @B INT;" +
        "SELECT @A = COUNT(*) FROM gb_dim WHERE v > 0;" +
        "SELECT @B = COUNT(*) FROM gb_dim;" +
        "IF @A = 0 OR @B = 0 RAISERROR('dims empty', 16, 1);")
    assert(ok.exists(o => o.df.isEmpty && o.target.isEmpty))
    // tripped severity-16 guard FAILS the task, message surfaced
    val err = intercept[IllegalArgumentException] {
      run("DECLARE @A INT;" +
        "SELECT @A = COUNT(*) FROM gb_dim WHERE v > 100;" +
        "IF @A = 0 RAISERROR('no big rows', 16, 1);")
    }
    assert(err.getMessage === "RAISERROR: no big rows (severity 16)")
    // severity <= 10 is informational in T-SQL: the guard passes
    assert(run("DECLARE @A INT;" +
      "SELECT @A = COUNT(*) FROM gb_dim WHERE v > 100;" +
      "IF @A = 0 RAISERROR('fyi only', 10, 1);").nonEmpty)
    // SQL NULL predicate = UNKNOWN, not TRUE: an unassigned variable
    // cannot trip the guard
    assert(run("DECLARE @A INT, @B INT;" +
      "SELECT @A = COUNT(*) FROM gb_dim;" +
      "IF @B > 0 RAISERROR('null fired', 16, 1);").nonEmpty)
    // an undeclared variable declines the whole task
    assert(run("DECLARE @A INT;" +
      "SELECT @A = COUNT(*) FROM gb_dim;" +
      "IF @Z = 0 RAISERROR('x', 16, 1);").isEmpty)
    // a foreign statement in the block is one more script statement:
    // the passing guard lets the DELETE commit, a tripped one aborts
    // the task before anything commits
    assert(run("DECLARE @A INT;" +
      "SELECT @A = COUNT(*) FROM gb_dim;" +
      "DELETE FROM gb_dim;" +
      "IF @A = 0 RAISERROR('x', 16, 1);").nonEmpty)
    assert(w("gb_dim").count() === 0L)
    intercept[IllegalArgumentException] {
      run("DECLARE @A INT;" +
        "SELECT @A = COUNT(*) FROM gb_dim WHERE v > 100;" +
        "DELETE FROM gb_dim WHERE id = 2;" +
        "IF @A = 0 RAISERROR('x', 16, 1);")
    }
    assert(w("gb_dim").count() === 2L, "a tripped guard commits nothing")
    // no guard, or no assign: plain scripts that run
    assert(run("DECLARE @A INT; SELECT @A = COUNT(*) FROM gb_dim;").nonEmpty)
    assert(run("IF 1 = 0 RAISERROR('x', 16, 1);").nonEmpty)
    // BEGIN ... END wrapper around the RAISERROR is equally canonical;
    // a ';' inside the block orphans the END into its own fragment
    assert(run("DECLARE @A INT;" +
      "SELECT @A = COUNT(*) FROM gb_dim;" +
      "IF @A = 0 BEGIN RAISERROR('x', 16, 1) END").nonEmpty)
    assert(run("DECLARE @A INT;" +
      "SELECT @A = COUNT(*) FROM gb_dim;" +
      "IF @A = 0 BEGIN RAISERROR('x', 16, 1); END").nonEmpty)
    // a DATE-valued guard variable binds as a DATE literal, so a
    // staleness guard actually FIRES (a toString splice evaluates the
    // date as integer arithmetic and the guard silently never trips)
    Seq(java.sql.Date.valueOf("2024-05-01")).toDF("d")
      .createOrReplaceTempView("gb_dates")
    val derr = intercept[IllegalArgumentException] {
      run("DECLARE @maxd DATE;" +
        "SELECT @maxd = MAX(d) FROM gb_dates;" +
        "IF @maxd < '2030-01-01' RAISERROR('stale feed', 16, 1);")
    }
    assert(derr.getMessage.contains("stale feed"))
    // chained assignment: a later SELECT @B = @A + 1 sees @A's value
    val chained = intercept[IllegalArgumentException] {
      run("DECLARE @A INT, @B INT;" +
        "SELECT @A = COUNT(*) FROM gb_dim;" +
        "SELECT @B = @A - 2;" +
        "IF @B = 0 RAISERROR('chained fired', 16, 1);")
    }
    assert(chained.getMessage.contains("chained fired"),
      "@A's value must substitute into @B's assignment (2 rows - 2 = 0)")
    // an undeclared @var inside an ASSIGN expression declines cleanly
    assert(run("DECLARE @A INT;" +
      "SELECT @A = @Missing + 1;" +
      "IF @A = 0 RAISERROR('x', 16, 1);").isEmpty)
    // the reference SalesFactETL block shape (three assigns, OR chain)
    Seq((1L, 1)).toDF("k", "IsCurrent").createOrReplaceTempView("gb_c")
    Seq((1L, 1)).toDF("k", "IsActive").createOrReplaceTempView("gb_p")
    Seq(Tuple1(1L)).toDF("k").createOrReplaceTempView("gb_d")
    assert(run(
      "DECLARE @CustomerCount INT, @ProductCount INT, @DateCount INT;\n" +
        "SELECT @CustomerCount = COUNT(*) FROM gb_c WHERE IsCurrent = 1;\n" +
        "SELECT @ProductCount = COUNT(*) FROM gb_p WHERE IsActive = 1;\n" +
        "SELECT @DateCount = COUNT(*) FROM gb_d;\n" +
        "IF @CustomerCount = 0 OR @ProductCount = 0 OR @DateCount = 0\n" +
        "    RAISERROR('Dimension tables are empty. Cannot proceed with " +
        "fact load.', 16, 1);").nonEmpty,
      "the reference guard-block shape must execute")
  }

  test("SelectIntoSqlCompiler: table creation; 2714 abort; off-shape stays None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq((1L, "a", 5.0), (2L, "b", 7.0)).toDF("id", "grp", "v")
      .createOrReplaceTempView("si_src")
    val existing = Seq((9L, 1.0)).toDF("id", "v")
    val frames = Map("already" -> existing)
    def resolve(frames: Map[String, org.apache.spark.sql.DataFrame])(n: String) =
      frames.getOrElse(n, sys.error(s"unknown table $n"))
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("si", None, "conn", sql)
    // canonical: the INTO clause excises, the SELECT runs, Overwrite
    val out = graft.patterns.SelectIntoSqlCompiler.rewrite(spark,
      task("SELECT grp, SUM(v) AS total INTO mart FROM si_src GROUP BY grp"),
      resolve(frames)).getOrElse(fail("canonical SELECT INTO did not compile"))
    assert(out.target.contains("mart"))
    assert(out.mode == org.apache.spark.sql.SaveMode.Overwrite)
    assert(out.df.get.orderBy("grp").as[(String, Double)].collect().toList
      === List(("a", 5.0), ("b", 7.0)))
    // a pre-existing target aborts loudly (T-SQL Msg 2714), never
    // silently overwrites
    assert(intercept[Exception] {
      graft.patterns.SelectIntoSqlCompiler.rewrite(spark,
        task("SELECT id INTO already FROM si_src"), resolve(frames))
    }.getMessage.contains("2714"))
    // an INTO inside a subquery belongs to the inner query — decline;
    // temp/table-variable targets and quoted identifiers decline
    for (sql <- Seq(
      "SELECT id FROM (SELECT id INTO x FROM si_src) s",
      "SELECT id INTO #tmp FROM si_src",
      "SELECT id INTO @tv FROM si_src",
      "SELECT id INTO [m].[t] FROM si_src",
      "INSERT INTO t SELECT id FROM si_src"))
      assert(graft.patterns.SelectIntoSqlCompiler
        .rewrite(spark, task(sql), resolve(frames)).isEmpty,
        s"should decline: $sql")
    // 'into' inside a string literal is data, not a clause
    assert(graft.patterns.SelectIntoSqlCompiler.rewrite(spark,
      task("SELECT id, 'walked into x' AS note FROM si_src"),
      resolve(frames)).isEmpty)
  }

  test("UpdateSqlCompiler: canonical single-table UPDATE; off-shape stays None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, 10.0, 100.0), (2L, 20.0, 200.0), (3L, -5.0, 300.0))
      .toDF("id", "bal", "lim")
    val frames = Map("acct" -> tgt)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("u", None, "conn", sql)
    // all SET expressions see the PRE-update row: a swap really swaps
    val swap = graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = lim, lim = bal WHERE bal > 0"), frames)
      .getOrElse(fail("canonical UPDATE did not compile"))
    assert(swap.target.contains("acct"))
    val rows = swap.df.get.orderBy(col("id"))
      .as[(Long, Double, Double)].collect().toList
    assert(rows === List((1L, 100.0, 10.0), (2L, 200.0, 20.0), (3L, -5.0, 300.0)))
    // no WHERE updates every row; function calls in SET parse
    val all = graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = round(bal * 2, 1)"), frames).get
    assert(all.df.get.select(sum(col("bal"))).as[Double].head() === 50.0)
    // a NULL predicate means NOT updated (SQL's WHERE-is-TRUE rule)
    val nullPred = graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = 0 WHERE CASE WHEN id = 1 THEN NULL ELSE true END"),
      frames).get
    assert(nullPred.df.get.filter(col("id") === 1L)
      .select(col("bal")).as[Double].head() === 10.0)
    // off-shape: FROM leg, subquery, bracketed identifier -> None
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = s.b FROM src s WHERE s.id = acct.id"),
      frames).isEmpty)
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = (SELECT max(b) FROM src)"), frames).isEmpty)
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET [bal] = 0"), frames).isEmpty)
    // a FROM inside a string literal is data, not a clause
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = 0 WHERE id = 1 AND 'from x' <> ''"),
      frames).nonEmpty)
    // misspelled / duplicated SET columns abort, never silently no-op
    assert(intercept[IllegalArgumentException] {
      graft.patterns.UpdateSqlCompiler.rewrite(spark,
        task("UPDATE acct SET ball = 0"), frames)
    }.getMessage.contains("ball"))
    assert(intercept[IllegalArgumentException] {
      graft.patterns.UpdateSqlCompiler.rewrite(spark,
        task("UPDATE acct SET bal = 0, BAL = 1"), frames)
    }.getMessage.contains("more than once"))
    // ' where ' inside a string literal is DATA — the statement is a
    // no-WHERE update, not a truncated SET list (quote-masked scan)
    val lit = Seq((1L, "x")).toDF("id", "note")
    val litOut = graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE n SET note = 'applies where stated'"),
      Map("n" -> lit)).getOrElse(fail("literal-where UPDATE did not compile"))
    assert(litOut.df.get.select(col("note")).as[String].head()
      === "applies where stated")
    // a trailing script statement must DECLINE (the script executor
    // owns multi-statement text), never be swallowed into the SET list
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = 1; INSERT INTO acct (id) VALUES (9)"),
      frames).isEmpty)
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE acct SET bal = 1; UPDATE acct SET lim = 2"),
      frames).isEmpty)
    // but a ';' inside a literal is still just data
    assert(graft.patterns.UpdateSqlCompiler.rewrite(spark,
      task("UPDATE n SET note = 'a;b'"), Map("n" -> lit)).nonEmpty)
  }

  test("DeleteSqlCompiler: canonical DELETE; refresh statements stay None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val frames = Map("t" -> tgt)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("d", None, "conn", sql)
    val del = graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("DELETE FROM t WHERE id >= 2"), frames)
      .getOrElse(fail("canonical DELETE did not compile"))
    assert(del.target.contains("t"))
    assert(del.df.get.as[(Long, String)].collect().toList === List((1L, "a")))
    // NULL predicate keeps the row (WHERE-is-TRUE deletes)
    val np = graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("DELETE FROM t WHERE CASE WHEN id = 1 THEN NULL ELSE true END"),
      frames).get
    assert(np.df.get.select(col("id")).as[Long].collect().toList === List(1L))
    // bare DELETE empties but keeps schema
    val bare = graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("DELETE FROM t"), frames).get
    assert(bare.df.get.count() === 0 &&
      bare.df.get.columns.toSeq === Seq("id", "v"))
    // the DELETE+INSERT refresh statement must NOT half-execute here —
    // it belongs to SqlPatternRewriter's overwrite rewrite
    assert(graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("DELETE FROM t WHERE id > 0; INSERT INTO t SELECT * FROM s"),
      frames).isEmpty)
    assert(graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("DELETE FROM t; INSERT INTO t SELECT * FROM s"), frames).isEmpty)
    // subquery predicates stay manual review
    assert(graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("DELETE FROM t WHERE id IN (SELECT id FROM s)"), frames).isEmpty)
    // standalone TRUNCATE compiles to the empty overwrite; the
    // TRUNCATE+INSERT reload stays with SqlPatternRewriter
    val tr = graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("TRUNCATE TABLE t"), frames).get
    assert(tr.df.get.count() === 0 && tr.target.contains("t"))
    assert(graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("TRUNCATE TABLE t; INSERT INTO t SELECT * FROM s"), frames).isEmpty)
    // a semicolon glued to the table name (the common SSIS form) must
    // not be eaten into the target token
    val glued = graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("DELETE FROM t;"), frames).get
    assert(glued.target.contains("t") && glued.df.get.count() === 0)
    assert(graft.patterns.DeleteSqlCompiler.rewrite(spark,
      task("TRUNCATE TABLE t;"), frames).get.target.contains("t"))
  }

  test("InsertValuesSqlCompiler: literal VALUES inserts; off-shape stays None") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tgt = Seq(("a", 1L, 0.5)).toDF("name", "n", "score")
    val frames = Map("log" -> tgt)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("v", None, "conn", sql)
    // named columns: casts to target types, absent column -> typed NULL,
    // function calls and a paren/comma inside a literal all parse
    val out = graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
      task("INSERT INTO log (name, n) VALUES (upper('x(,)y'), 2), ('z', 3)"),
      frames).getOrElse(fail("canonical VALUES insert did not compile"))
    assert(out.target.contains("log") &&
      out.mode === org.apache.spark.sql.SaveMode.Append)
    val rows = out.df.get.orderBy(col("n"))
      .as[(String, Long, Option[Double])].collect().toList
    assert(rows === List(("X(,)Y", 2L, None), ("z", 3L, None)))
    // names + types align to the target (nullability may tighten/loosen;
    // unionByName reconciles that on append)
    assert(out.df.get.schema.map(f => (f.name, f.dataType)) ===
      tgt.schema.map(f => (f.name, f.dataType)))
    // no column list: positional alignment + casts
    val pos = graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
      task("INSERT INTO log VALUES ('w', 9, 1.5)"), frames).get
    assert(pos.df.get.as[(String, Long, Double)].head() === (("w", 9L, 1.5)))
    // GETDATE() translates to current_timestamp (the T-SQL surface) —
    // but NOT inside a string literal, where it is data
    val gd = graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
      task("INSERT INTO gdlog (at) VALUES (GETDATE())"), Map.empty)
    assert(gd.nonEmpty && !gd.get.df.get.head().isNullAt(0))
    val gdLit = graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
      task("INSERT INTO gdlog (note) VALUES ('refresh via GETDATE() nightly')"),
      Map.empty).get
    assert(gdLit.df.get.as[String].head() === "refresh via GETDATE() nightly")
    // bootstrap without a column list aborts; with one it creates
    assert(intercept[IllegalArgumentException] {
      graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
        task("INSERT INTO fresh VALUES (1)"), Map.empty)
    }.getMessage.contains("column list"))
    // INSERT...SELECT stays with the rewriter; subqueries decline
    assert(graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
      task("INSERT INTO log SELECT * FROM src"), frames).isEmpty)
    assert(graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
      task("INSERT INTO log (name, n) VALUES ((SELECT max(n) FROM log), 1)"),
      frames).isEmpty)
    // unknown / duplicated columns and arity mismatches abort loudly
    assert(intercept[IllegalArgumentException] {
      graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
        task("INSERT INTO log (nam) VALUES ('x')"), frames)
    }.getMessage.contains("nam"))
    assert(intercept[IllegalArgumentException] {
      graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
        task("INSERT INTO log (name, NAME) VALUES ('x', 'y')"), frames)
    }.getMessage.contains("more than once"))
    assert(intercept[IllegalArgumentException] {
      graft.patterns.InsertValuesSqlCompiler.rewrite(spark,
        task("INSERT INTO log (name, n) VALUES ('x')"), frames)
    }.getMessage.contains("arity"))
  }

  test("ScriptedSqlExecutor: shape routing, sequencing, and no half-runs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    // refresh shape keeps the rewriter's whole-table-OVERWRITE contract:
    // the delete predicate does NOT filter the recomputed rows
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "t" -> Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v"))
    Seq((1L, 7.0), (2L, 70.0)).toDF("id", "v").createOrReplaceTempView("src_r")
    val refresh = mkExec(w1)(task(
      "DELETE FROM t WHERE v < 10; INSERT INTO t SELECT id, v FROM src_r"))
      .getOrElse(fail("refresh script did not compile"))
    assert(refresh.target.contains("t"))
    assert(refresh.df.get.as[(Long, Double)].collect().toSet
      === Set((1L, 7.0), (2L, 70.0)))
    // a NON-refresh script (DELETE AFTER the insert) runs SEQUENTIALLY:
    // the delete applies to post-insert state — the class the order-blind
    // whole-statement rewriter used to mangle into a bare overwrite
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v").createOrReplaceTempView("src_s")
    val seqOut = mkExec(w2)(task(
      "INSERT INTO m SELECT id, v FROM src_s; DELETE FROM m WHERE v < 10"))
    assert(seqOut.nonEmpty, "sequential script did not compile")
    assert(w2("m").as[(Long, Double)].collect().toList === List((2L, 50.0)))
    // a script with an unconvertible tail must NOT half-execute: no
    // commit, no outcome — manual review owns it
    val w3 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w3)(task(
      "INSERT INTO m2 SELECT id, v FROM src_s; EXEC sp_refresh")).isEmpty)
    assert(w3.isEmpty, "half-executed script committed state")
    // T-SQL transaction dressing strips away — the overlay IS the
    // transaction; the batch still runs sequentially all-or-nothing
    val w4 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    val txn = mkExec(w4)(task(
      "SET NOCOUNT ON; BEGIN TRANSACTION; " +
        "INSERT INTO mt SELECT id, v FROM src_s; " +
        "DELETE FROM mt WHERE v < 10; COMMIT;"))
    assert(txn.nonEmpty, "transaction-wrapped script did not compile")
    assert(w4("mt").as[(Long, Double)].collect().toList === List((2L, 50.0)))
    // BEGIN TRAN fused onto the next statement by a missing ';' loses
    // just the prefix
    val w5 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "acct5" -> Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v"))
    val fused = mkExec(w5)(task(
      "BEGIN TRAN UPDATE acct5 SET v = 0 WHERE id = 1; COMMIT"))
    assert(fused.nonEmpty, "fused BEGIN TRAN prefix did not strip")
    assert(w5.nonEmpty || fused.get.df.nonEmpty)
    assert(fused.get.df.get.orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 0.0), (2L, 50.0)))
    // ROLLBACK anywhere is control flow: the WHOLE task declines
    assert(mkExec(w4)(task(
      "BEGIN TRAN; UPDATE mt SET v = 1; " +
        "IF @@ERROR <> 0 ROLLBACK; COMMIT")).isEmpty)
    // ...but 'rollback' inside a string literal is data, not control
    val w6 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "n6" -> Seq((1L, "x")).toDF("id", "note"))
    assert(mkExec(w6)(task(
      "UPDATE n6 SET note = 'rollback plan attached'")).nonEmpty)
    // a script of ONLY wrapper statements is vacuous success, no writes
    val w7 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    val noop = mkExec(w7)(task("SET NOCOUNT ON; BEGIN TRAN; COMMIT;"))
    assert(noop.exists(o => o.df.isEmpty && o.target.isEmpty))
    assert(w7.isEmpty)
    // GO batch separators split like ';' (SSMS authoring): the
    // INSERT→DELETE batch still runs sequentially
    val w8 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    val goOut = mkExec(w8)(task(
      "INSERT INTO mg SELECT id, v FROM src_s\nGO\nDELETE FROM mg WHERE v < 10\nGO"))
    assert(goOut.nonEmpty, "GO-separated script did not compile")
    assert(w8("mg").as[(Long, Double)].collect().toList === List((2L, 50.0)))
    // a lone 'go' line INSIDE a multi-line string literal is data
    val w9 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "n9" -> Seq((1L, "x")).toDF("id", "note"))
    val litGo = mkExec(w9)(task("UPDATE n9 SET note = 'now\ngo\nlater'"))
    assert(litGo.nonEmpty, "literal containing a go line split the statement")
    assert(litGo.get.df.get.select(col("note")).as[String].head()
      === "now\ngo\nlater")
  }

  test("ScriptedSqlExecutor: #temp tables live for exactly one script") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    Seq((1L, 5.0), (2L, 50.0), (3L, 500.0)).toDF("id", "v")
      .createOrReplaceTempView("src_tt")
    // SELECT INTO #t stages, the mart built FROM the temp commits, the
    // temp itself never commits and leaves no session view behind
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    val out1 = mkExec(w1)(task(
      "SELECT id, v INTO #big FROM src_tt WHERE v >= 50; " +
        "SELECT id, v * 2 AS v2 INTO mart_tt FROM #big; " +
        "DROP TABLE #big"))
    assert(out1.nonEmpty, "temp-table script did not compile")
    assert(w1.keySet === Set("mart_tt"), s"temp leaked into commits: ${w1.keySet}")
    assert(w1("mart_tt").orderBy("id").as[(Long, Double)].collect().toList
      === List((2L, 100.0), (3L, 1000.0)))
    assert(!spark.catalog.tableExists("graft_tmp_big"),
      "temp view outlived its script")
    // temp names are case-insensitive (#Big and #BIG are one table) and
    // the DROP is optional — scope exit frees it either way
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w2)(task(
      "SELECT id INTO #Keys FROM src_tt; " +
        "SELECT COUNT(*) AS n INTO mart_k FROM #KEYS")).nonEmpty)
    assert(w2.keySet === Set("mart_k") && w2("mart_k").as[Long].head() === 3L)
    assert(!spark.catalog.tableExists("graft_tmp_keys"))
    // re-creating a LIVE temp aborts (T-SQL 2714), nothing commits
    val w3 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    val e3 = intercept[IllegalArgumentException] {
      mkExec(w3)(task(
        "SELECT id INTO #d FROM src_tt; SELECT id INTO #d FROM src_tt"))
    }
    assert(e3.getMessage.contains("2714"))
    assert(w3.isEmpty && !spark.catalog.tableExists("graft_tmp_d"))
    // ...but DROP frees the name for re-creation
    val w4 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w4)(task(
      "SELECT id INTO #r FROM src_tt; DROP TABLE #r; " +
        "SELECT id INTO #r FROM src_tt WHERE v >= 50; " +
        "SELECT COUNT(*) AS n INTO mart_r FROM #r")).nonEmpty)
    assert(w4("mart_r").as[Long].head() === 2L)
    // plain DROP of a never-created temp errors (3701); IF EXISTS is a no-op
    assert(intercept[IllegalArgumentException] {
      mkExec(scala.collection.mutable.Map.empty)(task(
        "SELECT id INTO #a FROM src_tt; DROP TABLE #ghost"))
    }.getMessage.contains("3701"))
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "SELECT id INTO #a FROM src_tt; DROP TABLE IF EXISTS #ghost; " +
        "SELECT COUNT(*) AS n INTO mart_g FROM #a")).nonEmpty)
    // CREATE TABLE #t (cols) compiles the T-SQL DDL to a schema-true
    // empty frame; INSERT VALUES then loads it
    val w5 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w5)(task(
      "CREATE TABLE #stage (k INT, nm NVARCHAR(50), amt DECIMAL(12,2)); " +
        "INSERT INTO #stage (k, nm, amt) VALUES (1, 'a', 10.50), (2, 'b', 20.25); " +
        "SELECT k, nm, amt INTO mart_c FROM #stage")).nonEmpty)
    val mc = w5("mart_c")
    assert(mc.schema("k").dataType.typeName === "integer")
    assert(mc.schema("amt").dataType.typeName === "decimal(12,2)")
    assert(mc.count() === 2L)
    // DDL with constraints / unmapped types declines the whole script
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "CREATE TABLE #p (k INT PRIMARY KEY); " +
        "SELECT COUNT(*) AS n INTO mart_p FROM #p")).isEmpty)
    // ##global temps are cross-session state: decline
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "SELECT id INTO ##g FROM src_tt; SELECT id INTO mart_gg FROM ##g")).isEmpty)
    // a #temp OUTSIDE a script (single statement) declines — temp state
    // never crosses task boundaries
    assert(mkExec(scala.collection.mutable.Map.empty)(
      task("SELECT id INTO #solo FROM src_tt")).isEmpty)
    // '#' inside a string literal is data, not a temp reference
    val w6 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "n7" -> Seq((1L, "x")).toDF("id", "note"))
    val lit6 = mkExec(w6)(task(
      "UPDATE n7 SET note = 'see #backlog item'; DELETE FROM n7 WHERE id < 0"))
    assert(lit6.nonEmpty, "literal '#' was treated as a temp reference")
    assert(w6("n7").select("note").as[String].head() === "see #backlog item")
  }

  test("ScriptedSqlExecutor: @@ROWCOUNT substitutes the prior statement's fact") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    // UPDATE → log: the logged number is the rows the predicate matched
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "acct_rc" -> Seq((1L, 5.0), (2L, 50.0), (3L, 500.0)).toDF("id", "v"))
    assert(mkExec(w1)(task(
      "UPDATE acct_rc SET v = 0 WHERE v >= 50; " +
        "INSERT INTO audit_rc (task_name, n) VALUES ('upd', @@ROWCOUNT)")).nonEmpty)
    assert(w1("audit_rc").as[(String, Int)].head() === ("upd", 2))
    // DELETE → log: the deleted-row count
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "acct_rc2" -> Seq((1L, 5.0), (2L, 50.0), (3L, 500.0)).toDF("id", "v"))
    assert(mkExec(w2)(task(
      "DELETE FROM acct_rc2 WHERE v < 50; " +
        "INSERT INTO audit_rc2 (task_name, n) VALUES ('del', @@ROWCOUNT)")).nonEmpty)
    assert(w2("audit_rc2").as[(String, Int)].head() === ("del", 1))
    assert(w2("acct_rc2").count() === 2L)
    // INSERT…VALUES → log: the literal row count, no action needed
    val w3 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w3)(task(
      "INSERT INTO seed_rc (k) VALUES (1), (2), (3); " +
        "INSERT INTO audit_rc3 (task_name, n) VALUES ('ins', @@ROWCOUNT)")).nonEmpty)
    assert(w3("audit_rc3").as[(String, Int)].head() === ("ins", 3))
    // a read with NO countable predecessor declines (script start)
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "INSERT INTO a_rc (k, n) VALUES (1, @@ROWCOUNT); DELETE FROM a_rc")).isEmpty)
    // every other @@var is unproducible state: decline
    val w5 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "acct_rc5" -> Seq((1L, 5.0)).toDF("id", "v"))
    assert(mkExec(w5)(task(
      "UPDATE acct_rc5 SET v = 0; " +
        "INSERT INTO a5 (k, n) VALUES (1, @@IDENTITY)")).isEmpty)
    assert(w5("acct_rc5").as[(Long, Double)].head()._2 === 5.0,
      "declined script committed state")
    // '@@ROWCOUNT' inside a string literal is data, not a read
    val w6 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "n_rc" -> Seq((1L, "x")).toDF("id", "note"))
    assert(mkExec(w6)(task(
      "UPDATE n_rc SET note = 'logs @@ROWCOUNT verbatim'; " +
        "DELETE FROM n_rc WHERE id < 0")).nonEmpty)
    assert(w6("n_rc").select("note").as[String].head()
      === "logs @@ROWCOUNT verbatim")
    // two reads in ONE statement see one consistent number
    val w7 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "acct_rc7" -> Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v"))
    assert(mkExec(w7)(task(
      "UPDATE acct_rc7 SET v = 0 WHERE v >= 5; " +
        "INSERT INTO a7 (a, b) VALUES (@@ROWCOUNT, @@ROWCOUNT)")).nonEmpty)
    assert(w7("a7").as[(Int, Int)].head() === ((2, 2)))
  }

  test("WhileLoopSqlCompiler: counter loops unroll, data-dependent loops decline") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    // counter loop: body emits once per iteration with @i bound
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w1)(task(
      "DECLARE @i INT = 1; WHILE @i <= 3 BEGIN " +
        "INSERT INTO loop_t (k, v) VALUES (@i, @i * 10); " +
        "SET @i = @i + 1; END")).nonEmpty)
    assert(w1("loop_t").orderBy("k").as[(Int, Int)].collect().toList
      === List((1, 10), (2, 20), (3, 30)))
    // predicate false at entry: vacuous success, nothing written
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    val skip = mkExec(w2)(task(
      "DECLARE @i INT = 9; WHILE @i < 3 BEGIN " +
        "INSERT INTO loop_s (k) VALUES (@i); SET @i = @i + 1; END"))
    assert(skip.exists(o => o.df.isEmpty && o.target.isEmpty) && w2.isEmpty)
    // the loop composes with @@ROWCOUNT inside its body
    val w3 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w3)(task(
      "DECLARE @i INT = 1; WHILE @i <= 2 BEGIN " +
        "INSERT INTO batch_t (k) VALUES (@i), (@i); " +
        "INSERT INTO audit_wl (it, n) VALUES (@i, @@ROWCOUNT); " +
        "SET @i = @i + 1; END")).nonEmpty)
    assert(w3("audit_wl").orderBy("it").as[(Int, Int)].collect().toList
      === List((1, 2), (2, 2)))
    // declines, all-or-nothing: data-dependent predicate (FROM/EXISTS),
    // @@ROWCOUNT in control, undeclared vars, missing SET, nested BEGIN,
    // over-cap loops
    def declines(sql: String, clue: String): Unit =
      assert(mkExec(scala.collection.mutable.Map.empty)(task(sql)).isEmpty, clue)
    declines("DECLARE @i INT = 1; WHILE @i <= (SELECT COUNT(*) FROM loop_t) " +
      "BEGIN INSERT INTO t1 (k) VALUES (@i); SET @i = @i + 1; END",
      "data-dependent predicate must decline")
    declines("DECLARE @i INT = 1; WHILE @@ROWCOUNT > 0 " +
      "BEGIN INSERT INTO t2 (k) VALUES (@i); SET @i = @i + 1; END",
      "@@ROWCOUNT-driven loop must decline")
    declines("DECLARE @i INT = 1; WHILE @i <= 2 " +
      "BEGIN INSERT INTO t3 (k) VALUES (@j); SET @i = @i + 1; END",
      "undeclared body variable must decline")
    declines("DECLARE @i INT = 1; WHILE @i <= 2 " +
      "BEGIN INSERT INTO t4 (k) VALUES (@i); END",
      "a body with no SET never terminates — decline")
    declines("DECLARE @i INT = 1; WHILE @i <= 2 BEGIN " +
      "WHILE @i <= 1 BEGIN SET @i = @i + 1; END " +
      "INSERT INTO t5 (k) VALUES (@i); SET @i = @i + 1; END",
      "nested control flow must decline")
    declines("DECLARE @i INT = 1; WHILE @i <= 100000 " +
      "BEGIN INSERT INTO t6 (k) VALUES (@i); SET @i = @i + 1; END",
      "an over-cap loop declines instead of exploding the plan")
    // 'WHILE' / 'BEGIN' inside a string literal is data, not a loop
    val w4 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "n_wl" -> Seq((1L, "x")).toDF("id", "note"))
    val lit4 = mkExec(w4)(task(
      "UPDATE n_wl SET note = 'while begin end loop'"))
    assert(lit4.nonEmpty, "literal WHILE/BEGIN was parsed as a loop")
    assert(lit4.get.df.get.select("note").as[String].head()
      === "while begin end loop")
    // a DATE-valued loop variable binds as a DATE literal — the
    // watermark-walk idiom (SET @d = DATE_ADD(@d, 7)); a toString
    // splice would evaluate `2024-01-08` as integer subtraction and
    // silently under-iterate
    val w5 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w5)(task(
      "DECLARE @d DATE = DATE '2024-01-01'; WHILE @d <= '2024-01-22' BEGIN " +
        "INSERT INTO wk_wl (d) VALUES (@d); " +
        "SET @d = DATE_ADD(@d, 7); END")).nonEmpty)
    assert(w5("wk_wl").orderBy("d").as[java.sql.Date].collect().toList
      .map(_.toString) ===
      List("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22"))
  }

  test("IF EXISTS: the probe decides, untaken branches stay ownable") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v").createOrReplaceTempView("src_ie")
    // THEN branch fires; the outcome is the taken branch's
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "flags_ie" -> Seq(("a", 0)).toDF("k", "n"))
    val t1 = mkExec(w1)(task(
      "IF EXISTS (SELECT 1 FROM src_ie WHERE v > 10) " +
        "UPDATE flags_ie SET n = 1 WHERE k = 'a' " +
        "ELSE UPDATE flags_ie SET n = 2 WHERE k = 'a'"))
    assert(t1.nonEmpty && t1.get.df.get.as[(String, Int)].head() === ("a", 1))
    // ELSE branch fires (BEGIN/END dressing strips)
    val t2 = mkExec(w1)(task(
      "IF EXISTS (SELECT 1 FROM src_ie WHERE v > 9999) " +
        "BEGIN UPDATE flags_ie SET n = 1 WHERE k = 'a' END " +
        "ELSE BEGIN UPDATE flags_ie SET n = 2 WHERE k = 'a' END"))
    assert(t2.nonEmpty && t2.get.df.get.as[(String, Int)].head() === ("a", 2))
    // NOT EXISTS negates; no ELSE + untaken = vacuous success
    val t3 = mkExec(w1)(task(
      "IF NOT EXISTS (SELECT 1 FROM src_ie) " +
        "UPDATE flags_ie SET n = 9 WHERE k = 'a'"))
    assert(t3.exists(o => o.df.isEmpty && o.target.isEmpty))
    // an IF EXISTS inside a SCRIPT composes with the overlay
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w2)(task(
      "INSERT INTO ctl_ie (k) VALUES (1); " +
        "IF EXISTS (SELECT 1 FROM ctl_ie) " +
        "INSERT INTO ctl_ie (k) VALUES (2) " +
        "ELSE INSERT INTO ctl_ie (k) VALUES (3)")).nonEmpty)
    assert(w2("ctl_ie").orderBy("k").as[Int].collect().toList === List(1, 2))
    // declines: an untaken branch that is NOT an ownable statement
    // (EXEC), multi-statement branches, nested IF, a non-SELECT probe
    def declines(sql: String, clue: String): Unit =
      assert(mkExec(scala.collection.mutable.Map.empty)(task(sql)).isEmpty, clue)
    declines("IF EXISTS (SELECT 1 FROM src_ie) " +
      "UPDATE flags_ie SET n = 1 ELSE EXEC sp_fix",
      "unownable untaken branch must decline the WHOLE task")
    declines("IF EXISTS (SELECT 1 FROM src_ie) " +
      "IF EXISTS (SELECT 1 FROM src_ie) UPDATE flags_ie SET n = 1",
      "nested IF must decline")
    // 'ELSE' inside a string literal is not a branch split
    val w3 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "n_ie" -> Seq((1L, "x")).toDF("id", "note"))
    val lit3 = mkExec(w3)(task(
      "IF EXISTS (SELECT 1 FROM src_ie) " +
        "UPDATE n_ie SET note = 'this else that'"))
    assert(lit3.nonEmpty &&
      lit3.get.df.get.select("note").as[String].head() === "this else that")
    // MULTI-statement BEGIN/END branches route through the overlay:
    // clear + reload + flip, all-or-nothing, @@ROWCOUNT composing
    // probes read REGISTERED VIEWS (the runner's bind contract) — the
    // scaffold registers every referenced warehouse table before a task
    Seq(("full", 0)).toDF("mode", "z").createOrReplaceTempView("ctrl_ie")
    val w4 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "ctrl_ie" -> spark.table("ctrl_ie"),
      "mart_ie" -> Seq((9L, "stale")).toDF("k", "tag"))
    assert(mkExec(w4)(task(
      "IF EXISTS (SELECT 1 FROM ctrl_ie WHERE mode = 'full') BEGIN " +
        "DELETE FROM mart_ie; " +
        "INSERT INTO mart_ie SELECT id AS k, 'fresh' AS tag FROM src_ie; " +
        "INSERT INTO log_ie (n) VALUES (@@ROWCOUNT); END " +
        "ELSE BEGIN INSERT INTO log_ie (n) VALUES (-1); END")).nonEmpty)
    assert(w4("mart_ie").filter(col("tag") === "stale").count() === 0L)
    assert(w4("mart_ie").count() === 2L)
    assert(w4("log_ie").as[Int].head() === 2,
      "@@ROWCOUNT did not compose inside the taken branch")
    // a half-ownable multi-branch still declines whole (EXEC tail)
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "IF EXISTS (SELECT 1 FROM src_ie) BEGIN " +
        "INSERT INTO m_ie (k) VALUES (1); EXEC sp_x; END " +
        "ELSE BEGIN INSERT INTO m_ie (k) VALUES (2); END")).isEmpty)
  }

  test("ScriptedSqlExecutor: TRY/CATCH keeps pre-failure state, binds ERROR_MESSAGE") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v").createOrReplaceTempView("src_tc")
    // an eager abort (arity mismatch) is CAUGHT: the pre-failure INSERT
    // stays, the catch logs the message
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    val t1 = mkExec(w1)(task(
      "BEGIN TRY " +
        "INSERT INTO stage_tcs (k) VALUES (1), (2); " +
        "INSERT INTO stage_tcs (k, extra) VALUES (3); " +
        "END TRY BEGIN CATCH " +
        "INSERT INTO errlog_tcs (src, msg) VALUES ('t1', ERROR_MESSAGE()); " +
        "END CATCH"))
    assert(t1.nonEmpty, "caught TRY/CATCH did not compile")
    assert(w1("stage_tcs").as[Int].collect().toSet === Set(1, 2),
      "pre-failure staged rows were lost")
    val logged = w1("errlog_tcs").as[(String, String)].head()
    assert(logged._1 === "t1" && logged._2.contains("arity"),
      s"ERROR_MESSAGE did not bind: $logged")
    // a succeeding TRY never runs its CATCH
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w2)(task(
      "BEGIN TRY INSERT INTO ok_tcs (k) VALUES (9); END TRY " +
        "BEGIN CATCH INSERT INTO errlog_tcs2 (m) VALUES ('no'); END CATCH")).nonEmpty)
    assert(w2.keySet === Set("ok_tcs"), s"catch ran on success: ${w2.keySet}")
    // an UNCONVERTIBLE try statement is not an error — manual review
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "BEGIN TRY EXEC sp_x; END TRY " +
        "BEGIN CATCH INSERT INTO e (m) VALUES ('x'); END CATCH")).isEmpty)
    // a CATCH-LEADING bare ROLLBACK is owned since r13 (the
    // all-or-nothing idiom; the dedicated spec covers the discard
    // path) — but ONLY when the TRY's transaction brackets every TRY
    // effect (leads with BEGIN TRAN): on a SUCCESSFUL try the catch
    // never runs and the insert commits
    val wRb = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(wRb)(task(
      "BEGIN TRY BEGIN TRAN; INSERT INTO t (k) VALUES (1); COMMIT; " +
        "END TRY BEGIN CATCH ROLLBACK; END CATCH")).nonEmpty)
    assert(wRb.keySet === Set("t"))
    // without a leading BEGIN TRAN the same shape declines: in T-SQL
    // the CATCH's ROLLBACK would raise 3903 and the TRY's effects
    // would persist — not the all-or-nothing this replay implements
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "BEGIN TRY INSERT INTO t (k) VALUES (1); END TRY " +
        "BEGIN CATCH ROLLBACK; END CATCH")).isEmpty)
    // an empty CATCH swallows the error (T-SQL) — vacuous success with
    // pre-failure state kept
    val w3 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w3)(task(
      "BEGIN TRY " +
        "INSERT INTO s3_tcs (k) VALUES (7); " +
        "INSERT INTO s3_tcs (k, nope) VALUES (8); " +
        "END TRY BEGIN CATCH END CATCH")).nonEmpty)
    assert(w3("s3_tcs").as[Int].collect().toList === List(7))
  }

  test("ScriptedSqlExecutor: TRY/CATCH catches the LAZY 8672 multi-match guard") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    // the 8672 guard is a raise_error COLUMN that fires at
    // materialization — with a CATCH present the script forces each
    // statement's frame, so the abort surfaces AT the MERGE (T-SQL
    // point of failure), the MERGE stages nothing, and the catch binds
    // its message
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "dim8_tc" -> Seq((1L, 10.0)).toDF("id", "bal"),
      "feed8_tc" -> Seq((1L, 20.0), (1L, 30.0)).toDF("id", "bal"))
    val t = mkExec(w)(task(
      "BEGIN TRY " +
        "MERGE INTO dim8_tc AS t USING feed8_tc AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.bal); " +
        "END TRY BEGIN CATCH " +
        "INSERT INTO errlog8_tc (msg) VALUES (ERROR_MESSAGE()); " +
        "END CATCH"))
    assert(t.nonEmpty, "lazy-guard TRY/CATCH did not compile")
    val msg = w("errlog8_tc").as[String].head()
    assert(msg.contains("8672"), s"catch did not bind the 8672 text: $msg")
    assert(w("dim8_tc").as[(Long, Double)].collect().toList === List((1L, 10.0)),
      "the failing MERGE must stage nothing")
  }

  test("ScriptedSqlExecutor: DECLARE casts to the declared type; unmapped declines") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    // T-SQL casts at assignment: a DATETIME initialized from a string
    // literal holds a timestamp and binds as TIMESTAMP downstream
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w1)(task(
      "DECLARE @wm DATETIME = '2020-01-05'; " +
        "INSERT INTO wmlog_dt (wm) VALUES (@wm)")).nonEmpty)
    assert(w1("wmlog_dt").schema.head.dataType ===
      org.apache.spark.sql.types.TimestampType,
      "DATETIME variable must bind as a TIMESTAMP literal")
    // a DATE variable assigned from a query binds as DATE — the
    // comparison below is date arithmetic, not integer subtraction
    Seq(java.sql.Date.valueOf("2024-03-01"), java.sql.Date.valueOf("2024-05-01"))
      .toDF("d").createOrReplaceTempView("ddecl_src")
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(w2)(task(
      "DECLARE @maxd DATE; " +
        "SELECT @maxd = MAX(d) FROM ddecl_src; " +
        "INSERT INTO dlog_dt (d, fresh) VALUES (@maxd, " +
        "CASE WHEN @maxd > '2024-04-01' THEN 1 ELSE 0 END)")).nonEmpty)
    assert(w2("dlog_dt").as[(java.sql.Date, Int)].head() ===
      (java.sql.Date.valueOf("2024-05-01"), 1))
    // TABLE variables are OWNED since r13 (reduced to the temp
    // overlay — the dedicated spec covers them); an unused one is
    // simply an empty staging that never commits
    val wTv = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    assert(mkExec(wTv)(task(
      "DECLARE @t TABLE (id INT); " +
        "INSERT INTO x_dt (k) VALUES (1)")).nonEmpty)
    assert(wTv.keySet === Set("x_dt"))
    // genuinely unmapped scalar types still decline the whole script
    assert(mkExec(scala.collection.mutable.Map.empty)(task(
      "DECLARE @v SQL_VARIANT; " +
        "INSERT INTO x_dt (k) VALUES (1)")).isEmpty)
  }

  test("ScriptedSqlExecutor: a single-statement batch with trailing GO compiles") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    // GO removal is a REWRITE: the chain must compile the split
    // statement, not the original text whose trailing GO fails the
    // compilers' anchored shapes
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "go1_t" -> Seq((1L, 0), (2L, 0)).toDF("id", "v"))
    val t = mkExec(w)(task("UPDATE go1_t SET v = 7 WHERE id = 1\nGO"))
    assert(t.nonEmpty, "single statement + GO must compile")
    // single statements return the outcome for the RUNNER to commit
    assert(t.get.target === Some("go1_t"))
    assert(t.get.df.get.orderBy("id").as[(Long, Int)].collect().toList
      === List((1L, 7), (2L, 0)))
  }

  test("ExecLiteralSqlCompiler: literal dynamic SQL unwraps, params decline") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    // sp_executesql around an UPDATE with '' escapes unwraps and runs
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "acct_dx" -> Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val t1 = mkExec(w1)(task(
      "EXEC sp_executesql N'UPDATE acct_dx SET tag = ''it''''s'' WHERE id = 1'"))
    assert(t1.nonEmpty, "literal sp_executesql did not unwrap")
    assert(t1.get.df.get.orderBy("id").as[(Long, String)].collect().toList
      === List((1L, "it's"), (2L, "b")))
    // EXEC('...') form too
    val t2 = mkExec(w1)(task("EXEC('UPDATE acct_dx SET tag = ''z'' WHERE id = 2')"))
    assert(t2.nonEmpty && t2.get.df.get.filter(col("id") === 2)
      .select("tag").as[String].head() === "z")
    // declines: non-literal params (literal @p lists are owned since
    // r14 — the dedicated sp_executesql spec), concatenation, bare
    // procedures, EXEC towers
    def declines(sql: String, clue: String): Unit =
      assert(mkExec(scala.collection.mutable.Map.empty)(task(sql)).isEmpty, clue)
    declines("EXEC sp_executesql N'UPDATE t SET v = @v', N'@v INT', " +
      "@v = GETDATE()",
      "an expression argument is truly dynamic — decline")
    declines("EXEC('UPDATE ' + @tbl + ' SET v = 1')",
      "concatenated fragments must decline")
    declines("EXEC sp_load_warehouse", "a real procedure has an unseen body")
    declines("EXEC sp_executesql N'EXEC(''SELECT 1'')'",
      "EXEC towers must decline")
  }

  test("q89 rerun purity: a second run in the same session rebuilds from scratch") {
    // run-1's temp views must not leak into run-2's spark.table fallback
    // (a bootstrap INSERT would silently become an append onto run-1's
    // rows — observed before the bind/overlay view cleanup)
    val a = QueriesRelational.q89_dtsx_values_log(spark, "/root/testdata/sf0.001")
      .count()
    val b = QueriesRelational.q89_dtsx_values_log(spark, "/root/testdata/sf0.001")
      .count()
    assert(a === 3L && b === 3L, s"rerun drifted: $a then $b rows")
  }

  test("CdcCustomerMergeETL: runner classifies MERGE task merge_scd end-to-end") {
    val q80 = QueriesRelational.q80_dtsx_cdc_merge(spark, "/root/testdata/sf0.001")
    // semantics replayed in-memory: base anti changes ∪ upserts
    val n = q80.count()
    assert(n > 0)
    import org.apache.spark.sql.functions._
    val cust = Tables.customer(spark, "/root/testdata/sf0.001")
    val nBase = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 7).count()
    val nIns = cust.filter(pmod(col("c_custkey"), lit(10)) === 7).count()
    val nDel = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 7 &&
      pmod(col("c_custkey"), lit(13)) === 0).count()
    assert(n === nBase + nIns - nDel)
  }

  test("CursorLoopSqlCompiler: one-DML FETCH loops execute set-based; off-shape declines") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("cur", None, "conn", sql)
    // the statements the route's cursor reader rewrites a text to
    def cursorStmts(sql: String): Option[List[String]] =
      graft.patterns.ScriptedSqlExecutor.route(sql) match {
        case graft.patterns.ScriptedSqlExecutor.Route.Cursor(ss) => Some(ss)
        case _ => None
      }
    // the canonical frame, assembled so every case differs only where
    // the case is about
    def loop(decls: String, sel: String, into: String, body: String,
        cur: String = "c", advInto: String = ""): String =
      s"DECLARE $decls; DECLARE $cur CURSOR FOR $sel; OPEN $cur; " +
        s"FETCH NEXT FROM $cur INTO $into; WHILE @@FETCH_STATUS = 0 BEGIN " +
        s"$body; FETCH NEXT FROM $cur INTO " +
        (if (advInto.isEmpty) into else advInto) +
        s"; END; CLOSE $cur; DEALLOCATE $cur;"
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "csrc" -> Seq((1L, 10.0), (2L, 40.0), (3L, 90.0)).toDF("id", "v"),
        "ctgt" -> Seq((1L, 10.0, 0), (2L, 40.0, 0), (3L, 90.0, 0))
          .toDF("id", "v", "flag"),
        "clog" -> Seq.empty[(Long, Double)].toDF("id", "v"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // UPDATE-body cursor -> ONE join-update; the ORDER BY is dropped
    // from the staged cursor select (iteration order is unobservable)
    val updSql = loop("@i INT, @nv FLOAT",
      "SELECT id, v * 2 FROM csrc WHERE v < 50 ORDER BY id", "@i, @nv",
      "UPDATE ctgt SET v = @nv, flag = 1 WHERE id = @i")
    val staged = cursorStmts(updSql)
      .getOrElse(fail("canonical UPDATE cursor did not rewrite"))
    assert(staged.length === 2)
    assert(!staged.head.toUpperCase.contains("ORDER BY"))
    val w = fresh()
    mkExec(w)(task(updSql)).getOrElse(fail("UPDATE cursor did not compile"))
    assert(w("ctgt").orderBy("id").as[(Long, Double, Int)].collect().toList
      === List((1L, 20.0, 1), (2L, 80.0, 1), (3L, 90.0, 0)))
    // DELETE-body cursor -> ONE anti-join delete (idempotent = the loop)
    val w2 = fresh()
    mkExec(w2)(task(loop("@i INT",
      "SELECT id FROM csrc WHERE v > 30", "@i",
      "DELETE FROM ctgt WHERE id = @i")))
      .getOrElse(fail("DELETE cursor did not compile"))
    assert(w2("ctgt").as[(Long, Double, Int)].collect().toList
      === List((1L, 10.0, 0)))
    // INSERT-body cursor -> one insert-select append, one row per
    // cursor row, expressions over the fetched values preserved
    val w3 = fresh()
    mkExec(w3)(task(loop("@i INT, @nv FLOAT",
      "SELECT id, v FROM csrc WHERE v < 50", "@i, @nv",
      "INSERT INTO clog (id, v) VALUES (@i, @nv + 1)")))
      .getOrElse(fail("INSERT cursor did not compile"))
    assert(w3("clog").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 11.0), (2L, 41.0)))
    // MULTI-statement body on pairwise-distinct targets (r14): the
    // update-then-audit-log idiom — each statement becomes its own
    // set-based DML over the one staged cursor scan; per-row and
    // per-statement orders commute because the clause bans keep each
    // statement blind to its siblings' targets
    val multiSql = loop("@i INT, @nv FLOAT",
      "SELECT id, v FROM csrc WHERE v < 50", "@i, @nv",
      "UPDATE ctgt SET flag = 1 WHERE id = @i; " +
        "INSERT INTO clog (id, v) VALUES (@i, @nv)")
    val multiStaged = cursorStmts(multiSql)
      .getOrElse(fail("multi-statement cursor did not rewrite"))
    assert(multiStaged.length === 3)
    val w3b = fresh()
    mkExec(w3b)(task(multiSql))
      .getOrElse(fail("multi-statement cursor did not compile"))
    assert(w3b("ctgt").orderBy("id").select("flag").as[Int].collect().toList
      === List(1, 1, 0))
    assert(w3b("clog").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 10.0), (2L, 40.0)))
    // POSITIONED DML (r14): WHERE CURRENT OF over a one-table cursor.
    // A positioned UPDATE whose SET column stays out of the cursor's
    // predicate is Halloween-free under any updatable cursor
    val wp1 = fresh()
    mkExec(wp1)(task(loop("@i INT, @nv FLOAT",
      "SELECT id, v FROM csrc WHERE v < 50 FOR UPDATE OF id", "@i, @nv",
      "UPDATE csrc SET id = @i + 100 WHERE CURRENT OF c")))
      .getOrElse(fail("positioned UPDATE (no-Halloween) did not compile"))
    assert(wp1("csrc").orderBy("v").select("id").as[Long].collect().toList
      === List(101L, 102L, 3L))
    // ...updating a PREDICATE column needs KEYSET (membership frozen)
    val wp2 = fresh()
    mkExec(wp2)(task(
      "DECLARE @i INT, @nv FLOAT; DECLARE c CURSOR KEYSET FOR " +
        "SELECT id, v FROM csrc WHERE v < 50; OPEN c; " +
        "FETCH NEXT FROM c INTO @i, @nv; WHILE @@FETCH_STATUS = 0 BEGIN " +
        "UPDATE csrc SET v = @nv * 2 WHERE CURRENT OF c; " +
        "FETCH NEXT FROM c INTO @i, @nv; END; CLOSE c; DEALLOCATE c;"))
      .getOrElse(fail("KEYSET positioned UPDATE did not compile"))
    assert(wp2("csrc").orderBy("id").select("v").as[Double].collect().toList
      === List(20.0, 80.0, 90.0))
    // positioned DELETE is Halloween-free under the default cursor
    val wp3 = fresh()
    mkExec(wp3)(task(loop("@i INT",
      "SELECT id FROM csrc WHERE v > 30", "@i",
      "DELETE FROM csrc WHERE CURRENT OF c")))
      .getOrElse(fail("positioned DELETE did not compile"))
    assert(wp3("csrc").select("id").as[Long].collect().toList === List(1L))
    // positioned UPDATE + audit INSERT compose under the
    // distinct-target rule (the INSERT rides the staged scan)
    val posStaged = cursorStmts(
      loop("@i INT, @nv FLOAT",
        "SELECT id, v FROM csrc WHERE v < 50", "@i, @nv",
        "UPDATE csrc SET id = @i WHERE CURRENT OF c; " +
          "INSERT INTO clog (id, v) VALUES (@i, @nv)"))
      .getOrElse(fail("positioned+audit body did not rewrite"))
    assert(posStaged.length === 3)
    assert(posStaged(1).toUpperCase.contains("WHERE V < 50"))
    // r15: a PURELY positioned body emits NO staged scan — its
    // one-shot statements never read #graft_cursor_rows, and an
    // unused source scan at 100 TB is the entire cost of the task
    val posOnly = cursorStmts(
      loop("@i INT", "SELECT id FROM csrc WHERE v > 30", "@i",
        "DELETE FROM csrc WHERE CURRENT OF c"))
      .getOrElse(fail("positioned-only body did not rewrite"))
    assert(posOnly.length === 1 &&
      !posOnly.head.contains("#graft_cursor_rows"),
      s"positioned-only body must skip the staging scan: $posOnly")
    // positioned declines: read-only cursor designs, a predicate-column
    // SET without KEYSET, DISTINCT/TOP cursors, a different table
    for (sql <- Seq(
      // non-KEYSET UPDATE of a predicate column: Halloween re-visit
      loop("@i INT, @nv FLOAT", "SELECT id, v FROM csrc WHERE v < 50",
        "@i, @nv", "UPDATE csrc SET v = @nv * 2 WHERE CURRENT OF c"),
      // FAST_FORWARD is read-only: T-SQL rejects positioned DML (16929)
      "DECLARE @i INT; DECLARE c CURSOR FAST_FORWARD FOR " +
        "SELECT id FROM csrc; OPEN c; FETCH NEXT FROM c INTO @i; " +
        "WHILE @@FETCH_STATUS = 0 BEGIN " +
        "DELETE FROM csrc WHERE CURRENT OF c; " +
        "FETCH NEXT FROM c INTO @i; END; CLOSE c; DEALLOCATE c;",
      // DISTINCT cursor rows are not 1:1 with table rows
      loop("@i INT", "SELECT DISTINCT id FROM csrc", "@i",
        "DELETE FROM csrc WHERE CURRENT OF c"),
      // TOP is a row quota the one-shot WHERE cannot express
      loop("@i INT", "SELECT TOP 2 id FROM csrc ORDER BY v", "@i",
        "DELETE FROM csrc WHERE CURRENT OF c"),
      // positioned DML must name the cursor's own table
      loop("@i INT", "SELECT id FROM csrc", "@i",
        "DELETE FROM ctgt WHERE CURRENT OF c")))
      assert(mkExec(fresh())(task(sql)).isEmpty,
        s"positioned should decline: $sql")
    // sequential-vs-set divergence is GUARDED, not silent: two cursor
    // rows hitting one target row abort at materialization (T-SQL would
    // apply both sequentially; the set form refuses to choose)
    val w4 = fresh()
    w4("cdup") = Seq((2L, 1.0), (2L, 2.0)).toDF("id", "v")
    w4("cdup").createOrReplaceTempView("cdup")
    mkExec(w4)(task(loop("@i INT, @nv FLOAT",
      "SELECT id, v FROM cdup", "@i, @nv",
      "UPDATE ctgt SET v = @nv WHERE id = @i")))
      .getOrElse(fail("multi-match cursor should compile (abort is lazy)"))
    val err = intercept[Exception](w4("ctgt").collect())
    assert(err.getMessage != null)
    // declines -> manual review, matching the reference's routing
    val w5 = fresh()
    for (sql <- Seq(
      // positioned update: iteration state, not a join
      loop("@i INT", "SELECT id FROM csrc", "@i",
        "UPDATE ctgt SET v = 0 WHERE CURRENT OF c"),
      // multi-statement body with a REPEATED target: statement 2 could
      // read statement 1's writes mid-loop — orders don't commute
      loop("@i INT", "SELECT id FROM csrc", "@i",
        "UPDATE ctgt SET flag = 1 WHERE id = @i; " +
          "DELETE FROM ctgt WHERE id = @i"),
      // mid-loop accumulator: genuine per-iteration state
      loop("@i INT, @acc FLOAT", "SELECT id FROM csrc", "@i",
        "SET @acc = @acc + 1"),
      // mismatched advance FETCH list
      loop("@i INT, @j INT", "SELECT id, id FROM csrc", "@i, @j",
        "UPDATE ctgt SET flag = 1 WHERE id = @i", advInto = "@j, @i"),
      // FETCH PRIOR is a scroll cursor
      "DECLARE @i INT; DECLARE c CURSOR FOR SELECT id FROM csrc; OPEN c; " +
        "FETCH PRIOR FROM c INTO @i; WHILE @@FETCH_STATUS = 0 BEGIN " +
        "DELETE FROM ctgt WHERE id = @i; FETCH PRIOR FROM c INTO @i; " +
        "END; CLOSE c; DEALLOCATE c;",
      // a second cursor
      loop("@i INT", "SELECT id FROM csrc", "@i",
        "DELETE FROM ctgt WHERE id = @i") +
        " DECLARE d CURSOR FOR SELECT id FROM csrc;",
      // SELECT * cursor: positional INTO binding needs explicit items
      loop("@i INT", "SELECT * FROM csrc", "@i",
        "DELETE FROM ctgt WHERE id = @i"),
      // INSERT without a column list
      loop("@i INT, @nv FLOAT", "SELECT id, v FROM csrc", "@i, @nv",
        "INSERT INTO clog VALUES (@i, @nv)"),
      // body references a variable outside the FETCH list
      loop("@i INT, @x INT", "SELECT id FROM csrc", "@i",
        "DELETE FROM ctgt WHERE id = @i + @x"),
      // undeclared FETCH variable
      "DECLARE c CURSOR FOR SELECT id FROM csrc; OPEN c; " +
        "FETCH NEXT FROM c INTO @i; WHILE @@FETCH_STATUS = 0 BEGIN " +
        "DELETE FROM ctgt WHERE id = @i; FETCH NEXT FROM c INTO @i; " +
        "END; CLOSE c; DEALLOCATE c;",
      // INTO arity must equal the cursor select item count
      loop("@i INT", "SELECT id, v FROM csrc", "@i",
        "DELETE FROM ctgt WHERE id = @i"),
      // trailing statement outside the canonical frame
      loop("@i INT", "SELECT id FROM csrc", "@i",
        "DELETE FROM ctgt WHERE id = @i") + " SELECT 1;",
      // non-canonical WHILE predicate
      loop("@i INT", "SELECT id FROM csrc", "@i",
        "DELETE FROM ctgt WHERE id = @i")
        .replace("@@FETCH_STATUS = 0", "@@FETCH_STATUS <> -1"),
      // the cursor SELECT references a preamble @variable: the rewrite
      // drops the DECLAREs, so the staged script would carry an
      // unbound token — decline keeps ledger and execution aligned
      loop("@i INT, @minv FLOAT", "SELECT id FROM csrc WHERE v > @minv",
        "@i", "DELETE FROM ctgt WHERE id = @i"),
      // a DEFAULT (dynamic) cursor whose body mutates OTHER rows of
      // its own source: the loop sees its writes, the snapshot rewrite
      // does not — silent divergence, so it declines
      loop("@i INT", "SELECT id FROM csrc WHERE v < 50", "@i",
        "UPDATE csrc SET v = 99 WHERE id = @i + 1"),
      // appending into the cursor's own source under a dynamic cursor
      // (can even loop forever in T-SQL)
      loop("@i INT", "SELECT id FROM csrc", "@i",
        "INSERT INTO csrc (id, v) VALUES (@i + 100, 0)")))
      assert(mkExec(w5)(task(sql)).isEmpty, s"should decline: $sql")
    // ...but a STATIC cursor snapshots at OPEN — exactly what the
    // staged rewrite implements — so source-mutating bodies compile
    val w6 = fresh()
    mkExec(w6)(task(
      "DECLARE @i INT; DECLARE c INSENSITIVE CURSOR FOR " +
        "SELECT id FROM csrc WHERE v < 50; OPEN c; " +
        "FETCH NEXT FROM c INTO @i; WHILE @@FETCH_STATUS = 0 BEGIN " +
        "UPDATE csrc SET v = 99 WHERE id = @i + 1; " +
        "FETCH NEXT FROM c INTO @i; END; CLOSE c; DEALLOCATE c;"))
      .getOrElse(fail("STATIC cursor with source-mutating body should compile"))
    assert(w6("csrc").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 10.0), (2L, 99.0), (3L, 99.0)))
    // ...and a pure fetch-var key-equality body is SELF-ROW mutation,
    // where dynamic and snapshot semantics provably agree
    val w7 = fresh()
    mkExec(w7)(task(loop("@i INT",
      "SELECT id FROM csrc WHERE v < 50", "@i",
      "UPDATE csrc SET v = 0 WHERE id = @i")))
      .getOrElse(fail("self-row key-equality cursor should compile"))
    assert(w7("csrc").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 0.0), (2L, 0.0), (3L, 90.0)))
    // nothing committed by the declined scripts
    assert(w5("ctgt").count() === 3L)
    // a TOP cursor keeps its ORDER BY (row-selecting, not cosmetic)
    val topStaged = cursorStmts(
      loop("@i INT", "SELECT TOP 2 id FROM csrc ORDER BY v DESC", "@i",
        "DELETE FROM ctgt WHERE id = @i"))
    assert(topStaged.forall(_.head.toUpperCase.contains("ORDER BY")))
    // a `;`-less frame parses as its statements: the block tree ends a
    // statement where T-SQL starts the next cursor verb, and an
    // OFFSET … FETCH NEXT n ROWS clause stays inside its SELECT
    val bare = "DECLARE @i INT\nDECLARE c CURSOR FOR SELECT id FROM csrc\n" +
      "OPEN c\nFETCH NEXT FROM c INTO @i\nWHILE @@FETCH_STATUS = 0\nBEGIN\n" +
      "  DELETE FROM ctgt WHERE id = @i\n  FETCH NEXT FROM c INTO @i\nEND\n" +
      "CLOSE c\nDEALLOCATE c"
    val bareDelete =
      "DELETE __t FROM ctgt __t INNER JOIN #graft_cursor_rows __s ON id = __s.__gc0"
    assert(cursorStmts(bare) === Some(List(
      "SELECT id AS __gc0 INTO #graft_cursor_rows FROM csrc", bareDelete)))
    val offset = "SELECT id FROM csrc ORDER BY id OFFSET 1 ROWS FETCH NEXT 1 ROWS ONLY"
    assert(cursorStmts(bare.replace("SELECT id FROM csrc", offset)) ===
      Some(List(offset.replace("id FROM", "id AS __gc0 INTO #graft_cursor_rows FROM"),
        bareDelete)))
    val wb = fresh()
    mkExec(wb)(task(bare)).getOrElse(fail("`;`-less cursor did not compile"))
    assert(wb("ctgt").count() === 0L)
    // the mapping ledger reclassifies the executed shape
    val conv = graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn", updSql), Nil)
    assert(conv.status === "converted")
    assert(conv.strategy.exists(_.contains("CURSOR FETCH loop")))
    val rev = graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn", loop("@i INT",
        "SELECT id FROM csrc", "@i",
        "UPDATE ctgt SET v = 0 WHERE CURRENT OF c")), Nil)
    assert(rev.status === "manual_review")
  }

  test("BatchedDmlLoopSqlCompiler: TOP(n) purge loops execute as fixpoints; declines") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("bp", None, "conn", sql)
    def loop(body: String): String =
      s"WHILE 1 = 1 BEGIN $body; IF @@ROWCOUNT = 0 BREAK; END"
    // the statement the route's batched-purge reader rewrites a text to
    def batched(sql: String): Option[String] =
      graft.patterns.ScriptedSqlExecutor.route(sql) match {
        case graft.patterns.ScriptedSqlExecutor.Route.Batched(List(s)) => Some(s)
        case _ => None
      }
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "bpt" -> Seq((1L, "O", 10.0, 0), (2L, "F", 200.0, 0),
          (3L, "O", 300.0, 0), (4L, "F", 40.0, 0)).toDF("id", "st", "v", "flg"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // DELETE loop -> one anti-predicate state replacement
    val w = fresh()
    mkExec(w)(task(loop("DELETE TOP (2) FROM bpt WHERE st = 'F' AND v > 100")))
      .getOrElse(fail("DELETE loop did not compile"))
    assert(w("bpt").select("id").as[Long].collect().sorted.toList
      === List(1L, 3L, 4L))
    // UPDATE loop with the falsifying conjunct -> one CASE projection
    val w2 = fresh()
    mkExec(w2)(task(loop(
      "UPDATE TOP (1) bpt SET flg = 1 WHERE st = 'O' AND flg = 0")))
      .getOrElse(fail("UPDATE loop did not compile"))
    assert(w2("bpt").orderBy("id").select("flg").as[Int].collect().toList
      === List(1, 0, 1, 0))
    // the falsifying conjunct can also be <> or IS NULL — string
    // literal values compare on the RAW text (masking is located-only)
    assert(batched(loop(
      "UPDATE TOP (5) bpt SET flg = 1 WHERE flg <> 1")) ===
      Some("UPDATE bpt SET flg = 1 WHERE flg <> 1"))
    assert(batched(loop(
      "UPDATE TOP (5) bpt SET st = 'X' WHERE st <> 'X'")) ===
      Some("UPDATE bpt SET st = 'X' WHERE st <> 'X'"))
    // same-LENGTH different strings mask identically — the raw-text
    // comparison must still see them as different (no false proof)
    assert(batched(loop(
      "UPDATE TOP (5) bpt SET st = 'X' WHERE st <> 'Y'")).isEmpty)
    // numeric literals compare as VALUES, not text: 1.0 = 1 stays true
    // in T-SQL, so `SET v = 1.0 WHERE v = 1` never terminates — the
    // textual difference must not count as a falsification proof
    assert(batched(loop(
      "UPDATE TOP (5) bpt SET v = 1.0 WHERE v = 1")).isEmpty)
    assert(batched(loop(
      "UPDATE TOP (5) bpt SET flg = 01 WHERE flg = 1")).isEmpty)
    // ...and value-equality across spellings DOES prove the <> form
    assert(batched(loop(
      "UPDATE TOP (5) bpt SET v = 1.0 WHERE v <> 1")) ===
      Some("UPDATE bpt SET v = 1.0 WHERE v <> 1"))
    // cross-shape comparands (number vs string) prove nothing either way
    assert(batched(loop(
      "UPDATE TOP (5) bpt SET st = '1' WHERE st = 1")).isEmpty)
    // declines, never a guess
    for (sql <- Seq(
      // UPDATE whose batches do not provably shrink the pred-set
      loop("UPDATE TOP (5) bpt SET flg = 1 WHERE st = 'O'"),
      // SET rhs not a literal (batch-varying expressions leak batch
      // boundaries into the data)
      loop("UPDATE TOP (5) bpt SET v = v + 1 WHERE flg = 0"),
      // ORDER BY'd TOP: the slice is order-dependent
      "WHILE 1 = 1 BEGIN DELETE TOP (2) FROM bpt WHERE v > 0 " +
        "ORDER BY v; IF @@ROWCOUNT = 0 BREAK; END",
      // extra body statement
      "WHILE 1 = 1 BEGIN DELETE TOP (2) FROM bpt WHERE st = 'F'; " +
        "INSERT INTO log_t (n) VALUES (1); IF @@ROWCOUNT = 0 BREAK; END",
      // EXISTS-guarded variant: two predicates would need a proof
      "WHILE EXISTS (SELECT 1 FROM bpt WHERE st = 'F') BEGIN " +
        "DELETE TOP (2) FROM bpt WHERE st = 'F'; END",
      // a column comparand proves nothing: where other-col = rhs the
      // row re-matches forever (the T-SQL loop hangs)
      loop("UPDATE TOP (5) bpt SET flg = 1 WHERE flg = othercol"),
      // a falsified conjunct under a top-level OR does not shrink the
      // pred-set (rows matching the other disjunct re-match forever)
      loop("UPDATE TOP (5) bpt SET flg = 1 WHERE flg = 0 OR v > 5"),
      // ...and a PARENTHESIZED disjunction shelters re-matching rows
      // just the same (OR at any depth declines)
      loop("UPDATE TOP (5) bpt SET flg = 1 WHERE (v > 5 OR flg = 0) AND st = 'O'"),
      // a comparison INSIDE a string literal is data, not a predicate
      loop("UPDATE TOP (5) bpt SET flg = 1 WHERE st = 'flg = 0 pending'"),
      // non-zero BREAK comparison
      loop("DELETE TOP (2) FROM bpt WHERE st = 'F'")
        .replace("@@ROWCOUNT = 0", "@@ROWCOUNT < 5")))
      assert(graft.patterns.ScriptedSqlExecutor.route(sql)
        .isInstanceOf[graft.patterns.ScriptedSqlExecutor.Route.Decline],
        s"should decline: $sql")
    // the mapping ledger reclassifies the executed shape
    val conv = graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        loop("DELETE TOP (100) FROM bpt WHERE st = 'F'")), Nil)
    assert(conv.status === "converted")
    assert(conv.strategy.exists(_.contains("fixpoint")))
  }

  test("AlterTableSqlCompiler: ADD/DROP COLUMN execute; parity aborts; declines") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("alt", None, "conn", sql)
    def fresh() = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "mt" -> Seq((1L, 10.0), (2L, 2000.0)).toDF("id", "v"))
    // the canonical migration: add -> backfill -> drop -> add defaulted
    val w = fresh()
    mkExec(w)(task(
      "ALTER TABLE mt ADD band VARCHAR(10) NULL; " +
        "UPDATE mt SET band = 'HI' WHERE v >= 1500; " +
        "UPDATE mt SET band = 'LO' WHERE v < 1500; " +
        "ALTER TABLE mt DROP COLUMN v; " +
        "ALTER TABLE mt ADD tag VARCHAR(8) NOT NULL DEFAULT 'm13'"))
      .getOrElse(fail("migration script did not compile"))
    assert(w("mt").columns.toList === List("id", "band", "tag"))
    assert(w("mt").orderBy("id").as[(Long, String, String)].collect().toList
      === List((1L, "LO", "m13"), (2L, "HI", "m13")))
    // a nullable ADD backfills NULL (single statement: the runner
    // commits the outcome frame — apply it like the runner would)
    val w2 = fresh()
    val nOut = mkExec(w2)(task("ALTER TABLE mt ADD note VARCHAR(20)"))
      .getOrElse(fail("bare nullable ADD did not compile"))
    assert(nOut.target.contains("mt"))
    assert(nOut.df.get.filter(col("note").isNull).count() === 2L)
    // T-SQL's WITH VALUES rule: a NULLABLE add with a DEFAULT leaves
    // existing rows NULL (the default applies to future inserts);
    // only NOT NULL or an explicit WITH VALUES backfills
    val dOut = mkExec(fresh())(task(
      "ALTER TABLE mt ADD tag VARCHAR(4) DEFAULT 'd'")).get
    assert(dOut.df.get.filter(col("tag").isNull).count() === 2L)
    val wvOut = mkExec(fresh())(task(
      "ALTER TABLE mt ADD tag VARCHAR(4) DEFAULT 'd' WITH VALUES")).get
    assert(wvOut.df.get.filter(col("tag") === "d").count() === 2L)
    // T-SQL parity aborts: 2705 duplicate add, 4924 missing drop,
    // 4901 NOT NULL without DEFAULT on a non-empty table
    val w3 = fresh()
    for (bad <- Seq(
      "ALTER TABLE mt ADD v INT NULL",
      "ALTER TABLE mt DROP COLUMN nope",
      "ALTER TABLE mt ADD strict INT NOT NULL")) {
      val e = intercept[Exception](mkExec(w3)(task(bad)))
      assert(e.getMessage.matches("(?s).*(2705|4924|4901).*"),
        s"$bad: ${e.getMessage}")
    }
    // ALTER COLUMN re-types in place: string key -> BIGINT NOT NULL,
    // decimal widen, post-retype arithmetic over the new types
    val w4 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rt" -> Seq((1L, "10", 5.0), (2L, "20", 7.0)).toDF("id", "k", "v"))
    mkExec(w4)(task(
      "ALTER TABLE rt ALTER COLUMN k BIGINT NOT NULL; " +
        "ALTER TABLE rt ALTER COLUMN v DECIMAL(14,4); " +
        "UPDATE rt SET v = CAST(v * 2 AS DECIMAL(14,4)) WHERE k = 20"))
      .getOrElse(fail("ALTER COLUMN script did not compile"))
    assert(w4("rt").schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(w4("rt").schema("v").dataType ===
      org.apache.spark.sql.types.DecimalType(14, 4))
    assert(w4("rt").orderBy("id").select("k", "v").collect().map(r =>
      (r.getLong(0), r.getDecimal(1).doubleValue())).toList
      === List((10L, 5.0), (20L, 14.0)))
    // conversion parity is LAZY, like the 8672 guards: an unconvertible
    // non-NULL value aborts at materialization with the 245/8114
    // contract — never Spark's silent NULL
    val w5 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rt" -> Seq((1L, "10"), (2L, "oops")).toDF("id", "k"))
    val badCast = mkExec(w5)(task("ALTER TABLE rt ALTER COLUMN k INT"))
      .getOrElse(fail("retype should compile; the abort is lazy"))
    val castErr = intercept[Exception](badCast.df.get.collect())
    assert(castErr.getMessage.matches("(?s).*(245|8114).*"),
      s"conversion abort lost: ${castErr.getMessage}")
    // NOT NULL over an existing NULL aborts with the 515 contract
    val w6 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rt" -> Seq((1L, Some("10")), (2L, None)).toDF("id", "k"))
    val nn = mkExec(w6)(task("ALTER TABLE rt ALTER COLUMN k BIGINT NOT NULL"))
      .getOrElse(fail("NOT NULL retype should compile; the abort is lazy"))
    val nnErr = intercept[Exception](nn.df.get.collect())
    assert(nnErr.getMessage.contains("515"), nnErr.getMessage)
    // r15 — char(n) NARROWING aborts lazily with the 8152 contract when
    // any existing value exceeds the new length (string-to-string casts
    // can never fail, so length needs its own guard); values within the
    // cap re-type fine, and NULLs never trip it
    val w7 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rt" -> Seq((1L, Some("abc")), (2L, Some("toolong")), (3L, None))
        .toDF("id", "k"))
    val narrowed = mkExec(w7)(task("ALTER TABLE rt ALTER COLUMN k VARCHAR(5)"))
      .getOrElse(fail("narrowing retype should compile; the abort is lazy"))
    val nErr = intercept[Exception](narrowed.df.get.collect())
    assert(nErr.getMessage.contains("8152"), nErr.getMessage)
    val w8 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rt" -> Seq((1L, Some("abc")), (2L, None)).toDF("id", "k"))
    val fits = mkExec(w8)(task("ALTER TABLE rt ALTER COLUMN k VARCHAR(5)"))
      .getOrElse(fail("within-cap retype should compile"))
    assert(fits.df.get.count() === 2L)
    // r16 — T-SQL trims trailing blanks SILENTLY when narrowing (no
    // 8152): 'abc  ' → VARCHAR(3) succeeds and stores the first 3 chars
    val w8b = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rt" -> Seq((1L, Some("abc  ")), (2L, None)).toDF("id", "k"))
    val trimmed = mkExec(w8b)(task("ALTER TABLE rt ALTER COLUMN k VARCHAR(3)"))
      .getOrElse(fail("blank-padded narrowing should compile"))
    assert(trimmed.df.get.orderBy("id").select("k").collect()
      .map(_.getString(0)).toList === List("abc", null),
      "trailing blanks must trim silently, value capped at n")
    // …and a NUMERIC source that doesn't fit reports 8115 overflow,
    // not the string 8152 contract
    val w8c = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rt" -> Seq((1L, 12345), (2L, 7)).toDF("id", "k"))
    val numNarrow = mkExec(w8c)(task("ALTER TABLE rt ALTER COLUMN k VARCHAR(3)"))
      .getOrElse(fail("numeric-to-char retype should compile; abort is lazy"))
    val numErr = intercept[Exception](numNarrow.df.get.collect())
    assert(numErr.getMessage.contains("8115"), numErr.getMessage)
    // 4924 on a missing column, eagerly, like DROP
    val e4924 = intercept[Exception](mkExec(fresh())(task(
      "ALTER TABLE mt ALTER COLUMN nope INT")))
    assert(e4924.getMessage.contains("4924"), e4924.getMessage)
    // declines: constraints, COLLATE/IDENTITY forms, multi-column add,
    // expression defaults, unmapped types
    for (sql <- Seq(
      "ALTER TABLE mt ADD c INT PRIMARY KEY",
      "ALTER TABLE mt ALTER COLUMN v VARCHAR(20) COLLATE Latin1_General_CS_AS",
      "ALTER TABLE mt ALTER COLUMN v ADD SPARSE",
      "ALTER TABLE mt ALTER COLUMN v SOMETYPE",
      "ALTER TABLE mt ADD a INT, b INT",
      "ALTER TABLE mt ADD ts DATETIME DEFAULT GETDATE()",
      "ALTER TABLE mt ADD c SOMETYPE"))
      assert(mkExec(fresh())(task(sql)).isEmpty, s"should decline: $sql")
    // ledger twin
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "ALTER TABLE mt DROP COLUMN v"), Nil).status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "ALTER TABLE mt ALTER COLUMN v BIGINT"), Nil).status === "converted")
  }

  test("scalar-predicate IF: eager fold, NULL takes ELSE, off-shapes decline") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("ifs", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "ift" -> Seq((1L, 5.0, "A"), (2L, 9.0, "B"), (3L, 12.0, "B"))
          .toDF("id", "v", "tag"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // the variable-guard idiom: the script's SELECT-assign feeds the
    // predicate, which folds eagerly; the THEN branch fires
    val w1 = fresh()
    mkExec(w1)(task(
      "DECLARE @n INT = 0;\nSELECT @n = COUNT(*) FROM ift WHERE v > 8;\n" +
        "IF @n > 0 UPDATE ift SET tag = 'HI' WHERE v > 8;"))
      .getOrElse(fail("variable-guard IF did not compile"))
    assert(w1("ift").filter("tag = 'HI'").count() === 2L)
    // …the ELSE branch fires when the predicate is false
    val w2 = fresh()
    mkExec(w2)(task(
      "DECLARE @n INT = 0;\n" +
        "IF @n > 0 DELETE FROM ift WHERE id = 1 " +
        "ELSE DELETE FROM ift WHERE id = 3;"))
      .getOrElse(fail("ELSE branch did not compile"))
    assert(w2("ift").count() === 2L &&
      w2("ift").filter("id = 3").count() === 0L)
    // …a NULL predicate is T-SQL's UNKNOWN: not-true → ELSE
    val w3 = fresh()
    mkExec(w3)(task(
      "DECLARE @n INT;\n" +
        "IF @n > 0 DELETE FROM ift WHERE id = 1 " +
        "ELSE DELETE FROM ift WHERE id = 2;"))
      .getOrElse(fail("NULL-predicate IF did not compile"))
    assert(w3("ift").filter("id = 2").count() === 0L &&
      w3("ift").filter("id = 1").count() === 1L)
    // …untaken with no ELSE is a vacuous success
    val w4 = fresh()
    mkExec(w4)(task(
      "DECLARE @n INT = 0;\nIF @n > 5 DELETE FROM ift WHERE id = 1;"))
      .getOrElse(fail("untaken no-ELSE IF did not compile"))
    assert(w4("ift").count() === 3L)
    // …a subquery-comparison predicate owns at top level too (no
    // variables at all), with BEGIN…END dressing
    val w5 = fresh()
    val o5 = mkExec(w5)(task(
      "IF (SELECT COUNT(*) FROM ift WHERE tag = 'B') > 1 " +
        "BEGIN UPDATE ift SET v = 0 WHERE tag = 'B' END"))
      .getOrElse(fail("subquery-predicate IF did not compile"))
    assert(w5("ift").filter("v = 0").count() === 2L &&
      o5.df.get.filter("v = 0").count() === 2L)
    // …@@ROWCOUNT composes: the substitution runs before the chain
    val w6 = fresh()
    mkExec(w6)(task(
      "DELETE FROM ift WHERE v > 8;\n" +
        "IF 2 <= 2 INSERT INTO ift SELECT 9 AS id, 1.0 AS v, 'R' AS tag;"))
      .getOrElse(fail("post-DML IF did not compile"))
    assert(w6("ift").count() === 2L)
    val w6b = fresh()
    mkExec(w6b)(task(
      "DELETE FROM ift WHERE v > 8;\n" +
        "IF @@ROWCOUNT >= 2 DELETE FROM ift WHERE id = 1;"))
      .getOrElse(fail("@@ROWCOUNT-guard IF did not compile"))
    assert(w6b("ift").count() === 0L, "2 deleted → guard fires → id 1 goes")
    // declines: undeclared @var in the predicate (top level, no
    // binder), nested control flow in a branch, a CASE ELSE leaking
    // into the predicate
    for (sql <- Seq(
      "IF @nope > 0 DELETE FROM ift WHERE id = 1;",
      "IF 1 = 1 IF 2 = 2 DELETE FROM ift WHERE id = 1;",
      "IF CASE WHEN 1 = 1 THEN 1 ELSE 0 END = 1 DELETE FROM ift WHERE id = 1;"))
      assert(mkExec(fresh())(task(sql)).isEmpty, s"should decline: $sql")
    // the two r17 decline classes the r18 ladder PROMOTED to owned:
    // a multi-statement BEGIN block executes through the dispatcher
    // (q149 — the block tree keeps it whole), and conditional SET
    // reaches the executor's variable state
    val wBlk = fresh()
    mkExec(wBlk)(task(
      "DECLARE @n INT = 1; IF @n > 0 BEGIN DELETE FROM ift WHERE id = 1; " +
        "DELETE FROM ift WHERE id = 2; END"))
      .getOrElse(fail("multi-statement IF block did not compile"))
    assert(wBlk("ift").count() === 1L, "both block statements must run")
    val wSet = fresh()
    mkExec(wSet)(task(
      "DECLARE @n INT = 1; DECLARE @y INT = 0; IF @n > 0 SET @y = 5; " +
        "DELETE FROM ift WHERE id <= @y;"))
      .getOrElse(fail("conditional SET did not compile"))
    assert(wSet("ift").count() === 0L, "the SET value must reach the DELETE")
    // ledger twins: the subquery form classifies converted; an
    // unbindable top-level @predicate stays manual review
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "IF (SELECT COUNT(*) FROM ift) > 1 UPDATE ift SET v = 0 " +
          "ELSE DELETE FROM ift WHERE id = 1"), Nil).status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "IF @nope > 0 UPDATE ift SET v = 0"), Nil).status === "manual_review")
    // a SCRIPT whose only ownable feature is the variable-free IF
    // classifies converted too (the route's IF-ladder feature)
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "UPDATE ift SET v = 1 WHERE id = 1;\n" +
          "IF (SELECT COUNT(*) FROM ift) > 1 DELETE FROM ift WHERE id = 2;"),
      Nil).status === "converted")
  }

  test("parameterized sp_executesql binds typed literals; off-shapes decline") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("pe", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "pet" -> Seq((1L, 5.0, "A"), (2L, 9.0, "B"), (3L, 12.0, "B"))
          .toDF("id", "v", "tag"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // single statement, two typed parameters (the runner commits the
    // outcome frame — read it like the runner would)
    val o1 = mkExec(fresh())(task(
      "EXEC sp_executesql N'UPDATE pet SET v = 0 WHERE v > @cut AND " +
        "tag = @t', N'@cut DECIMAL(12,2), @t VARCHAR(1)', " +
        "@cut = 8, @t = 'B'"))
      .getOrElse(fail("parameterized sp_executesql did not compile"))
    assert(o1.target.contains("pet"))
    assert(o1.df.get.orderBy("id").select("v").as[Double].collect().toList
      === List(5.0, 0.0, 0.0))
    // a string argument binds through the engine's safe literal form
    val o2 = mkExec(fresh())(task(
      "EXEC sp_executesql N'DELETE FROM pet WHERE tag = @t', " +
        "N'@t VARCHAR(4)', @t = 'B'"))
      .getOrElse(fail("string-arg sp_executesql did not compile"))
    assert(o2.df.get.count() === 1L)
    // r15 — T-SQL parameter assignment TRUNCATES silently to the
    // declared char length: a VARCHAR(1) parameter bound 'BX' compares
    // as 'B' (the TsqlConcatFold contract, now on the binding path)
    val o2t = mkExec(fresh())(task(
      "EXEC sp_executesql N'DELETE FROM pet WHERE tag = @t', " +
        "N'@t VARCHAR(1)', @t = 'BX'"))
      .getOrElse(fail("truncating string-arg sp_executesql did not compile"))
    assert(o2t.df.get.count() === 1L,
      "VARCHAR(1) must truncate 'BX' to 'B' before binding")
    // …and the executor's own DECLARE/SET assignments truncate the
    // same way (a @v VARCHAR(3) assigned 'abcdef' holds 'abc')
    val wt = fresh()
    mkExec(wt)(task(
      "DECLARE @t VARCHAR(1) = 'BX'; DELETE FROM pet WHERE tag = @t;"))
      .getOrElse(fail("truncating DECLARE did not compile"))
    assert(wt("pet").count() === 1L,
      "DECLARE VARCHAR(1) must truncate its initializer")
    // r16 — a re-DECLARE with an UNCAPPED type must CLEAR the stale cap
    // (legal T-SQL across batches, and ProcInline flattens batches into
    // one executor scope): @t VARCHAR(10) after @t VARCHAR(1) binds the
    // full 'BX', which matches nothing — nothing deletes
    val wr = fresh()
    mkExec(wr)(task(
      "DECLARE @t VARCHAR(1) = 'Q'; DECLARE @t VARCHAR(10); " +
        "SET @t = 'BX'; DELETE FROM pet WHERE tag = @t;"))
      .getOrElse(fail("re-DECLARE script did not compile"))
    assert(wr("pet").count() === 3L,
      "re-DECLARE must clear the stale VARCHAR(1) cap")
    // r16 — a scalar OUTPUT parameter writes back to the caller's
    // variable (copy-in/copy-out); the written-back count drives the
    // next statement
    val wo = fresh()
    mkExec(wo)(task(
      "DECLARE @n INT = 0;\n" +
        "EXEC sp_executesql N'SELECT @c = COUNT(*) FROM pet WHERE " +
        "tag = @t', N'@t VARCHAR(1), @c INT OUTPUT', @t = 'B', " +
        "@c = @n OUTPUT;\n" +
        "DELETE FROM pet WHERE id <= @n;"))
      .getOrElse(fail("sp_executesql OUTPUT did not compile"))
    assert(wo("pet").count() === 1L, "COUNT=2 must write back and delete 2")
    // copy-in: the OUT param reads the caller's value at entry
    val wo2 = fresh()
    mkExec(wo2)(task(
      "DECLARE @n INT = 7;\n" +
        "EXEC sp_executesql N'SELECT @c = @c + 5', N'@c INT OUTPUT', " +
        "@c = @n OUTPUT;\n" +
        "DELETE FROM pet WHERE id <= @n - 10;"))
      .getOrElse(fail("copy-in OUTPUT did not compile"))
    assert(wo2("pet").count() === 1L, "7+5=12 → delete id <= 2")
    // r16 review — the inner's constant string concat folds exactly as
    // every other assignment path folds it (T-SQL `+` concatenation)
    val wo2c = fresh()
    mkExec(wo2c)(task(
      "DECLARE @v VARCHAR(20) = '';\n" +
        "EXEC sp_executesql N'SELECT @c = ''B'' + ''X''', " +
        "N'@c VARCHAR(20) OUTPUT', @c = @v OUTPUT;\n" +
        "DELETE FROM pet WHERE tag = @v;"))
      .getOrElse(fail("concat-fold OUTPUT did not compile"))
    assert(wo2c("pet").count() === 3L,
      "'B' + 'X' must fold to 'BX', which matches nothing")
    // r16 review — copy-in TRUNCATES at the parameter's char(n) cap
    // (T-SQL truncates at parameter assignment, entry and exit alike)
    val wo2t = fresh()
    mkExec(wo2t)(task(
      "DECLARE @v VARCHAR(10) = 'BZZ';\n" +
        "EXEC sp_executesql N'SELECT @c = @c', " +
        "N'@c VARCHAR(1) OUTPUT', @c = @v OUTPUT;\n" +
        "DELETE FROM pet WHERE tag = @v;"))
      .getOrElse(fail("copy-in truncation OUTPUT did not compile"))
    assert(wo2t("pet").count() === 1L,
      "'BZZ' must truncate to 'B' at VARCHAR(1) copy-in")
    // a FROM-query assigning ZERO rows leaves the variable unchanged
    val wo3 = fresh()
    mkExec(wo3)(task(
      "DECLARE @n INT = 99;\n" +
        "EXEC sp_executesql N'SELECT @c = id FROM pet WHERE tag = ''Z''', " +
        "N'@c INT OUTPUT', @c = @n OUTPUT;\n" +
        "DELETE FROM pet WHERE id < @n;"))
      .getOrElse(fail("zero-row OUTPUT did not compile"))
    assert(wo3("pet").count() === 0L, "@n must stay 99 on zero rows")
    // r17 — N OUTPUT parameters write back in one call (the
    // `@rows OUTPUT, @err OUTPUT` logging pair): a FROM-bearing inner
    // evaluates ONE query over all expressions, each value casting
    // back through its parameter's then its caller's declared types
    val wm = fresh()
    mkExec(wm)(task(
      "DECLARE @n INT = 0; DECLARE @s DECIMAL(18,2) = 0;\n" +
        "EXEC sp_executesql N'SELECT @c = COUNT(*), @t = SUM(v) FROM " +
        "pet WHERE tag = @g', N'@g VARCHAR(1), @c INT OUTPUT, " +
        "@t DECIMAL(18,2) OUTPUT', @g = 'B', @c = @n OUTPUT, " +
        "@t = @s OUTPUT;\n" +
        "DELETE FROM pet WHERE id < @n AND v < @s;"))
      .getOrElse(fail("multi-OUT sp_executesql did not compile"))
    assert(wm("pet").count() === 2L,
      "COUNT=2/SUM=21 must write back: delete id<2 AND v<21 → row 1 only")
    // …FROM-less multi-assign evaluates each expression independently
    // (exact: the no-cross-reference gate means every RHS reads only
    // copy-in state)
    val wm2 = fresh()
    mkExec(wm2)(task(
      "DECLARE @a INT = 3; DECLARE @b INT = 0;\n" +
        "EXEC sp_executesql N'SELECT @x = @x + 1, @y = 10', " +
        "N'@x INT OUTPUT, @y INT OUTPUT', @x = @a OUTPUT, @y = @b OUTPUT;\n" +
        "DELETE FROM pet WHERE id < @a AND id < @b;"))
      .getOrElse(fail("FROM-less multi-OUT did not compile"))
    assert(wm2("pet").count() === 0L, "@a=4, @b=10 → delete id<4")
    // …zero rows leave EVERY variable unchanged
    val wm3 = fresh()
    mkExec(wm3)(task(
      "DECLARE @a INT = 99; DECLARE @b INT = 99;\n" +
        "EXEC sp_executesql N'SELECT @x = id, @y = id FROM pet WHERE " +
        "tag = ''Z''', N'@x INT OUTPUT, @y INT OUTPUT', @x = @a OUTPUT, " +
        "@y = @b OUTPUT;\n" +
        "DELETE FROM pet WHERE id < @a AND id < @b;"))
      .getOrElse(fail("zero-row multi-OUT did not compile"))
    assert(wm3("pet").count() === 0L, "both must stay 99 on zero rows")
    // OUTPUT declines: a RHS reading ANOTHER assign target (T-SQL
    // evaluates left-to-right — a parallel copy-in replay cannot),
    // an OUT param never assigned, OUTPUT on a non-OUT param,
    // unmarked OUT argument, non-assigning inner, multi-row assign
    for (sql <- Seq(
      "DECLARE @a INT = 0; DECLARE @b INT = 0; " +
        "EXEC sp_executesql N'SELECT @x = 1, @y = @x + 1', " +
        "N'@x INT OUTPUT, @y INT OUTPUT', @x = @a OUTPUT, @y = @b OUTPUT;",
      "DECLARE @a INT = 0; DECLARE @b INT = 0; " +
        "EXEC sp_executesql N'SELECT @x = 1', " +
        "N'@x INT OUTPUT, @y INT OUTPUT', @x = @a OUTPUT, @y = @b OUTPUT;",
      "DECLARE @a INT = 0; " +
        "EXEC sp_executesql N'SELECT @x = @p', N'@p INT, @x INT OUTPUT', " +
        "@p = 1 OUTPUT, @x = @a OUTPUT;",
      "DECLARE @a INT = 0; " +
        "EXEC sp_executesql N'SELECT @x = 1', N'@x INT OUTPUT', @x = @a;",
      "DECLARE @a INT = 0; " +
        "EXEC sp_executesql N'DELETE FROM pet WHERE id = @x', " +
        "N'@x INT OUTPUT', @x = @a OUTPUT;",
      "DECLARE @a INT = 0; " +
        "EXEC sp_executesql N'SELECT @x = id FROM pet', " +
        "N'@x INT OUTPUT', @x = @a OUTPUT;",
      // r16 review — MULTI-assign inner: T-SQL assigns left-to-right,
      // which a single-value replay cannot reproduce — decline
      "DECLARE @a INT = 0; " +
        "EXEC sp_executesql N'SELECT @x = COUNT(*), @x = 0 FROM pet', " +
        "N'@x INT OUTPUT', @x = @a OUTPUT;"))
      assert(mkExec(fresh())(task(sql)).isEmpty, s"should decline: $sql")
    // …and the multi-assign decline has its ledger twin
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "DECLARE @a INT = 0;\n" +
          "EXEC sp_executesql N'SELECT @x = COUNT(*), @x = 0 FROM pet', " +
          "N'@x INT OUTPUT', @x = @a OUTPUT;\nUPDATE pet SET v = @a;"), Nil)
      .status === "manual_review")
    // ledger twins for the OUTPUT shape: the owned script classifies
    // converted (ownsOutputShape, the static twin); two OUT params
    // keep the manual-review decline
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "DECLARE @hi INT = 0;\n" +
          "EXEC sp_executesql N'SELECT @c = COUNT(*) FROM pet WHERE " +
          "v >= @cut', N'@cut DECIMAL(12,2), @c INT OUTPUT', " +
          "@cut = 8, @c = @hi OUTPUT;\n" +
          "UPDATE pet SET v = 0 WHERE id <= @hi;"), Nil)
      .status === "converted")
    // an OUT param the inner never assigns keeps manual review (r17:
    // N OUT params are owned, but only when EVERY one is assigned)
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "DECLARE @a INT = 0; DECLARE @b INT = 0;\n" +
          "EXEC sp_executesql N'SELECT @x = 1', " +
          "N'@x INT OUTPUT, @y INT OUTPUT', @x = @a OUTPUT, " +
          "@y = @b OUTPUT;"), Nil)
      .status === "manual_review")
    // …while the fully-assigned pair classifies converted (r17 twin)
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "DECLARE @a INT = 0; DECLARE @b INT = 0;\n" +
          "EXEC sp_executesql N'SELECT @x = COUNT(*), @y = SUM(v) " +
          "FROM pet', N'@x INT OUTPUT, @y INT OUTPUT', @x = @a OUTPUT, " +
          "@y = @b OUTPUT;\nUPDATE pet SET v = 0 WHERE id <= @a;"), Nil)
      .status === "converted")
    // inside a script, a DECLARED @var argument binds through the
    // executor's own typed-literal pass before this compiler sees it
    val w3 = fresh()
    mkExec(w3)(task(
      "DECLARE @lim DECIMAL(12,2) = 8; " +
        "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p', " +
        "N'@p DECIMAL(12,2)', @p = @lim;"))
      .getOrElse(fail("declared-@var sp_executesql did not compile"))
    assert(w3("pet").count() === 1L)
    // declines: expression args, OUTPUT params, positional args,
    // param/arg mismatches, an inner @token that is not a parameter,
    // unmapped types, towers
    for (sql <- Seq(
      "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p', " +
        "N'@p DECIMAL(12,2)', @p = @undeclared",
      "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p', " +
        "N'@p DECIMAL(12,2)', @p = 1 + 2",
      "EXEC sp_executesql N'SELECT @n = COUNT(*) FROM pet', " +
        "N'@n INT OUTPUT', @n = 0",
      "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p', " +
        "N'@p DECIMAL(12,2)', 5",
      "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p', " +
        "N'@p DECIMAL(12,2), @q INT', @p = 5",
      "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p AND tag = @t', " +
        "N'@p DECIMAL(12,2)', @p = 5",
      "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p', " +
        "N'@p SOMETYPE', @p = 5",
      "EXEC sp_executesql N'EXEC sp_other @x', N'@x INT', @x = 1"))
      assert(mkExec(fresh())(task(sql)).isEmpty, s"should decline: $sql")
    // ledger twin
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "EXEC sp_executesql N'DELETE FROM pet WHERE v > @p', " +
          "N'@p DECIMAL(12,2)', @p = 5"), Nil).status === "converted")
  }

  test("concatenated dynamic SQL folds to exact T-SQL text; non-constants decline") {
    import graft.patterns.{ExecLiteralSqlCompiler, TsqlConcatFold}
    import spark.implicits._
    // the fold itself: T-SQL text-rendering contracts
    def fold(s: String) = TsqlConcatFold.fold(s)
    assert(fold("'DELETE FROM t WHERE v < ' + CAST(5 AS VARCHAR(10))")
      === Some("DELETE FROM t WHERE v < 5"))
    // decimal binding re-scales HALF_UP at the cast's declared scale
    assert(fold("'v = ' + CAST(CAST(12.5 AS DECIMAL(12,2)) AS VARCHAR(10))")
      === Some("v = 12.50"))
    assert(fold("'v = ' + CAST(CAST(2.345 AS DECIMAL(4,2)) AS VARCHAR(10))")
      === Some("v = 2.35"))
    // integer literals render canonically; decimals keep their own scale
    assert(fold("'a' + CAST(007 AS VARCHAR(5)) + 'b' + CONVERT(VARCHAR(6), 1.50)")
      === Some("a7b1.50"))
    assert(fold("'x' + CAST(.5 AS VARCHAR(5))") === Some("x0.5"))
    // a STRING source truncates silently; a NUMERIC overflow is 8115
    assert(fold("'p' + CAST('abcdef' AS VARCHAR(3))") === Some("pabc"))
    assert(fold("'p' + CAST(12345 AS VARCHAR(2))").isEmpty)
    // missing char length is T-SQL's default 30
    assert(fold("'p' + CAST('" + "y" * 40 + "' AS VARCHAR)")
      === Some("p" + "y" * 30))
    // '' escapes unescape; MAX is unbounded
    assert(fold("'it''s ' + CAST('a' AS NVARCHAR(MAX))") === Some("it's a"))
    // declines: bare numerics (T-SQL conversion error, not concat),
    // CONVERT styles, functions, NULL, single fragment, arithmetic
    for (s <- Seq("'a' + 1", "'a' + @v", "'a' + UPPER('b')",
      "'a' + CONVERT(VARCHAR(10), 5, 1)", "'a' + NULL",
      "'just one literal'", "1 + 2",
      "'a' + CAST(GETDATE() AS VARCHAR(20))"))
      assert(fold(s).isEmpty, s"should not fold: $s")
    // the EXEC frames: inline concat and the SET @sql builder
    assert(ExecLiteralSqlCompiler.foldConcatenated(
      "EXEC('DELETE FROM ct WHERE v < ' + CAST(8 AS VARCHAR(10)))")
      === Some("DELETE FROM ct WHERE v < 8"))
    assert(ExecLiteralSqlCompiler.foldConcatenated(
      "EXEC sp_executesql N'DELETE FROM ct WHERE tag = ' + '''B'''")
      === Some("DELETE FROM ct WHERE tag = 'B'"))
    // towers stay declined even when they fold
    assert(ExecLiteralSqlCompiler.foldConcatenated(
      "EXEC('EXEC ' + 'sp_other')").isEmpty)
    // a top-level comma is the parameterized form, not a concat
    assert(ExecLiteralSqlCompiler.foldConcatenated(
      "EXEC sp_executesql N'a' + 'b', N'@p INT', @p = 1").isEmpty)
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("cd", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "ct" -> Seq((1L, 5.0, "A"), (2L, 9.0, "B"), (3L, 12.0, "B"))
          .toDF("id", "v", "tag"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // end-to-end: declared @var → CAST fragment → folded EXEC
    val w1 = fresh()
    mkExec(w1)(task(
      "DECLARE @min INT = 8; " +
        "EXEC('DELETE FROM ct WHERE v < ' + CAST(@min AS VARCHAR(10)));"))
      .getOrElse(fail("inline concat EXEC did not compile"))
    assert(w1("ct").orderBy("id").select("id").as[Long].collect().toList
      === List(2L, 3L))
    // the SET @sql builder: concat folds at assignment, EXEC(@sql)
    // binds to a single literal and unwraps
    val w2 = fresh()
    mkExec(w2)(task(
      "DECLARE @cut DECIMAL(12,2) = 10.5; DECLARE @sql VARCHAR(200); " +
        "SET @sql = 'UPDATE ct SET v = 0 WHERE v > ' + " +
        "CAST(@cut AS VARCHAR(12)); EXEC(@sql);"))
      .getOrElse(fail("SET @sql builder did not compile"))
    assert(w2("ct").orderBy("id").select("v").as[Double].collect().toList
      === List(5.0, 9.0, 0.0))
    // numeric arithmetic still evaluates as arithmetic after the fold
    val w3 = fresh()
    mkExec(w3)(task(
      "DECLARE @n INT = 3; SET @n = @n + 4; " +
        "DELETE FROM ct WHERE id < @n - 5;"))
      .getOrElse(fail("numeric SET did not compile"))
    assert(w3("ct").count() === 2L)
    // a non-constant concat inside EXEC declines the script
    assert(mkExec(fresh())(task(
      "DECLARE @col VARCHAR(10) = 'v'; " +
        "EXEC('DELETE FROM ct WHERE ' + @col + ' > 8');")).isDefined,
      "a bound string @var IS a constant — this one folds")
    assert(mkExec(fresh())(task(
      "EXEC('DELETE FROM ct WHERE v < ' + CAST(GETDATE() AS VARCHAR(20)));"))
      .isEmpty, "non-constant fragments must decline")
    // ledger twin
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "EXEC('DELETE FROM ct WHERE v < ' + CAST(8 AS VARCHAR(10)))"),
      Nil).status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "EXEC('DELETE FROM ct WHERE ' + @col + ' > 8')"),
      Nil).status === "manual_review")
  }

  test("dynamic pivot: STRING_AGG-built column list composes through EXEC(@sql)") {
    // q152 (the r17 verdict's item 7): the data-dependent IN list —
    // query-assign (q114) folds @cols to a literal, TsqlConcatFold
    // (q127) renders the spliced text, the literal EXEC unwraps, and
    // the inner re-enters the PIVOT translation (q137). A bracketed
    // column with an embedded space rides the whole chain.
    import spark.implicits._
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "dpsrc" -> Seq(("1-URGENT", 10.0), ("2-HIGH", 5.0), ("1-URGENT", 2.0),
        ("4-NOT SPECIFIED", 7.0)).toDF("prio", "amt"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    val exec = graft.patterns.ScriptedSqlExecutor.executor(spark,
      written = w.get,
      bareName = identity,
      commit = (k, v) => w(k) = v)
    exec(graft.ir.Ir.ExecuteSqlTask("dp", None, "conn",
      "DECLARE @cols NVARCHAR(MAX), @sql NVARCHAR(MAX); " +
        "SELECT @cols = STRING_AGG(CONCAT('[', p, ']'), ',') " +
        "WITHIN GROUP (ORDER BY p) FROM (SELECT DISTINCT prio AS p FROM dpsrc) d; " +
        "SET @sql = N'INSERT INTO dptgt SELECT ' + @cols + N' FROM " +
        "(SELECT prio, amt FROM dpsrc) s PIVOT (SUM(amt) FOR prio IN (' " +
        "+ @cols + N')) p'; " +
        "EXEC(@sql);"))
      .getOrElse(fail("dynamic pivot did not compile"))
    assert(w("dptgt").columns.toList ===
      List("1-URGENT", "2-HIGH", "4-NOT SPECIFIED"))
    assert(w("dptgt").as[(Double, Double, Double)].head() === ((12.0, 5.0, 7.0)))
    spark.catalog.dropTempView("dpsrc")
  }

  test("script-local stored procedures inline their EXEC calls; off-shapes decline") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("pi", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "pt" -> Seq((1L, 5.0, "A"), (2L, 9.0, "B"), (3L, 12.0, "B"))
          .toDF("id", "v", "tag"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // the helper-proc idiom: create, call twice (positional THEN named
    // across two calls), drop — each call inlines with bound args
    val w1 = fresh()
    mkExec(w1)(task(
      "CREATE PROCEDURE dbo.bump @cut DECIMAL(12,2), @t VARCHAR(1) AS\n" +
        "BEGIN UPDATE pt SET v = v + 1 WHERE v > @cut AND tag = @t END\n" +
        "GO\n" +
        "EXEC dbo.bump 8, 'B';\n" +
        "EXEC bump @t = 'A', @cut = 1;\n" +
        "DROP PROCEDURE dbo.bump;"))
      .getOrElse(fail("helper-proc script did not compile"))
    assert(w1("pt").orderBy("id").select("v").as[Double].collect().toList
      === List(6.0, 10.0, 13.0))
    // create+drop with no call: vacuous success, nothing commits
    val w2 = fresh()
    mkExec(w2)(task(
      "CREATE PROCEDURE p1 AS\nDELETE FROM pt WHERE v > 0\nGO\n" +
        "DROP PROCEDURE p1;"))
      .getOrElse(fail("create+drop-only script did not compile"))
    assert(w2("pt").count() === 3L)
    // a parameterless proc body still inlines
    val w3 = fresh()
    mkExec(w3)(task(
      "CREATE PROCEDURE purgeb AS\nDELETE FROM pt WHERE tag = 'B'\nGO\n" +
        "EXEC purgeb;\nDROP PROCEDURE purgeb;"))
      .getOrElse(fail("parameterless proc did not compile"))
    assert(w3("pt").count() === 1L)
    // r15 — DECLARED-VARIABLE arguments: same-batch @vars bind at
    // call time, by value (the SET between the calls proves the
    // second call reads the reassigned value, and the first call's
    // binding is untouched by it); positional AND named spellings
    val w4 = fresh()
    mkExec(w4)(task(
      "CREATE PROCEDURE dbo.bump @cut DECIMAL(12,2), @t VARCHAR(1) AS\n" +
        "BEGIN UPDATE pt SET v = v + 1 WHERE v > @cut AND tag = @t END\n" +
        "GO\n" +
        "DECLARE @c DECIMAL(12,2) = 8;\n" +
        "DECLARE @tg VARCHAR(1);\n" +
        "SET @tg = 'B';\n" +
        "EXEC dbo.bump @c, @tg;\n" +
        "SET @c = 1;\n" +
        "EXEC dbo.bump @cut = @c, @t = 'A';\n" +
        "DROP PROCEDURE dbo.bump;"))
      .getOrElse(fail("declared-variable args did not compile"))
    assert(w4("pt").orderBy("id").select("v").as[Double].collect().toList
      === List(6.0, 10.0, 13.0))
    // r15 — MULTIPLE helpers, one with a hygienic body-local DECLARE
    // (renamed per call, so nothing leaks into the outer scope and a
    // later outer @tag would be a different variable)
    val w5 = fresh()
    mkExec(w5)(task(
      "CREATE PROCEDURE mark @cut DECIMAL(12,2) AS\n" +
        "BEGIN\nDECLARE @tag VARCHAR(2);\nSET @tag = 'H' + 'I';\n" +
        "UPDATE pt SET tag = @tag WHERE v > @cut\nEND\n" +
        "GO\n" +
        "CREATE PROCEDURE purge @t VARCHAR(2) AS\n" +
        "DELETE FROM pt WHERE tag = @t\nGO\n" +
        "EXEC mark 8;\nEXEC purge 'A';\n" +
        "DROP PROCEDURE mark;\nDROP PROCEDURE purge;"))
      .getOrElse(fail("multi-helper script did not compile"))
    assert(w5("pt").orderBy("id").select("tag").as[String].collect().toList
      === List("HI", "HI"))
    // r15 — parameter passing TRUNCATES to the declared char length
    // (T-SQL assignment conversion): a VARCHAR(1) param bound N'BX'
    // compares as 'B' (and the N national prefix strips — Spark has
    // no N literals)
    val w6 = fresh()
    mkExec(w6)(task(
      "CREATE PROCEDURE pg @t VARCHAR(1) AS\n" +
        "DELETE FROM pt WHERE tag = @t\nGO\n" +
        "EXEC pg N'BX';\nDROP PROCEDURE pg;"))
      .getOrElse(fail("truncating param did not compile"))
    assert(w6("pt").count() === 1L)
    // r16 — scalar OUTPUT parameter: copy-in at the call, body mutates
    // the renamed local, post-body write-back to the caller's variable
    // (cast to the CALLER's type); the written-back value then drives
    // a later statement. Both positional and named call spellings.
    val w7 = fresh()
    mkExec(w7)(task(
      "CREATE PROCEDURE sumv @t VARCHAR(1), @tot DECIMAL(12,2) OUTPUT AS\n" +
        "SELECT @tot = SUM(v) FROM pt WHERE tag = @t\nGO\n" +
        "DECLARE @acc DECIMAL(12,2) = 0;\n" +
        "EXEC sumv 'B', @acc OUTPUT;\n" +
        "DELETE FROM pt WHERE v < @acc / 2;\n" +
        "DROP PROCEDURE sumv;"))
      .getOrElse(fail("OUTPUT-param script did not compile"))
    // SUM(v) over tag B = 21; delete v < 10.5 removes ids 1 and 2
    assert(w7("pt").orderBy("id").select("id").as[Long].collect().toList
      === List(3L))
    val w7n = fresh()
    mkExec(w7n)(task(
      "CREATE PROCEDURE sumv @t VARCHAR(1), @tot DECIMAL(12,2) OUTPUT AS\n" +
        "SELECT @tot = SUM(v) FROM pt WHERE tag = @t\nGO\n" +
        "DECLARE @acc DECIMAL(12,2) = 0;\n" +
        "EXEC sumv @tot = @acc OUTPUT, @t = 'B';\n" +
        "DELETE FROM pt WHERE v < @acc / 2;\n" +
        "DROP PROCEDURE sumv;"))
      .getOrElse(fail("named OUTPUT arg did not compile"))
    assert(w7n("pt").count() === 1L)
    // an OUTPUT param called WITHOUT the keyword binds by value and
    // writes nothing back — @acc stays 0 and nothing deletes (T-SQL)
    val w7v = fresh()
    mkExec(w7v)(task(
      "CREATE PROCEDURE sumv @t VARCHAR(1), @tot DECIMAL(12,2) OUTPUT AS\n" +
        "SELECT @tot = SUM(v) FROM pt WHERE tag = @t\nGO\n" +
        "DECLARE @acc DECIMAL(12,2) = 0;\n" +
        "EXEC sumv 'B', @acc;\n" +
        "DELETE FROM pt WHERE v < @acc / 2;\n" +
        "DROP PROCEDURE sumv;"))
      .getOrElse(fail("OUTPUT-param by-value call did not compile"))
    assert(w7v("pt").count() === 3L,
      "no OUTPUT keyword at the call = no write-back")
    // r16 — INSERT INTO t EXEC helper: a single-SELECT visible body
    // inlines as the INSERT's source
    val w8 = fresh()
    w8("pt2") = Seq((0L, 0.0)).toDF("id", "v")
    mkExec(w8)(task(
      "CREATE PROCEDURE topv @cut DECIMAL(12,2) AS\n" +
        "SELECT id, v FROM pt WHERE v > @cut\nGO\n" +
        "INSERT INTO pt2 EXEC topv 8;\nDROP PROCEDURE topv;"))
      .getOrElse(fail("insert-exec did not compile"))
    assert(w8("pt2").count() === 3L) // seed row + ids 2,3
    // r16 — prefix hygiene: the call number LEADS the generated
    // namespace, so confusable proc spellings (p vs p_1) can never
    // share a renamed slot across calls
    val w9 = fresh()
    mkExec(w9)(task(
      "CREATE PROCEDURE p @b2_x INT AS\n" +
        "DELETE FROM pt WHERE id = @b2_x\nGO\n" +
        "CREATE PROCEDURE p_1 @x INT AS\n" +
        "DELETE FROM pt WHERE id = @x\nGO\n" +
        "EXEC p 1;\nEXEC p_1 2;\nDROP PROCEDURE p;\nDROP PROCEDURE p_1;"))
      .getOrElse(fail("confusable-name script did not compile"))
    assert(w9("pt").count() === 1L)
    // r17 — EXEC @rc = helper: a FINAL-statement RETURN's scalar
    // expression converts to INT and lands in the caller's variable
    val w10 = fresh()
    mkExec(w10)(task(
      "CREATE PROCEDURE cntv @cut DECIMAL(12,2) AS\nBEGIN\n" +
        "DECLARE @n INT;\nSELECT @n = COUNT(*) FROM pt WHERE v > @cut;\n" +
        "RETURN @n * 2\nEND\nGO\n" +
        "DECLARE @rc INT = -1;\nEXEC @rc = cntv 8;\n" +
        "DELETE FROM pt WHERE id <= @rc;\nDROP PROCEDURE cntv;"))
      .getOrElse(fail("EXEC @rc = helper did not compile"))
    assert(w10("pt").count() === 0L, "COUNT=2 → @rc=4 → delete id<=4 (all)")
    // …a body WITHOUT a RETURN returns 0, and a bare RETURN returns 0
    val w11 = fresh()
    mkExec(w11)(task(
      "CREATE PROCEDURE nop0 @a INT AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\n" +
        "CREATE PROCEDURE nop1 @a INT AS\nBEGIN\n" +
        "DELETE FROM pt WHERE id = @a;\nRETURN\nEND\nGO\n" +
        "DECLARE @r1 INT = 9; DECLARE @r2 INT = 9;\n" +
        "EXEC @r1 = nop0 1;\nEXEC @r2 = nop1 2;\n" +
        "DELETE FROM pt WHERE id > @r1 + @r2;\n" +
        "DROP PROCEDURE nop0;\nDROP PROCEDURE nop1;"))
      .getOrElse(fail("default return 0 did not compile"))
    assert(w11("pt").count() === 0L,
      "@r1=@r2=0 → delete id>0 removes the remaining row")
    // …the plain call form still works on a RETURN-bearing helper (the
    // return value is simply discarded, like T-SQL)
    val w12 = fresh()
    mkExec(w12)(task(
      "CREATE PROCEDURE delr @a INT AS\nBEGIN\n" +
        "DELETE FROM pt WHERE id = @a;\nRETURN 7\nEND\nGO\n" +
        "EXEC delr 1;\nDROP PROCEDURE delr;"))
      .getOrElse(fail("discarded-return call did not compile"))
    assert(w12("pt").count() === 2L)
    // …and the return code COMPOSES with an OUTPUT parameter in one
    // call: write-backs land first, then the rc SET (both at proc
    // exit, rc last — the T-SQL order)
    val w12b = fresh()
    mkExec(w12b)(task(
      "CREATE PROCEDURE combo @cut DECIMAL(12,2), @n INT OUTPUT AS\nBEGIN\n" +
        "SELECT @n = COUNT(*) FROM pt WHERE v > @cut;\nRETURN @n + 10\nEND\nGO\n" +
        "DECLARE @c INT = 0; DECLARE @rc INT = 0;\n" +
        "EXEC @rc = combo 8, @c OUTPUT;\n" +
        "DELETE FROM pt WHERE id <= @rc + @c - 12;\nDROP PROCEDURE combo;"))
      .getOrElse(fail("rc + OUTPUT composition did not compile"))
    assert(w12b("pt").count() === 1L,
      "@c=2, @rc=12 → delete id <= 2 → rows 1,2 go")
    // r17 — DEFAULT parameter values: an unbound trailing positional
    // param and a name-bound omission both take the declared constant
    val w12c = fresh()
    mkExec(w12c)(task(
      "CREATE PROCEDURE deld @a INT, @b INT = 2 AS\n" +
        "DELETE FROM pt WHERE id = @a OR id = @b\nGO\n" +
        "EXEC deld 1;\nDROP PROCEDURE deld;"))
      .getOrElse(fail("positional default did not compile"))
    assert(w12c("pt").count() === 1L, "@b defaults to 2 → ids 1,2 go")
    val w12d = fresh()
    mkExec(w12d)(task(
      "CREATE PROCEDURE deld @a INT = 1, @b INT = 3 AS\n" +
        "DELETE FROM pt WHERE id = @a OR id = @b\nGO\n" +
        "EXEC deld @b = 2;\nDROP PROCEDURE deld;"))
      .getOrElse(fail("named-omission default did not compile"))
    assert(w12d("pt").count() === 1L, "@a defaults to 1, @b bound 2")
    // …an all-defaults zero-arg call works too
    val w12e = fresh()
    mkExec(w12e)(task(
      "CREATE PROCEDURE deld @a INT = 3 AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC deld;\nDROP PROCEDURE deld;"))
      .getOrElse(fail("zero-arg default call did not compile"))
    assert(w12e("pt").count() === 2L)
    // …the call-site DEFAULT placeholder substitutes in place, both
    // positionally and name-bound
    val w12f = fresh()
    mkExec(w12f)(task(
      "CREATE PROCEDURE deld @a INT = 1, @b INT AS\n" +
        "DELETE FROM pt WHERE id = @a OR id = @b\nGO\n" +
        "EXEC deld DEFAULT, 3;\nDROP PROCEDURE deld;"))
      .getOrElse(fail("positional DEFAULT keyword did not compile"))
    assert(w12f("pt").count() === 1L, "DEFAULT→1, 3 → ids 1,3 go")
    val w12g = fresh()
    mkExec(w12g)(task(
      "CREATE PROCEDURE deld @a INT = 2 AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC deld @a = DEFAULT;\nDROP PROCEDURE deld;"))
      .getOrElse(fail("named DEFAULT keyword did not compile"))
    assert(w12g("pt").count() === 2L)
    // …an unbound param WITHOUT a default still declines, as do a
    // non-constant default (T-SQL syntax error) and a DEFAULT keyword
    // against a parameter with no default
    assert(mkExec(fresh())(task(
      "CREATE PROCEDURE px @a INT, @b INT AS\n" +
        "DELETE FROM pt WHERE id = @a OR id = @b\nGO\nEXEC px 1;")).isEmpty)
    assert(mkExec(fresh())(task(
      "CREATE PROCEDURE px @a INT = @x AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\nEXEC px;")).isEmpty)
    assert(mkExec(fresh())(task(
      "CREATE PROCEDURE px @a INT AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\nEXEC px DEFAULT;")).isEmpty)
    // r17 — INSERT…EXEC over an assignment-prefix body: the N−1
    // scalar assignments run hygienically, the final SELECT inlines
    // as the INSERT's source
    val w13 = fresh()
    w13("pt2") = Seq((0L, 0.0)).toDF("id", "v")
    mkExec(w13)(task(
      "CREATE PROCEDURE topd @k INT AS\nBEGIN\n" +
        "DECLARE @cut DECIMAL(12,2);\n" +
        "SELECT @cut = MAX(v) - @k FROM pt;\n" +
        "SELECT id, v FROM pt WHERE v >= @cut\nEND\nGO\n" +
        "INSERT INTO pt2 EXEC topd 4;\nDROP PROCEDURE topd;"))
      .getOrElse(fail("assignment-prefix insert-exec did not compile"))
    assert(w13("pt2").count() === 3L, "MAX(12)-4=8 → ids 2,3 + seed row")
    // …and a body with TWO result SELECTs inserts BOTH result sets in
    // body order, T-SQL INSERT-EXEC's capture-all contract
    val w14 = fresh()
    w14("pt2") = Seq((0L, 0.0)).toDF("id", "v")
    mkExec(w14)(task(
      "CREATE PROCEDURE both @a INT, @b INT AS\nBEGIN\n" +
        "SELECT id, v FROM pt WHERE id = @a;\n" +
        "SELECT id, v FROM pt WHERE id = @b\nEND\nGO\n" +
        "INSERT INTO pt2 EXEC both 1, 3;\nDROP PROCEDURE both;"))
      .getOrElse(fail("two-result-set insert-exec did not compile"))
    assert(w14("pt2").count() === 3L, "seed + id 1 + id 3")
    // declines
    for (sql <- Seq(
      // mid-body RETURN is control flow
      "CREATE PROCEDURE px @a INT AS\nBEGIN\nRETURN 1;\n" +
        "DELETE FROM pt WHERE id = @a\nEND\nGO\nEXEC @rc = px 1;",
      // EXEC @rc = <proc this script never created>: T-SQL 2812
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "DECLARE @rc INT = 0;\nEXEC @rc = other_proc 1;",
      // @rc not declared in the batch: T-SQL 137
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC @rc = px 1;",
      // @rc declared in a DIFFERENT batch: batch-scoped, 137 again
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "DECLARE @rc INT = 0;\nGO\nEXEC @rc = px 1;",
      // a RETURN expression reading an undeclared @token
      "CREATE PROCEDURE px @a INT AS\nBEGIN\n" +
        "DELETE FROM pt WHERE id = @a;\nRETURN @nope\nEND\nGO\n" +
        "DECLARE @rc INT = 0;\nEXEC @rc = px 1;",
      // INSERT…EXEC with a side-effecting DML before the SELECT (not
      // an assignment, not a result set) keeps the decline
      "CREATE PROCEDURE px @a INT AS\nBEGIN\n" +
        "UPDATE pt SET v = 0 WHERE id = 0;\n" +
        "SELECT id, v FROM pt WHERE id = @a\nEND\nGO\n" +
        "INSERT INTO pt2 EXEC px 1;",
      // EXEC before the CREATE batch: T-SQL 2812
      "EXEC px 1;\nGO\nCREATE PROCEDURE px @a INT AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\nDROP PROCEDURE px;",
      // EXEC after DROP: 2812 too
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "DROP PROCEDURE px;\nEXEC px 1;",
      // EXEC of a procedure this script never created
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC other_proc 1;\nDROP PROCEDURE px;",
      // control flow in the body
      "CREATE PROCEDURE px @a INT AS\n" +
        "IF @a > 0 DELETE FROM pt WHERE id = @a\nGO\nEXEC px 1;",
      // OUTPUT keyword on a non-OUTPUT parameter: T-SQL 8162
      "CREATE PROCEDURE px @a INT AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\n" +
        "DECLARE @i INT = 1;\nEXEC px @i OUTPUT;",
      // OUTPUT with a literal argument: T-SQL 179
      "CREATE PROCEDURE px @a INT OUTPUT AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\nEXEC px 1 OUTPUT;",
      // READONLY parameter stays declined
      "CREATE PROCEDURE px @a INT READONLY AS\n" +
        "DELETE FROM pt WHERE id = @a\nGO\nEXEC px 1;",
      // INSERT…EXEC of a MULTI-statement body: no derived-table reading
      "CREATE PROCEDURE px @a INT AS\n" +
        "DELETE FROM pt WHERE id = 0;\nSELECT id, v FROM pt WHERE id = @a\n" +
        "GO\nINSERT INTO pt2 EXEC px 1;",
      // INSERT…EXEC of an ASSIGNING body: returns no result set
      "CREATE PROCEDURE px @a INT, @x INT OUTPUT AS\n" +
        "SELECT @x = COUNT(*) FROM pt WHERE id = @a\nGO\n" +
        "DECLARE @n INT = 0;\nINSERT INTO pt2 EXEC px 1, @n OUTPUT;",
      // body @token that is neither a parameter nor a body-local
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @b\nGO\n" +
        "EXEC px 1;",
      // body-local shadowing a parameter: T-SQL 134
      "CREATE PROCEDURE px @a INT AS\nBEGIN\nDECLARE @a INT;\n" +
        "DELETE FROM pt WHERE id = @a\nEND\nGO\nEXEC px 1;",
      // @@ system variables in the body read caller state
      "CREATE PROCEDURE px AS\nDELETE FROM pt WHERE id = @@ROWCOUNT\n" +
        "GO\nEXEC px;",
      // expression argument (a T-SQL syntax error itself)
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC px 1 + 2;",
      // UNDECLARED @var argument: T-SQL 137
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC px @nope;",
      // @var declared in a DIFFERENT batch: batch-scoped, T-SQL 137
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "DECLARE @i INT = 1;\nGO\nEXEC px @i;",
      // arity mismatch
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC px 1, 2;",
      // mixed positional and named args
      "CREATE PROCEDURE px @a INT, @b INT AS\n" +
        "DELETE FROM pt WHERE id = @a AND id = @b\nGO\nEXEC px 1, @b = 2;",
      // re-CREATE of a live name: T-SQL 2714
      "CREATE PROCEDURE p1 AS\nDELETE FROM pt WHERE id = 1\nGO\n" +
        "CREATE PROCEDURE p1 AS\nDELETE FROM pt WHERE id = 2\nGO\n" +
        "EXEC p1;",
      // a TABLE variable is a relation, not a scalar — passing one as
      // an EXEC argument is a T-SQL type error
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "DECLARE @tv TABLE (id INT);\nEXEC px @tv;",
      // mid-statement EXEC (INSERT…EXEC): an invisible body feeding an
      // insert — same manual-review class as any external EXEC
      "CREATE PROCEDURE px @a INT AS\nDELETE FROM pt WHERE id = @a\nGO\n" +
        "EXEC px 1;\nINSERT INTO pt2 EXEC other_proc;",
      // ROLLBACK in the outer script: the dispatcher's conditional-
      // undo gate declines the text at runtime, so this compiler must
      // decline it too (ledger/execution alignment)
      "CREATE PROCEDURE px AS\nDELETE FROM pt WHERE id = 1\nGO\n" +
        "EXEC px;\nROLLBACK;\nDROP PROCEDURE px;",
      // …same for TRY/CATCH and SAVE TRAN around the calls
      "CREATE PROCEDURE px AS\nDELETE FROM pt WHERE id = 1\nGO\n" +
        "BEGIN TRY\nEXEC px;\nEND TRY\nBEGIN CATCH\nSELECT 1\nEND CATCH",
      "CREATE PROCEDURE px AS\nDELETE FROM pt WHERE id = 1\nGO\n" +
        "SAVE TRAN sp1;\nEXEC px;"))
      assert(mkExec(fresh())(task(sql)).isEmpty, s"should decline: $sql")
    // ledger twins — including the alignment pin: a ROLLBACK-carrying
    // proc script must ledger manual_review, because the executor's
    // dispatcher gates refuse it before this compiler ever runs
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "CREATE PROCEDURE dbo.bump @cut DECIMAL(12,2) AS\n" +
          "UPDATE pt SET v = v + 1 WHERE v > @cut\nGO\n" +
          "EXEC dbo.bump 8;\nDROP PROCEDURE dbo.bump;"), Nil)
      .status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "CREATE PROCEDURE dbo.bump @cut DECIMAL(12,2) AS\n" +
          "UPDATE pt SET v = v + 1 WHERE v > @cut\nGO\n" +
          "DECLARE @c DECIMAL(12,2) = 8;\nEXEC dbo.bump @c;\n" +
          "DROP PROCEDURE dbo.bump;"), Nil)
      .status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "CREATE PROCEDURE px AS\nDELETE FROM pt WHERE id = 1\nGO\n" +
          "EXEC px;\nROLLBACK;\nDROP PROCEDURE px;"), Nil)
      .status === "manual_review")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "EXEC some_external_proc 1, 2"), Nil).status === "manual_review")
  }

  test("STUFF(FOR XML PATH) group-concat translates; XML shaping declines") {
    import graft.patterns.XmlPathAgg
    import spark.implicits._
    def stuff(inner: String, strip: Int = 1) =
      s"SELECT DISTINCT k, STUFF(($inner), 1, $strip, '') AS lst FROM xt o"
    val canonical = stuff("SELECT ',' + CAST(o2.v AS VARCHAR(10)) " +
      "FROM xt o2 WHERE o2.k = o.k ORDER BY o2.v FOR XML PATH('')")
    // canonical → Right with the collect_list subquery
    val Some(Right(t1)) = XmlPathAgg.translate(canonical)
    assert(t1.contains("collect_list") && t1.contains("array_join") &&
      !t1.toUpperCase.contains("FOR XML"))
    // no FOR XML anywhere → None (text untouched)
    assert(XmlPathAgg.translate("SELECT 1 AS a").isEmpty)
    // off-shapes → Left: XML shaping, not aggregation
    for (s <- Seq(
      "SELECT * FROM xt FOR XML AUTO",
      // no ORDER BY: the concatenation order is undefined in T-SQL
      stuff("SELECT ',' + CAST(o2.v AS VARCHAR(10)) FROM xt o2 " +
        "WHERE o2.k = o.k FOR XML PATH('')"),
      // DESC: array_sort is ascending
      stuff("SELECT ',' + CAST(o2.v AS VARCHAR(10)) FROM xt o2 " +
        "WHERE o2.k = o.k ORDER BY o2.v DESC FOR XML PATH('')"),
      // a multi-'+' item is T-SQL concat Spark would read as arithmetic
      stuff("SELECT ',' + CAST(o2.v AS VARCHAR(10)) + ':' FROM xt o2 " +
        "WHERE o2.k = o.k ORDER BY o2.v FOR XML PATH('')"),
      // strip length must equal the separator's length
      stuff("SELECT ', ' + CAST(o2.v AS VARCHAR(10)) FROM xt o2 " +
        "WHERE o2.k = o.k ORDER BY o2.v FOR XML PATH('')", strip = 1),
      // non-empty PATH emits element tags — genuine XML
      stuff("SELECT ',' + CAST(o2.v AS VARCHAR(10)) FROM xt o2 " +
        "WHERE o2.k = o.k ORDER BY o2.v FOR XML PATH('r')")))
      assert(XmlPathAgg.translate(s).exists(_.isLeft), s"should be Left: $s")
    // end-to-end through the rewriter: INSERT…SELECT with the idiom
    Seq((1L, 30L), (1L, 10L), (2L, 20L), (1L, 20L))
      .toDF("k", "v").createOrReplaceTempView("xt")
    val out = graft.patterns.SqlPatternRewriter.rewrite(spark,
      graft.ir.Ir.ExecuteSqlTask("xa", None, "conn",
        s"INSERT INTO xagg $canonical"))
      .getOrElse(fail("canonical STUFF did not compile"))
    assert(out.target.contains("xagg"))
    assert(out.df.get.orderBy("k").as[(Long, String)].collect().toList
      === List((1L, "10,20,30"), (2L, "20")))
    // off-shape FOR XML inside an INSERT…SELECT declines the statement
    assert(graft.patterns.SqlPatternRewriter.rewrite(spark,
      graft.ir.Ir.ExecuteSqlTask("xa2", None, "conn",
        "INSERT INTO xagg SELECT k FROM xt FOR XML AUTO")).isEmpty)
    // ledger twins
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        s"INSERT INTO xagg $canonical"), Nil).status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "INSERT INTO xagg SELECT k FROM xt FOR XML AUTO"), Nil)
      .status === "manual_review")
  }

  test("T-SQL PIVOT spelling translates to Spark's; off-shapes decline") {
    import graft.patterns.PivotSql
    import spark.implicits._
    val canonical = "SELECT k, [A], [B] FROM (SELECT k, s, v FROM pt2) src " +
      "PIVOT (SUM(v) FOR s IN ([A], [B])) p"
    val Some(Right(t1)) = PivotSql.translate(canonical)
    assert(t1.contains("IN ('A' AS A, 'B' AS B)"))
    assert(!t1.contains("[A]") && !t1.endsWith(" p"),
      s"refs must debracket and the result alias must strip: $t1")
    // bare-identifier items translate too; Spark-style quoted items
    // would not match the identifier grammar and decline (they never
    // appear in T-SQL task text)
    assert(PivotSql.translate(canonical.replace("[A], [B]", "A, B"))
      .exists(_.isRight))
    assert(PivotSql.translate("SELECT 1 AS a").isEmpty)
    // r15 — letter-bearing values fold case: the source wraps in an
    // upper() projection so 'o'-cased rows land in the [O] column the
    // way a default-collation T-SQL estate folds them
    assert(t1.contains("upper(s) AS s") && t1.contains("EXCEPT (s)"),
      s"letter values must wrap the source in the collation fold: $t1")
    // r15 — non-identifier value names own: they emit as STRING
    // literals with backticked aliases (Spark casts the value to the
    // pivot column's type, the same direction T-SQL converts the
    // identifier text)
    val Some(Right(t2)) = PivotSql.translate(
      "SELECT k, [1995], [1996] FROM (SELECT k, yr, v FROM t) src " +
        "PIVOT (SUM(v) FOR yr IN ([1995], [1996])) p")
    assert(t2.contains("IN ('1995' AS `1995`, '1996' AS `1996`)") &&
      t2.contains("SELECT k, `1995`, `1996` FROM"),
      s"numeric value names must quote and backtick: $t2")
    assert(!t2.contains("upper("),
      s"letterless values have no case to fold — no wrap: $t2")
    for (s <- Seq(
      // two pivots
      canonical + " CROSS JOIN (SELECT k2 FROM (SELECT 1 AS k2, 2 AS s2, 3 AS v2) " +
        "PIVOT (SUM(v2) FOR s2 IN ([X])) q) z",
      // PIVOT and UNPIVOT side by side
      canonical + " CROSS JOIN (SELECT * FROM t2 UNPIVOT (v2 FOR s2 IN (x, y)) u) z",
      // letter values over a source the fold cannot isolate (join
      // before PIVOT): shipping the case-sensitive compare would
      // silently diverge from a CI estate — decline
      "SELECT * FROM a JOIN b ON a.k = b.k " +
        "PIVOT (SUM(v) FOR s IN ([A], [B])) p",
      // r16 — the TAIL relation of a multi-table FROM (tblTailRe would
      // match `JOIN u`): wrapping only u while the pivot column may
      // live on t would fail Spark analysis on a statement the ledger
      // already classified 'converted' — decline at classification
      "SELECT * FROM t CROSS JOIN u " +
        "PIVOT (SUM(v) FOR s IN ([A], [B])) p",
      "SELECT * FROM t CROSS JOIN (SELECT k, s, v FROM u) src " +
        "PIVOT (SUM(v) FOR s IN ([A], [B])) p",
      // letter values with a QUALIFIED pivot column: same reason
      "SELECT * FROM (SELECT k, s, v FROM t) src " +
        "PIVOT (SUM(v) FOR src.s IN ([A], [B])) p"))
      assert(PivotSql.translate(s).exists(_.isLeft), s"should be Left: $s")
    // …and the sole-relation guard must NOT over-decline the owned
    // shapes: a bare table wraps, and an earlier FROM inside parens
    // (a CTE body) doesn't count as a second relation
    val Some(Right(tb)) = PivotSql.translate(
      "SELECT * FROM t PIVOT (SUM(v) FOR s IN ([A], [B])) p")
    assert(tb.contains("upper(s) AS s"), s"bare-table fold lost: $tb")
    val Some(Right(tc)) = PivotSql.translate(
      "WITH c AS (SELECT k, s, v FROM t) SELECT * FROM " +
        "(SELECT k, s, v FROM c) src PIVOT (SUM(v) FOR s IN ([A], [B])) p")
    assert(tc.contains("upper(s) AS s"), s"CTE-fed fold lost: $tc")
    // r16 — ONE PIVOT chained with ONE UNPIVOT rewrites sequentially
    // (previously a documented decline); both result aliases strip,
    // shared [X] names debracket, both legs' gates still apply
    val chain = "SELECT prio, sc, amt FROM (SELECT prio, st, v FROM t) src " +
      "PIVOT (SUM(v) FOR st IN ([O], [F])) p " +
      "UNPIVOT (amt FOR sc IN ([O], [F])) u"
    val Some(Right(tch)) = PivotSql.translate(chain)
    assert(tch.contains("PIVOT (SUM(v) FOR st IN ('O' AS O, 'F' AS F))") &&
      tch.contains("UNPIVOT ((amt) FOR sc IN ((O), (F)))") &&
      !tch.endsWith(" u") && !tch.contains(" p "),
      s"chained translation wrong: $tch")
    // …and the chain executes end-to-end with T-SQL's NULL-measure drop
    Seq((1L, "O", 10.0), (1L, "F", 5.0), (2L, "O", 7.0))
      .toDF("prio", "st", "v").createOrReplaceTempView("puc")
    val outC = graft.patterns.SqlPatternRewriter.rewrite(spark,
      graft.ir.Ir.ExecuteSqlTask("puc1", None, "conn",
        "INSERT INTO puct " + chain.replace("FROM t)", "FROM puc)")))
      .getOrElse(fail("chained PIVOT+UNPIVOT did not compile"))
    assert(outC.df.get.orderBy("prio", "sc").as[(Long, String, Double)]
      .collect().toList ===
      List((1L, "F", 5.0), (1L, "O", 10.0), (2L, "O", 7.0)))
    // UNPIVOT-first chains rewrite too when the pivot leg needs no
    // collation fold (letterless values)…
    val chain2 = "SELECT * FROM wup " +
      "UNPIVOT (cnt FOR st IN ([a_cnt], [b_cnt])) u " +
      "PIVOT (SUM(cnt) FOR yr IN ([1995], [1996])) p"
    assert(PivotSql.translate(chain2).exists(_.isRight))
    // r17 — a letter-bearing pivot IN list after an UNPIVOT now OWNS:
    // the collation fold wraps the WHOLE `<rel> UNPIVOT (…)` chain
    // (the pivot column may exist only after the unpivot), previously
    // a documented decline
    val chainCi = "SELECT sc, [en], [fr] FROM " +
      "(SELECT lang, a_cnt, b_cnt FROM wci) src " +
      "UNPIVOT (cnt FOR sc IN ([a_cnt], [b_cnt])) u " +
      "PIVOT (MAX(cnt) FOR lang IN ([en], [fr])) p"
    val Some(Right(tci)) = PivotSql.translate(chainCi)
    assert(tci.contains("upper(lang) AS lang") &&
      tci.contains("IN ('EN' AS en, 'FR' AS fr)"),
      s"chained CI fold must wrap the whole unpivot chain: $tci")
    // …and it executes: uppercase-stored langs land in the lowercase
    // IN columns exactly as a default-collation estate folds them
    Seq(("EN", Some(10.0), Some(5.0)), ("FR", Some(7.0), Option.empty[Double]))
      .toDF("lang", "a_cnt", "b_cnt").createOrReplaceTempView("wci")
    val outCi = graft.patterns.SqlPatternRewriter.rewrite(spark,
      graft.ir.Ir.ExecuteSqlTask("pci", None, "conn",
        s"INSERT INTO pcit $chainCi"))
      .getOrElse(fail("chained CI PIVOT did not compile"))
    assert(outCi.df.get.orderBy("sc")
      .as[(String, Option[Double], Option[Double])].collect().toList ===
      List(("a_cnt", Some(10.0), Some(7.0)), ("b_cnt", Some(5.0), None)))
    // …a bare-table unpivot source folds too
    val chainCi2 = "SELECT sc, [en], [fr] FROM wci " +
      "UNPIVOT (cnt FOR sc IN ([a_cnt], [b_cnt])) u " +
      "PIVOT (MAX(cnt) FOR lang IN ([en], [fr])) p"
    assert(PivotSql.translate(chainCi2).exists(_.isRight))
    // …but an unpivot-tailed chain whose relation sits in a join tail
    // still declines (the sole-top-level-relation guard)
    assert(PivotSql.translate(
      "SELECT * FROM t CROSS JOIN wci " +
        "UNPIVOT (cnt FOR sc IN ([a_cnt], [b_cnt])) u " +
        "PIVOT (MAX(cnt) FOR lang IN ([en], [fr])) p").exists(_.isLeft))
    // two PIVOTs beside an UNPIVOT still decline
    assert(PivotSql.translate(chain +
      " CROSS JOIN (SELECT k2 FROM (SELECT 1 AS k2, 2 AS s2, 3 AS v2) " +
      "PIVOT (SUM(v2) FOR s2 IN ([X])) q) z").exists(_.isLeft))
    // UNPIVOT translates to Spark's multi-paren form, alias stripped,
    // and the NULL measure rows drop in BOTH dialects
    val up = "SELECT k, st, cnt FROM wup " +
      "UNPIVOT (cnt FOR st IN ([a_cnt], [b_cnt])) u"
    val Some(Right(tu)) = PivotSql.translate(up)
    assert(tu.contains("UNPIVOT ((cnt) FOR st IN ((a_cnt), (b_cnt)))") &&
      !tu.endsWith(" u"), s"unpivot translation wrong: $tu")
    Seq((1L, Some(10.0), Option.empty[Double]), (2L, Some(7.0), Some(3.0)))
      .toDF("k", "a_cnt", "b_cnt").createOrReplaceTempView("wup")
    val outU = graft.patterns.SqlPatternRewriter.rewrite(spark,
      graft.ir.Ir.ExecuteSqlTask("up", None, "conn",
        s"INSERT INTO lup $up"))
      .getOrElse(fail("canonical UNPIVOT did not compile"))
    assert(outU.df.get.orderBy("k", "st").as[(Long, String, Double)]
      .collect().toList ===
      List((1L, "a_cnt", 10.0), (2L, "a_cnt", 7.0), (2L, "b_cnt", 3.0)))
    // end-to-end through the rewriter
    Seq((1L, "A", 10.0), (1L, "B", 5.0), (2L, "A", 7.0))
      .toDF("k", "s", "v").createOrReplaceTempView("pt2")
    val out = graft.patterns.SqlPatternRewriter.rewrite(spark,
      graft.ir.Ir.ExecuteSqlTask("pv", None, "conn",
        s"INSERT INTO pvt $canonical"))
      .getOrElse(fail("canonical PIVOT did not compile"))
    assert(out.df.get.orderBy("k").as[(Long, Option[Double], Option[Double])]
      .collect().toList ===
      List((1L, Some(10.0), Some(5.0)), (2L, Some(7.0), None)))
    // ledger twins
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        s"INSERT INTO pvt $canonical"), Nil).status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "INSERT INTO pvt SELECT * FROM (SELECT k, s, v FROM pt2) src " +
          "PIVOT (SUM(v) FOR s IN ([2024-01])) p"), Nil)
      .status === "converted")
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "INSERT INTO pvt SELECT * FROM a JOIN b ON a.k = b.k " +
          "PIVOT (SUM(v) FOR s IN ([A])) p"), Nil)
      .status === "manual_review")
  }

  test("NoopDdlSqlCompiler: index/statistics DDL executes as a no-op; scope held") {
    import spark.implicits._
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("nd", None, "conn", sql)
    for (sql <- Seq(
      "CREATE INDEX ix ON t (a, b)",
      "CREATE CLUSTERED INDEX ix ON dbo.t (a)",
      "CREATE NONCLUSTERED INDEX ix ON t (a) INCLUDE (b, c)",
      "CREATE INDEX ix ON t (a) WHERE a > 0 WITH (FILLFACTOR = 80)",
      "DROP INDEX ix ON t",
      "DROP INDEX t.ix",
      "UPDATE STATISTICS t",
      "UPDATE STATISTICS t ix WITH FULLSCAN")) {
      val out = graft.patterns.NoopDdlSqlCompiler.rewrite(task(sql))
        .getOrElse(fail(s"should no-op: $sql"))
      assert(out.df.isEmpty && out.target.isEmpty)
      assert(out.affected.get.apply() === 0L)
    }
    // NOT swallowed: relational DDL, rebuilds, bare UPDATEs — and
    // UNIQUE indexes, which are a relational CONSTRAINT (T-SQL errors
    // at creation on existing duplicates and rejects later duplicate
    // inserts; no-op'ing would silently drop both)
    for (sql <- Seq(
      "CREATE TABLE t (a INT)",
      "DROP TABLE t",
      "CREATE UNIQUE INDEX ix ON t (a)",
      "CREATE UNIQUE CLUSTERED INDEX ix ON dbo.t (a)",
      "ALTER INDEX ix ON t REBUILD",
      "UPDATE t SET a = 1",
      "CREATE INDEX ix ON t (a); DELETE FROM t"))
      assert(graft.patterns.NoopDdlSqlCompiler.rewrite(task(sql)).isEmpty,
        s"should not own: $sql")
    // ledger twin
    assert(graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("t", None, "conn",
        "CREATE INDEX ix_b ON part_dim (band)"), Nil).status === "converted")
    // WAITFOR DELAY/TIME: time is the orchestrator's axis — no-ops,
    // but with NO rows-affected thunk (a following @@ROWCOUNT read
    // must decline, not guess T-SQL's post-WAITFOR reset)
    for (sql <- Seq("WAITFOR DELAY '00:00:05'", "WAITFOR TIME '23:00'")) {
      val out = graft.patterns.NoopDdlSqlCompiler.rewrite(task(sql))
        .getOrElse(fail(s"should no-op: $sql"))
      assert(out.df.isEmpty && out.target.isEmpty && out.affected.isEmpty)
    }
    assert(graft.patterns.NoopDdlSqlCompiler.rewrite(task(
      "WAITFOR (RECEIVE TOP(1) * FROM q)")).isEmpty,
      "service-broker WAITFOR must stay manual review")
    // in a script: DML flows across the throttle; a @@ROWCOUNT read
    // straight after the WAITFOR declines the whole script
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "wt" -> Seq((1L, 5.0), (2L, 90.0), (3L, 40.0)).toDF("id", "v"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    mkExec(w)(graft.ir.Ir.ExecuteSqlTask("wf", None, "conn",
      "DELETE FROM wt WHERE v < 10; WAITFOR DELAY '00:00:01'; " +
        "DELETE FROM wt WHERE v > 80"))
      .getOrElse(fail("throttled purge script did not compile"))
    assert(w("wt").select("id").as[Long].collect().toList === List(3L))
    assert(mkExec(w)(graft.ir.Ir.ExecuteSqlTask("wf2", None, "conn",
      "DELETE FROM wt WHERE v < 10; WAITFOR DELAY '00:00:01'; " +
        "INSERT INTO wlog (n) VALUES (@@ROWCOUNT)")).isEmpty,
      "@@ROWCOUNT after WAITFOR must decline, never guess")
  }

  test("TRY/CATCH with CATCH-leading ROLLBACK: all-or-nothing; placements decline") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("rb", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "rbt" -> Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"),
        "rblog" -> Seq.empty[(String, Long)].toDF("what", "n"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // the owned shape: TRY stages a real UPDATE, aborts on 2714, the
    // CATCH-leading ROLLBACK discards the staged effect, the log lands
    // with @@ROWCOUNT = 0 (reset by the undo)
    val w = fresh()
    mkExec(w)(task(
      "BEGIN TRY BEGIN TRAN; UPDATE rbt SET v = v + 5; " +
        "SELECT id INTO rbt FROM rbt; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK; " +
        "INSERT INTO rblog (what, n) VALUES ('undone', @@ROWCOUNT); " +
        "END CATCH"))
      .getOrElse(fail("rollback TRY/CATCH did not compile"))
    assert(w("rbt").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 10.0), (2L, 20.0)), "TRY effects must be discarded")
    assert(w("rblog").as[(String, Long)].collect().toList
      === List(("undone", 0L)))
    // a SUCCESSFUL try never reaches the rollback: effects commit
    val w2 = fresh()
    mkExec(w2)(task(
      "BEGIN TRY BEGIN TRAN; UPDATE rbt SET v = v + 5; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK; " +
        "INSERT INTO rblog (what, n) VALUES ('undone', 1); END CATCH"))
      .getOrElse(fail("successful rollback-guarded script did not compile"))
    assert(w2("rbt").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 15.0), (2L, 25.0)))
    assert(w2("rblog").count() === 0L)
    // declines: rollback mid-TRY, rollback NOT leading the catch,
    // savepoint rollbacks, a bare rollback outside TRY/CATCH — and
    // rollbacks whose TRY transaction does NOT bracket every effect:
    // no BEGIN TRAN at all (T-SQL ROLLBACK raises 3903, effects
    // persist), a mid-TRY BEGIN TRAN (statements before it are
    // already committed), a mid-TRY COMMIT with statements after it
    // (the txn is closed when the later statement fails)
    for (sql <- Seq(
      "BEGIN TRY BEGIN TRAN; UPDATE rbt SET v = 1; ROLLBACK; COMMIT; " +
        "END TRY BEGIN CATCH END CATCH",
      "BEGIN TRY BEGIN TRAN; UPDATE rbt SET v = 1; COMMIT; END TRY " +
        "BEGIN CATCH " +
        "INSERT INTO rblog (what, n) VALUES ('x', 1); ROLLBACK; END CATCH",
      "BEGIN TRY BEGIN TRAN; UPDATE rbt SET v = 1; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK TRANSACTION sp1; END CATCH",
      "UPDATE rbt SET v = 1; ROLLBACK",
      // no BEGIN TRAN anywhere in the TRY
      "BEGIN TRY UPDATE rbt SET v = 1; END TRY " +
        "BEGIN CATCH ROLLBACK; END CATCH",
      // mid-TRY BEGIN TRAN: the first UPDATE is already committed
      "BEGIN TRY UPDATE rbt SET v = 1; BEGIN TRAN; " +
        "UPDATE rbt SET v = 2; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK; END CATCH",
      // mid-TRY COMMIT with a statement after it: txn closed at fail
      "BEGIN TRY BEGIN TRAN; UPDATE rbt SET v = 1; COMMIT; " +
        "UPDATE rbt SET v = 2; END TRY " +
        "BEGIN CATCH ROLLBACK; END CATCH",
      // a second BEGIN TRAN inside the TRY
      "BEGIN TRY BEGIN TRAN; UPDATE rbt SET v = 1; BEGIN TRAN; " +
        "UPDATE rbt SET v = 2; END TRY BEGIN CATCH ROLLBACK; END CATCH"))
      assert(mkExec(fresh())(task(sql)).isEmpty, s"should decline: $sql")
    // the route recognizes exactly the owned shape (including the
    // BEGIN-TRAN-brackets-the-TRY requirement)
    import graft.patterns.ScriptedSqlExecutor.{NoUndo, Route, UndoAll, route}
    def undo(sql: String) = route(sql) match {
      case Route.TryCatch(_, _, u) => Some(u)
      case _ => None
    }
    assert(undo(
      "BEGIN TRY BEGIN TRAN; UPDATE t SET a = 1; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK; " +
        "INSERT INTO l (m) VALUES ('x'); END CATCH") === Some(UndoAll))
    // a fused BEGIN TRAN prefix on the first statement also brackets
    assert(undo(
      "BEGIN TRY BEGIN TRAN UPDATE t SET a = 1; END TRY " +
        "BEGIN CATCH ROLLBACK; END CATCH") === Some(UndoAll))
    assert(undo(
      "BEGIN TRY UPDATE t SET a = 1; END TRY BEGIN CATCH ROLLBACK; " +
        "INSERT INTO l (m) VALUES ('x'); END CATCH").isEmpty)
    assert(undo(
      "BEGIN TRY BEGIN TRAN; UPDATE t SET a = 1; ROLLBACK; END TRY " +
        "BEGIN CATCH END CATCH").isEmpty)
    // no-rollback CATCHes are untouched by the bracket rule
    assert(undo(
      "BEGIN TRY UPDATE t SET a = 1; END TRY BEGIN CATCH " +
        "INSERT INTO l (m) VALUES ('x'); END CATCH") === Some(NoUndo))
  }

  test("savepoint-suffix TRY/CATCH: ROLLBACK TRAN sp discards only the suffix") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("sp", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "spt" -> Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"),
        "splog" -> Seq.empty[(String, Long)].toDF("what", "n"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // abort in the SUFFIX: the prefix UPDATE survives, the suffix
    // UPDATE rolls back to the savepoint, the catch logs and commits
    val w = fresh()
    mkExec(w)(task(
      "BEGIN TRY BEGIN TRAN; UPDATE spt SET v = v + 1; SAVE TRAN sp1; " +
        "UPDATE spt SET v = v + 100; SELECT id INTO spt FROM spt; " +
        "COMMIT; END TRY BEGIN CATCH ROLLBACK TRAN sp1; " +
        "INSERT INTO splog (what, n) VALUES ('partial', @@ROWCOUNT); " +
        "COMMIT; END CATCH"))
      .getOrElse(fail("savepoint TRY/CATCH did not compile"))
    assert(w("spt").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 11.0), (2L, 21.0)),
      "prefix must survive, suffix must roll back")
    assert(w("splog").as[(String, Long)].collect().toList
      === List(("partial", 0L)), "@@ROWCOUNT must read 0 after the undo")
    // a SUCCESSFUL try never reaches the catch: everything commits
    val w2 = fresh()
    mkExec(w2)(task(
      "BEGIN TRY BEGIN TRAN; UPDATE spt SET v = v + 1; SAVE TRAN sp1; " +
        "UPDATE spt SET v = v + 100; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK TRAN sp1; COMMIT; END CATCH"))
      .getOrElse(fail("successful savepoint script did not compile"))
    assert(w2("spt").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 111.0), (2L, 121.0)))
    // an abort BEFORE the savepoint: the catch's ROLLBACK TRAN sp has
    // no savepoint to reach — T-SQL 6401, the task fails, nothing
    // commits
    val w3 = fresh()
    val e = intercept[Exception](mkExec(w3)(task(
      "BEGIN TRY BEGIN TRAN; SELECT id INTO spt FROM spt; " +
        "SAVE TRAN sp1; UPDATE spt SET v = 0; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK TRAN sp1; COMMIT; END CATCH")))
    assert(e.getMessage.contains("6401"), e.getMessage)
    assert(w3("spt").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 10.0), (2L, 20.0)), "nothing may commit on 6401")
    // declines: savepoint/rollback name mismatch, two savepoints, a
    // catch that does not COMMIT the kept prefix, a savepoint with a
    // BARE catch rollback (full-undo semantics over a savepoint text
    // is a different meaning), SAVE TRAN outside the owned form
    for (sql <- Seq(
      "BEGIN TRY BEGIN TRAN; UPDATE spt SET v = 1; SAVE TRAN sp1; " +
        "UPDATE spt SET v = 2; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK TRAN other; COMMIT; END CATCH",
      "BEGIN TRY BEGIN TRAN; SAVE TRAN a; UPDATE spt SET v = 1; " +
        "SAVE TRAN b; UPDATE spt SET v = 2; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK TRAN b; COMMIT; END CATCH",
      "BEGIN TRY BEGIN TRAN; UPDATE spt SET v = 1; SAVE TRAN sp1; " +
        "UPDATE spt SET v = 2; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK TRAN sp1; END CATCH",
      "BEGIN TRY BEGIN TRAN; UPDATE spt SET v = 1; SAVE TRAN sp1; " +
        "UPDATE spt SET v = 2; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK; COMMIT; END CATCH",
      "BEGIN TRAN; UPDATE spt SET v = 1; SAVE TRAN sp1; " +
        "UPDATE spt SET v = 2; COMMIT"))
      assert(mkExec(fresh())(task(sql)).isEmpty, s"should decline: $sql")
    // the route recognizes exactly the owned shape: the savepoint sits
    // after the TRY's first executable statement
    import graft.patterns.ScriptedSqlExecutor.{Route, UndoTo, route}
    assert(route(
      "BEGIN TRY BEGIN TRAN; UPDATE t SET a = 1; SAVE TRAN s; " +
        "UPDATE t SET a = 2; COMMIT; END TRY " +
        "BEGIN CATCH ROLLBACK TRAN s; COMMIT; END CATCH") ===
      Route.TryCatch(List("UPDATE t SET a = 1", "UPDATE t SET a = 2"), Nil, UndoTo(1)))
    assert(route(
      "BEGIN TRY BEGIN TRAN; UPDATE t SET a = 1; SAVE TRAN s; " +
        "COMMIT; END TRY BEGIN CATCH ROLLBACK TRAN s; END CATCH")
      .isInstanceOf[Route.Decline])
  }

  test("table variables reduce to the temp overlay; scope and declines hold") {
    import spark.implicits._
    def mkExec(written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
      graft.patterns.ScriptedSqlExecutor.executor(spark,
        written = written.get,
        bareName = identity,
        commit = (k, v) => written(k) = v)
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("tv", None, "conn", sql)
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "tsrc" -> Seq((1L, 5.0), (2L, 55.0), (3L, 70.0)).toDF("id", "v"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // declare -> fill -> join into a real mart; the variable never commits
    val w = fresh()
    mkExec(w)(task(
      "DECLARE @big TABLE (id BIGINT, v FLOAT); " +
        "INSERT INTO @big SELECT id AS id, v AS v FROM tsrc WHERE v > 50; " +
        "INSERT INTO tvmart SELECT b.id AS id, b.v AS v FROM @big b"))
      .getOrElse(fail("table-var script did not compile"))
    assert(w("tvmart").orderBy("id").as[(Long, Double)].collect().toList
      === List((2L, 55.0), (3L, 70.0)))
    assert(!w.keySet.exists(_.contains("tvar")),
      "the table variable must never commit")
    // table vars compose with scalar @vars and @@ROWCOUNT
    val w2 = fresh()
    mkExec(w2)(task(
      "DECLARE @cut FLOAT = 50.0; DECLARE @big TABLE (id BIGINT); " +
        "INSERT INTO @big SELECT id AS id FROM tsrc WHERE v > @cut; " +
        "INSERT INTO tvlog SELECT COUNT(*) AS n FROM @big"))
      .getOrElse(fail("mixed scalar/table-var script did not compile"))
    assert(w2("tvlog").as[Long].head() === 2L)
    // UPDATE/DELETE on the variable work like temps
    val w3 = fresh()
    mkExec(w3)(task(
      "DECLARE @b TABLE (id BIGINT, v FLOAT); " +
        "INSERT INTO @b SELECT id AS id, v AS v FROM tsrc; " +
        "DELETE FROM @b WHERE v < 50; " +
        "UPDATE @b SET v = 0 WHERE id = 2; " +
        "INSERT INTO tvmart2 SELECT id AS id, v AS v FROM @b"))
      .getOrElse(fail("DML on table var did not compile"))
    assert(w3("tvmart2").orderBy("id").as[(Long, Double)].collect().toList
      === List((2L, 0.0), (3L, 70.0)))
    // declines: a mixed scalar+TABLE declare item (T-SQL errors too),
    // an undeclared table-var reference
    assert(mkExec(fresh())(task(
      "DECLARE @a INT, @t TABLE (id INT); " +
        "INSERT INTO @t SELECT 1 AS id")).isEmpty)
    assert(mkExec(fresh())(task(
      "INSERT INTO @nope SELECT id AS id FROM tsrc; " +
        "INSERT INTO tvmart3 SELECT id AS id FROM @nope")).isEmpty)
    // the route reports the feature for the ledger
    assert(features(
      "DECLARE @b TABLE (id BIGINT); INSERT INTO @b SELECT 1 AS id; " +
        "INSERT INTO m SELECT id FROM @b")
      .exists(_.contains("table variables")))
  }
}
