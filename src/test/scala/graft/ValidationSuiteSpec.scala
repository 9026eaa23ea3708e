package graft

import graft.validate.ValidationSuite
import graft.validate.ValidationSuite.{CheckResult, Tolerances}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `rowCountMatch` and `checksum` read both sides of a table pair in ONE
  * query: every CheckResult equals what one aggregation per side computes
  * (the reference below), over the degenerate and tolerance-edge cases,
  * and a pair's row count plus all its checksums cost that one query. */
class ValidationSuiteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  // one aggregation per side — the per-side computation the single
  // tagged-union query must reproduce exactly
  private def refRowCount(actual: DataFrame, expected: DataFrame, target: String,
      tol: Tolerances = Tolerances()): CheckResult = {
    val a = actual.count(); val e = expected.count()
    val pct = if (e == 0) (if (a == 0) 0.0 else 100.0) else math.abs(a - e) * 100.0 / e
    CheckResult("row_count", target, pct <= tol.rowCountPct, e.toString, a.toString,
      f"variance $pct%.4f%%" + (if (pct > tol.rowCountPct && pct <= 2 * tol.rowCountPct)
        " (warn band)" else ""))
  }
  private def refChecksum(actual: DataFrame, expected: DataFrame, column: String,
      target: String, tol: Tolerances = Tolerances()): List[CheckResult] = {
    def sums(df: DataFrame) = {
      val r = df.agg(sum(col(column).cast(DoubleType)), avg(col(column).cast(DoubleType)))
        .head()
      (Option(r.get(0)).fold(0.0)(_.toString.toDouble),
        Option(r.get(1)).fold(0.0)(_.toString.toDouble))
    }
    val (sa, aa) = sums(actual); val (se, ae) = sums(expected)
    def pct(a: Double, e: Double) = if (e == 0.0) (if (a == 0.0) 0.0 else 100.0)
      else math.abs(a - e) * 100.0 / math.abs(e)
    List(
      CheckResult(s"checksum_sum($column)", target, pct(sa, se) <= tol.checksumPct,
        se.toString, sa.toString, f"variance ${pct(sa, se)}%.6f%%"),
      CheckResult(s"checksum_avg($column)", target, pct(aa, ae) <= tol.checksumPct,
        ae.toString, aa.toString, f"variance ${pct(aa, ae)}%.6f%%"))
  }

  // each side is ONE partition, so its rows sum in one fixed order in both
  // computations; across partitions a double sum's merge order is not fixed
  private def side(tpe: DataType, amounts: Seq[Option[Double]]): DataFrame = {
    val rows = amounts.zipWithIndex.map { case (a, i) =>
      org.apache.spark.sql.Row(i, a.orNull) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", IntegerType), StructField("amount", DoubleType))))
      .select(col("id"), col("amount").cast(tpe).as("amount")).coalesce(1)
  }
  private val money = DecimalType(12, 2)
  private val some = Seq(10.10, 20.20, 0.30, 1234.56).map(Some(_))
  private val drift = (1 to 200).map(i => Some(i * 1.01))
  private val cases: Seq[(String, DataFrame, DataFrame)] = Seq(
    ("both sides empty", side(money, Nil), side(money, Nil)),
    ("actual side empty", side(money, Nil), side(money, some)),
    ("expected side empty", side(money, some), side(money, Nil)),
    ("an all-NULL column", side(money, Seq(None, None)), side(money, Seq(None, None, None))),
    ("decimal(12,2) against a double side", side(money, some), side(DoubleType, some)),
    ("negative sums", side(money, Seq(-5.25, -100.90, 3.07).map(Some(_))),
      side(money, Seq(-5.25, -100.11, 3.07).map(Some(_)))),
    ("a 1.5% row drift in the warn band", side(money, drift.take(197)), side(money, drift)))

  test("each check's results equal the per-side computation, one query per pair") {
    cases.foreach { case (name, actual, expected) =>
      val (rc, rcQueries) = SparkTestSession.queriesIn(
        ValidationSuite.rowCountMatch(actual, expected, name))
      assert(rc === refRowCount(actual, expected, name), name)
      assert(rcQueries === 1, s"$name: rowCountMatch ran $rcQueries queries")
      val (cs, csQueries) = SparkTestSession.queriesIn(
        ValidationSuite.checksum(actual, expected, "amount", name))
      assert(cs === refChecksum(actual, expected, "amount", name), name)
      assert(csQueries === 0, s"$name: checksum after rowCountMatch ran $csQueries queries")
    }
  }

  // one partition of (id, qty int, amount decimal(12,2), rate double)
  private def wide(rows: Seq[(Int, Double)]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (q, x) =>
      org.apache.spark.sql.Row(q, x, x * 1.5) }: _*),
    StructType(Seq(StructField("qty", IntegerType), StructField("amount", DoubleType),
      StructField("rate", DoubleType))))
    .select(col("qty"), col("amount").cast(money).as("amount"), col("rate")).coalesce(1)
  private val numericCols = List("qty", "amount", "rate")

  test("a row count and three checksums of one pair cost exactly one query") {
    val actual = wide(Seq((1, 10.10), (2, -3.25), (7, 1234.56)))
    val expected = wide(Seq((1, 10.10), (2, -3.26), (7, 1234.56), (4, 0.01)))
    val (out, queries) = SparkTestSession.queriesIn(
      ValidationSuite.rowCountMatch(actual, expected, "w") ::
        numericCols.flatMap(c => ValidationSuite.checksum(actual, expected, c, "w")))
    assert(queries === 1)
    assert(out === refRowCount(actual, expected, "w") ::
      numericCols.flatMap(c => refChecksum(actual, expected, c, "w")))
  }

  test("a re-read table is a new pair: its new rows' results come back") {
    val path = java.nio.file.Files.createTempDirectory("graft-validate").resolve("t").toString
    val expected = wide(Seq((1, 1.0), (2, 2.0)))
    def validate() = {
      val actual = spark.read.parquet(path)
      val got = ValidationSuite.rowCountMatch(actual, expected, "t") ::
        numericCols.flatMap(c => ValidationSuite.checksum(actual, expected, c, "t"))
      assert(got === refRowCount(actual, expected, "t") ::
        numericCols.flatMap(c => refChecksum(actual, expected, c, "t")))
      got
    }
    wide(Seq((1, 1.0), (2, 2.0))).write.parquet(path)
    val first = validate()
    assert(first.forall(_.passed))
    wide(Seq((5, 50.0), (6, 60.0), (7, 70.0))).write.mode("overwrite").parquet(path)
    val second = validate()
    assert(second.head.actual === "3" && second.tail.forall(!_.passed), second)
  }

  test("swapping the sides or changing one side runs a new query") {
    val a = wide(Seq((1, 1.0), (2, 2.0)))
    val b = wide(Seq((1, 1.0), (3, 2.5)))
    val c = wide(Seq((9, 9.0)))
    ValidationSuite.rowCountMatch(a, b, "t")
    def costs(actual: DataFrame, expected: DataFrame) = {
      val (out, n) = SparkTestSession.queriesIn(
        ValidationSuite.checksum(actual, expected, "amount", "t"))
      assert(out === refChecksum(actual, expected, "amount", "t"))
      n
    }
    assert(costs(b, a) === 1, "swapped sides")
    assert(costs(b, a) === 0, "the swapped pair is now the slot's")
    assert(costs(b, c) === 1, "a changed expected side")
    assert(costs(a, c) === 1, "a changed actual side")
  }

  test("a checksum outside the shared numeric columns behaves as the per-side query") {
    val a = wide(Seq((1, 1.0), (2, 2.5)))
    val e = wide(Seq((1, 1.0), (2, 2.5)))
    ValidationSuite.rowCountMatch(a, e, "t")
    // absent from expected: the same AnalysisException as the per-side query
    val extra = a.withColumn("extra", col("qty") * 2)
    ValidationSuite.rowCountMatch(extra, e, "t")
    val thrown = intercept[org.apache.spark.sql.AnalysisException](
      ValidationSuite.checksum(extra, e, "extra", "t"))
    val refThrown = intercept[org.apache.spark.sql.AnalysisException](
      refChecksum(extra, e, "extra", "t"))
    assert(thrown.getCondition === refThrown.getCondition)
    // a string on one side: the per-side result, from a query of its own
    // that leaves the slot holding the pair
    val text = e.withColumn("amount", col("amount").cast(StringType))
    ValidationSuite.rowCountMatch(a, text, "t")
    val (cs, n) = SparkTestSession.queriesIn(ValidationSuite.checksum(a, text, "amount", "t"))
    assert(cs === refChecksum(a, text, "amount", "t") && n === 1)
    assert(SparkTestSession.queriesIn(ValidationSuite.checksum(a, text, "rate", "t"))._2 === 0)
  }

  test("pinned edge results: empty sides, warn band, decimal against double") {
    def run(name: String) = {
      val (_, a, e) = cases.find(_._1 == name).get
      ValidationSuite.rowCountMatch(a, e, "t") :: ValidationSuite.checksum(a, e, "amount", "t")
    }
    assert(run("both sides empty").map(r => (r.passed, r.expected, r.actual)) ===
      List((true, "0", "0"), (true, "0.0", "0.0"), (true, "0.0", "0.0")))
    assert(run("actual side empty").head ===
      CheckResult("row_count", "t", passed = false, "4", "0", "variance 100.0000%"))
    assert(run("expected side empty").head.details === "variance 100.0000%")
    assert(run("a 1.5% row drift in the warn band").head ===
      CheckResult("row_count", "t", passed = false, "200", "197",
        "variance 1.5000% (warn band)"))
    assert(run("decimal(12,2) against a double side").forall(_.passed))
    assert(run("negative sums").map(r => (r.check, r.passed, r.expected, r.actual)) ===
      List(("row_count", true, "3", "3"),
        ("checksum_sum(amount)", false, "-102.29", "-103.08000000000001"),
        ("checksum_avg(amount)", false, "-34.09666666666667", "-34.36000000000001")))
  }

  // ---- the driver path: a small pair of bare parquet files ----

  private def withConf[A](key: String, v: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
  private def withThreshold[A](v: String)(f: => A) =
    withConf("spark.sql.autoBroadcastJoinThreshold", v)(f)
  private def checks(actual: DataFrame, expected: DataFrame, target: String,
      columns: Seq[String] = Seq("amount")) =
    ValidationSuite.rowCountMatch(actual, expected, target) ::
      columns.toList.flatMap(ValidationSuite.checksum(actual, expected, _, target))
  // the same pair's checks on the query path: new frame objects (no slot
  // hit) with the driver path turned off
  private def viaQuery(actual: DataFrame, expected: DataFrame, target: String,
      columns: Seq[String] = Seq("amount")) =
    withThreshold("-1")(checks(actual.toDF(), expected.toDF(), target, columns))
  // the driver path ran: no query, and no job when run again (each
  // counter's own marker query or job would show in the other)
  private def onDriver[A](f: => A): A = {
    val (out, queries) = SparkTestSession.queriesIn(f)
    val (again, jobs) = SparkTestSession.jobsIn("validate-driver")(f)
    assert(queries === 0 && jobs === 0, s"$queries queries, $jobs jobs")
    assert(again === out)
    out
  }
  private val fileCases = cases ++ Seq(
    ("a NULL among the values", side(money, Seq(Some(10.10), None, Some(20.20), Some(0.30))),
      side(money, some)),
    ("a NaN value", side(DoubleType, Seq(Some(1.5), Some(Double.NaN), None)),
      side(DoubleType, some)))

  test("each edge case as one parquet file per side: the query path's results, no query") {
    fileCases.foreach { case (name, a, e) =>
      val (actual, expected) =
        (SparkTestSession.singleFileParquet(a), SparkTestSession.singleFileParquet(e))
      assert(onDriver(checks(actual, expected, name)) === viaQuery(actual, expected, name), name)
    }
  }

  test("a side of several files: the query path's flags, sums within 1e-12") {
    val dir = java.nio.file.Files.createTempDirectory("graft-multi").resolve("t").toString
    wide((1 to 300).map(i => (i % 17, i * 0.37 - 40.0))).repartition(3).write.parquet(dir)
    val actual = spark.read.parquet(dir)
    assert(actual.inputFiles.length === 3)
    val expected = SparkTestSession.singleFileParquet(
      wide((1 to 299).map(i => (i % 17, i * 0.37 - 40.0))))
    val got = onDriver(checks(actual, expected, "m", numericCols))
    val ref = viaQuery(actual, expected, "m", numericCols)
    assert(got.map(_.passed) === ref.map(_.passed))
    assert(got.head === ref.head)
    got.tail.zip(ref.tail).foreach { case (g, r) =>
      Seq((g.actual, r.actual), (g.expected, r.expected)).foreach { case (x, y) =>
        val (dx, dy) = (x.toDouble, y.toDouble)
        assert(math.abs(dx - dy) <= 1e-12 * math.max(math.abs(dx), math.abs(dy)), g)
      }
    }
  }

  test("only a bare, unpartitioned file pair under the threshold skips the query") {
    val rows = Seq((1, 1.0), (2, 2.5), (3, -4.0))
    val a = SparkTestSession.singleFileParquet(wide(rows))
    val e = SparkTestSession.singleFileParquet(wide(rows.take(2)))
    val partitioned = {
      val dir = java.nio.file.Files.createTempDirectory("graft-part").resolve("t").toString
      wide(rows).write.partitionBy("qty").parquet(dir)
      spark.read.parquet(dir)
    }
    def queries(actual: DataFrame, expected: DataFrame) = {
      val (out, n) = SparkTestSession.queriesIn(checks(actual, expected, "t"))
      assert(out === refRowCount(actual, expected, "t") ::
        refChecksum(actual, expected, "amount", "t"))
      n
    }
    assert(queries(a, e) === 0, "a small bare pair")
    assert(queries(a.select("qty", "amount"), e) === 1, "a projected frame")
    assert(queries(a, e.filter(col("qty") > 0)) === 1, "a filtered frame")
    assert(queries(partitioned, e) === 1, "a partitioned dir")
    val size = Seq(a, e).map(_.queryExecution.analyzed.stats.sizeInBytes).sum
    assert(withThreshold(size.toString)(queries(a.toDF(), e.toDF())) === 0, "at the threshold")
    assert(withThreshold((size - 1).toString)(queries(a.toDF(), e.toDF())) === 1,
      "a pair over the threshold")
    assert(withThreshold("-1")(queries(a.toDF(), e.toDF())) === 1, "threshold -1")
    assert(withConf("spark.sql.files.ignoreCorruptFiles", "true")(
      queries(a.toDF(), e.toDF())) === 1, "a scan that skips corrupt files")
  }

  test("a driver-path pair raises the query path's errors and never swallows a read error") {
    val a = SparkTestSession.singleFileParquet(wide(Seq((1, 1.0), (2, 2.5))))
    val e = SparkTestSession.singleFileParquet(wide(Seq((1, 1.0), (2, 2.5))))
    // a string column: row counts stay on the driver, its checksum is the
    // per-side query's, error and all
    val text = SparkTestSession.singleFileParquet(
      wide(Seq((1, 1.0))).withColumn("amount", lit("n/a")))
    assert(onDriver(ValidationSuite.rowCountMatch(a, text, "t")) ===
      refRowCount(a, text, "t"))
    def condition(f: => Any) = intercept[Throwable](f) match {
      case t: org.apache.spark.SparkThrowable => (t.getClass, t.getCondition)
      case t => (t.getClass, null)
    }
    assert(condition(ValidationSuite.checksum(a, text, "amount", "t")) ===
      condition(refChecksum(a, text, "amount", "t")))
    assert(condition(ValidationSuite.checksum(a, e, "missing", "t")) ===
      condition(refChecksum(a, e, "missing", "t")))
    // a file cut short after the frame was opened
    assert(onDriver(ValidationSuite.rowCountMatch(a, e, "t")).passed)
    val file = java.nio.file.Paths.get(new java.net.URI(a.inputFiles.head))
    val bytes = java.nio.file.Files.readAllBytes(file)
    java.nio.file.Files.write(file, bytes.take(bytes.length / 2))
    intercept[Exception](ValidationSuite.rowCountMatch(a, e, "t"))
  }
}
