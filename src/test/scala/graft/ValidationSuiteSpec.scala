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
}
