package graft

import graft.validate.ValidationSuite
import graft.validate.ValidationSuite.{CheckResult, Tolerances}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `rowCountMatch` and `checksum` read both sides in ONE query: every
  * CheckResult equals what one aggregation per side computes (the
  * reference below), over the degenerate and tolerance-edge cases. */
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

  test("each check's results equal the per-side computation, one query per check") {
    cases.foreach { case (name, actual, expected) =>
      val (rc, rcQueries) = SparkTestSession.queriesIn(
        ValidationSuite.rowCountMatch(actual, expected, name))
      assert(rc === refRowCount(actual, expected, name), name)
      assert(rcQueries === 1, s"$name: rowCountMatch ran $rcQueries queries")
      val (cs, csQueries) = SparkTestSession.queriesIn(
        ValidationSuite.checksum(actual, expected, "amount", name))
      assert(cs === refChecksum(actual, expected, "amount", name), name)
      assert(csQueries === 1, s"$name: checksum ran $csQueries queries")
    }
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
