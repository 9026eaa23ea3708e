package graft.validate

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{DriverParquet, ParquetFileFormat}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** DataFrame-native migration validation (SURVEY.md §2.4 A3 / §5):
  * row-count, PK integrity, and numeric checksums with the reference's
  * tolerances (row count 1%, checksum 0.01% — ssis-to-dbt
  * `config/agents.yaml:12-14`), plus the dbt-style declarative data tests
  * (not_null / unique / accepted_values / between / relationships).
  *
  * 100 TB posture: every check is a single distributed aggregation
  * returning scalars, and multi-metric checks fuse into one pass (e.g. PK
  * nulls+dups+count is one groupBy). A table pair is one pass over both
  * sides ([[aggregate]]): both row counts and each shared numeric column's
  * sum and avg. The only data read on the driver is a pair of bare parquet
  * files no larger than Spark's own broadcast threshold, the size at which
  * Spark already collects a relation to the driver. One slot keeps
  * the last pair's row, keyed on its two frames' identity (held weakly):
  * [[rowCountMatch]] runs the pass and refills it, a [[checksum]] on the
  * same frame objects reads it; a re-read table is a new frame. */
object ValidationSuite {

  final case class CheckResult(
      check: String,
      target: String,
      passed: Boolean,
      expected: String,
      actual: String,
      details: String = "")

  final case class Tolerances(rowCountPct: Double = 1.0, checksumPct: Double = 0.01)

  /** Row-count equality within tolerance; warn band (≤2× tolerance) is
    * reported in details like the reference's validator (validator.py:254-260). */
  def rowCountMatch(actual: DataFrame, expected: DataFrame, target: String,
      tol: Tolerances = Tolerances()): CheckResult = {
    val r = fill(actual, expected)
    val a = r.getLong(0); val e = r.getLong(1)
    val pct = if (e == 0) (if (a == 0) 0.0 else 100.0) else math.abs(a - e) * 100.0 / e
    CheckResult("row_count", target, pct <= tol.rowCountPct, e.toString, a.toString,
      f"variance $pct%.4f%%" + (if (pct > tol.rowCountPct && pct <= 2 * tol.rowCountPct)
        " (warn band)" else ""))
  }

  /** PK nulls + duplicates + row count in ONE aggregation pass. Null-key
    * rows report under pk_not_null ONLY — SQL PK semantics say
    * NULL ≠ NULL, so a repeated null key is not a duplicate group (and
    * double-reporting it would send the Diagnoser down the wrong
    * "deduplicate" fix for a pure null-key problem). */
  def pkIntegrity(df: DataFrame, keys: Seq[String], target: String): List[CheckResult] = {
    val anyNull = keys.map(col(_).isNull).reduce(_ || _)
    val row = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("rows"),
        sum(when(anyNull, col("n")).otherwise(0L)).as("null_keys"),
        sum(when(col("n") > 1 && !anyNull, 1L).otherwise(0L)).as("dup_keys"))
      .head()
    val nulls = Option(row.get(1)).fold(0L)(_.toString.toLong)
    val dups = Option(row.get(2)).fold(0L)(_.toString.toLong)
    List(
      CheckResult("pk_not_null", target, nulls == 0, "0", nulls.toString,
        s"keys=${keys.mkString(",")}"),
      CheckResult("pk_unique", target, dups == 0, "0", dups.toString,
        s"keys=${keys.mkString(",")}"))
  }

  /** SUM/AVG checksum comparison on a numeric column, cast to DOUBLE like
    * the reference (`SUM(CAST(col AS FLOAT))`, sql_server.py:156-254). A
    * column outside the pair's shared numeric set is aggregated alone. */
  def checksum(actual: DataFrame, expected: DataFrame, column: String, target: String,
      tol: Tolerances = Tolerances()): List[CheckResult] = {
    val cols = shared(actual, expected)
    val r = cols.indexOf(column) match {
      case -1 => aggregate(actual, expected, Seq(column)).toSeq.drop(2)
      case i => slot.collect { case (Seq(a, e), `cols`, row)
          if (a.get eq actual) && (e.get eq expected) => row }
        .getOrElse(fill(actual, expected)).toSeq.slice(2 + 4 * i, 6 + 4 * i)
    }
    val Seq(sa, aa, se, ae) = r.map(v => Option(v).fold(0.0)(_.toString.toDouble))
    def pct(a: Double, e: Double) = if (e == 0.0) (if (a == 0.0) 0.0 else 100.0)
      else math.abs(a - e) * 100.0 / math.abs(e)
    List(
      CheckResult(s"checksum_sum($column)", target, pct(sa, se) <= tol.checksumPct,
        se.toString, sa.toString, f"variance ${pct(sa, se)}%.6f%%"),
      CheckResult(s"checksum_avg($column)", target, pct(aa, ae) <= tol.checksumPct,
        ae.toString, aa.toString, f"variance ${pct(aa, ae)}%.6f%%"))
  }

  /** ONE aggregation over both sides, tagged `is_actual` and unioned, the
    * values cast to DOUBLE (a decimal side unions with a double side). Row:
    * both row counts, then per value each side's sum and avg, actual first.
    * A small file pair is read on the driver instead ([[onDriver]]). */
  private def aggregate(actual: DataFrame, expected: DataFrame, values: Seq[String]): Row =
    onDriver(actual, expected, values).getOrElse {
      def tagged(df: DataFrame, isActual: Boolean) = df.select(lit(isActual).as("is_actual") +:
        values.zipWithIndex.map { case (v, i) => col(v).cast(DoubleType).as(s"v$i") }: _*)
      val sides = Seq(col("is_actual"), !col("is_actual"))
      val aggs = sides.map(count_if) ++ values.indices.flatMap(i =>
        sides.flatMap(s => Seq(sum(when(s, col(s"v$i"))), avg(when(s, col(s"v$i"))))))
      tagged(actual, isActual = true).union(tagged(expected, isActual = false))
        .agg(aggs.head, aggs.tail: _*).head()
    }

  /** [[aggregate]]'s row with no query and no job, when both sides are bare
    * scans of unpartitioned, unbucketed parquet files, every value is
    * [[numeric]] on both, and the pair's `sizeInBytes` is at most
    * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 turns this off). Each side
    * is read once ([[DriverParquet.foreachRow]]) and folded as the query
    * folds: Spark's `Cast` to DOUBLE, a sum from 0.0 that stays NULL with
    * no non-NULL value, avg = that sum / its count. Over one file per side
    * the additions run in the query's order, so the row is the same; over
    * several files the last bits of a sum can differ. A scan that skips
    * corrupt or missing files keeps the query. */
  private def onDriver(actual: DataFrame, expected: DataFrame, values: Seq[String]): Option[Row] = {
    def bare(df: DataFrame) = Some(df.queryExecution.analyzed).collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, false, _)
          if r.fileFormat.isInstanceOf[ParquetFileFormat] && r.partitionSchema.isEmpty &&
            r.bucketSpec.isEmpty && values.forall(numeric(df, _)) &&
            !SQLConf.withExistingConf(r.sparkSession.sessionState.conf) {
              val o = new FileSourceOptions(CaseInsensitiveMap(r.options))
              o.ignoreCorruptFiles || o.ignoreMissingFiles
            } => r
    }
    def fold(r: HadoopFsRelation): (Long, Seq[Seq[Any]]) = {
      val fields = values.map(r.dataSchema(_))
      val casts = fields.zipWithIndex.map { case (f, i) =>
        Cast(BoundReference(i, f.dataType, nullable = true), DoubleType) }
      val (sums, counts) = (new Array[Double](values.size), new Array[Long](values.size))
      var rows = 0L
      DriverParquet.foreachRow(r, StructType(fields)) { row =>
        rows += 1
        for (i <- casts.indices) casts(i).eval(row) match {
          case v: Double => sums(i) += v; counts(i) += 1
          case _ =>
        }
      }
      (rows, values.indices.map(i =>
        if (counts(i) == 0) Seq(null, null) else Seq(sums(i), sums(i) / counts(i))))
    }
    val limit = actual.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    for (a <- bare(actual); e <- bare(expected)
         if limit > 0 && BigInt(a.sizeInBytes) + e.sizeInBytes <= limit) yield {
      val ((na, va), (ne, ve)) = (fold(a), fold(e))
      Row.fromSeq(Seq(na, ne) ++ va.zip(ve).flatMap { case (x, y) => x ++ y })
    }
  }

  /** A value name `col()` reads as that field whatever
    * `spark.sql.caseSensitive` says, of a numeric field: no `.`, backquote
    * or `*`, and no other field of the side equal to it ignoring case. */
  private def numeric(df: DataFrame, n: String) = !n.exists(".`*".contains(_)) &&
    df.columns.count(_.equalsIgnoreCase(n)) == 1 &&
    df.schema.exists(f => f.name == n && f.dataType.isInstanceOf[NumericType])

  /** The columns [[numeric]] on both sides. */
  private def shared(actual: DataFrame, expected: DataFrame): Seq[String] =
    actual.columns.toSeq.filter(n => numeric(actual, n) && numeric(expected, n))

  // the last pair's frames (weakly held), shared columns and row
  @volatile private var slot: Option[(Seq[WeakReference[DataFrame]], Seq[String], Row)] = None
  private def fill(actual: DataFrame, expected: DataFrame): Row = {
    val cols = shared(actual, expected)
    val row = aggregate(actual, expected, cols)
    slot = Some((Seq(actual, expected).map(new WeakReference(_)), cols, row))
    row
  }

  // ---- dbt-style declarative data tests (schema.yml semantics) ----

  def notNull(df: DataFrame, column: String, target: String): CheckResult = {
    val n = df.filter(col(column).isNull).count()
    CheckResult(s"not_null($column)", target, n == 0, "0", n.toString)
  }

  def unique(df: DataFrame, column: String, target: String): CheckResult = {
    // dbt's generic unique test filters `where column is not null` —
    // repeated NULLs are not duplicates and must not fail the model
    val n = df.filter(col(column).isNotNull)
      .groupBy(col(column)).count().filter(col("count") > 1).count()
    CheckResult(s"unique($column)", target, n == 0, "0", n.toString,
      "duplicated values")
  }

  def acceptedValues(df: DataFrame, column: String, values: Seq[String],
      target: String): CheckResult = {
    val n = df.filter(col(column).isNotNull && !col(column).isin(values: _*)).count()
    CheckResult(s"accepted_values($column)", target, n == 0, "0", n.toString,
      s"allowed=${values.mkString("|")}")
  }

  /** dbt_expectations.expect_column_values_to_be_between. */
  def valuesBetween(df: DataFrame, column: String, lo: Option[Double], hi: Option[Double],
      target: String): CheckResult = {
    val c = col(column).cast(DoubleType)
    val bad = (lo.map(c < _).toList ++ hi.map(c > _).toList).reduceOption(_ || _)
    val n = bad.fold(0L)(p => df.filter(c.isNotNull && p).count())
    CheckResult(s"between($column)", target, n == 0, "0", n.toString,
      s"range=[${lo.getOrElse("-inf")},${hi.getOrElse("inf")}]")
  }

  /** dbt `relationships` test: child FK values must exist in the parent —
    * one anti-join count. */
  def relationships(child: DataFrame, fk: String, parent: DataFrame, pk: String,
      target: String): CheckResult = {
    // DataFrame-qualified join columns: with fk and pk sharing a name
    // (customer_id → customer_id, THE common case) unqualified col()s are
    // ambiguous across the join — an AnalysisException at best, a
    // trivially-true predicate (false PASS) at worst
    val parentKeys = parent.select(col(pk)).distinct()
    val probe = child.filter(col(fk).isNotNull)
    val n = probe
      .join(parentKeys, probe(fk) === parentKeys(pk), "left_anti")
      .count()
    CheckResult(s"relationships($fk->$pk)", target, n == 0, "0", n.toString)
  }

  /** Pre-ETL guard (SalesFactETL.dtsx:54-61): a table must be non-empty. */
  def nonEmptyGuard(df: DataFrame, target: String): CheckResult = {
    val any = df.limit(1).count()
    CheckResult("non_empty_guard", target, any > 0, ">0", any.toString)
  }

  def report(results: Seq[CheckResult]): String = {
    val w = results.count(!_.passed)
    val lines = results.map { r =>
      val mark = if (r.passed) "PASS" else "FAIL"
      f"$mark  ${r.check}%-28s ${r.target}%-24s expected=${r.expected} actual=${r.actual} ${r.details}"
    }
    (lines :+ s"${results.size} checks, $w failed").mkString("\n")
  }
}
