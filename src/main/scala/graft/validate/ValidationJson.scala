package graft.validate

import graft.Json.{obj, q}
import graft.validate.ValidationSuite.CheckResult

/** `validation_log.json` / `validation_report.md` artifact export —
  * structure parity with the reference's ValidationReport models
  * (`src/validation/models.py:10-106`, `validator.py:393-531`): per-model
  * row_count / primary_key / checksums sections with passed / warning /
  * failed statuses and package/task provenance. The dbt execution slots
  * (`dbt_deps`/`dbt_run`/`dbt_test`) serialize as null — this engine runs
  * Spark plans, not dbt; the model-validation surface is the meaningful
  * half. `generatedAt` is caller-supplied so golden-file tests stay
  * deterministic.
  */
object ValidationJson {

  /** One migrated model's validation bundle: the [[ValidationSuite]]
    * results for it plus SSIS provenance. */
  final case class ModelValidation(
      modelName: String,
      ssisPackage: String,
      ssisTask: String,
      legacyTable: Option[String],
      results: List[CheckResult],
      errors: List[String] = Nil,
      warnings: List[String] = Nil)

  private def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" // bare NaN/Infinity is not JSON
    else if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString + ".0"
    else d.toString

  private def pctOf(expected: String, actual: String): Option[Double] =
    (expected.toDoubleOption, actual.toDoubleOption) match {
      case (Some(e), Some(a)) =>
        Some(if (e == 0.0) (if (a == 0.0) 0.0 else 100.0)
        else math.abs(a - e) * 100.0 / math.abs(e))
      case _ => None
    }

  /** passed / warning (≤2× tolerance row-count band) / failed, mirroring
    * validator.py:254-260. */
  private def rowCountStatus(r: CheckResult): String =
    if (r.passed) "passed"
    else if (r.details.contains("warn band")) "warning"
    else "failed"

  private def rowCountJson(m: ModelValidation, r: CheckResult): String = {
    val e = r.expected.toDoubleOption.getOrElse(0.0).toLong
    val a = r.actual.toDoubleOption.getOrElse(0.0).toLong
    obj(
      "legacy_table" -> q(m.legacyTable.getOrElse(r.target)),
      "legacy_count" -> e.toString,
      "dbt_model" -> q(m.modelName),
      "dbt_count" -> a.toString,
      "difference" -> (a - e).toString,
      "difference_percent" -> num(pctOf(r.expected, r.actual).getOrElse(0.0)),
      "status" -> q(rowCountStatus(r)),
      "message" -> q(if (a == e) "Row counts match exactly"
      else s"Row counts differ by ${a - e}"))
  }

  private def pkJson(m: ModelValidation, notNull: CheckResult,
      unique: Option[CheckResult]): String = {
    val nulls = notNull.actual.toLongOption.getOrElse(0L)
    val dups = unique.flatMap(_.actual.toLongOption).getOrElse(0L)
    val ok = notNull.passed && unique.forall(_.passed)
    val keys = notNull.details.stripPrefix("keys=")
    obj(
      "model" -> q(m.modelName),
      "pk_column" -> q(keys),
      "null_count" -> nulls.toString,
      "duplicate_count" -> dups.toString,
      "status" -> q(if (ok) "passed" else "failed"),
      "message" -> q(if (ok) "Primary key integrity verified"
      else s"$nulls null keys, $dups duplicate keys"))
  }

  private val sumRe = """checksum_sum\((.+)\)""".r

  private def checksumJson(m: ModelValidation, sumR: CheckResult,
      avgR: Option[CheckResult]): String = {
    val column = sumR.check match { case sumRe(c) => c; case _ => sumR.check }
    val ok = sumR.passed && avgR.forall(_.passed)
    obj(
      "model" -> q(m.modelName),
      "column" -> q(column),
      "legacy_sum" -> sumR.expected.toDoubleOption.map(num).getOrElse("null"),
      "dbt_sum" -> sumR.actual.toDoubleOption.map(num).getOrElse("null"),
      "legacy_avg" -> avgR.flatMap(_.expected.toDoubleOption).map(num).getOrElse("null"),
      "dbt_avg" -> avgR.flatMap(_.actual.toDoubleOption).map(num).getOrElse("null"),
      "variance_percent" -> num(pctOf(sumR.expected, sumR.actual).getOrElse(0.0)),
      "status" -> q(if (ok) "passed" else "failed"),
      "message" -> q(if (ok) "Checksums match exactly" else "Checksum variance over tolerance"))
  }

  private def modelStatus(m: ModelValidation): String = {
    val anyFailedHard = m.results.exists(r => !r.passed && rowCountStatus(r) == "failed")
    val anyWarn = m.results.exists(r => !r.passed && rowCountStatus(r) == "warning")
    if (anyFailedHard || m.errors.nonEmpty) "failed"
    else if (anyWarn || m.warnings.nonEmpty) "warning"
    else "passed"
  }

  private def modelJson(m: ModelValidation): String = {
    val rowCount = m.results.find(_.check == "row_count")
    val pkNotNull = m.results.find(_.check == "pk_not_null")
    val pkUnique = m.results.find(_.check == "pk_unique")
    val sums = m.results.filter(r => sumRe.matches(r.check))
    val checksums = sums.map { s =>
      val colName = s.check match { case sumRe(c) => c; case _ => "" }
      checksumJson(m, s, m.results.find(_.check == s"checksum_avg($colName)"))
    }
    // dbt-style data-test failures surface in the errors list (the
    // reference has no structured slot for them)
    val dataTestErrors = m.results.filterNot(r =>
      r.check == "row_count" || r.check.startsWith("pk_") ||
        r.check.startsWith("checksum_"))
      .filterNot(_.passed)
      .map(r => s"${r.check} on ${r.target}: expected ${r.expected}, got ${r.actual}")
    obj(
      "model_name" -> q(m.modelName),
      "ssis_package" -> q(m.ssisPackage),
      "ssis_task" -> q(m.ssisTask),
      "legacy_table" -> m.legacyTable.map(q).getOrElse("null"),
      "row_count" -> rowCount.map(rowCountJson(m, _)).getOrElse("null"),
      "primary_key" -> pkNotNull.map(pkJson(m, _, pkUnique)).getOrElse("null"),
      "checksums" -> arr(checksums),
      "overall_status" -> q(modelStatus(m)),
      "errors" -> arr((m.errors ++ dataTestErrors).map(q)),
      "warnings" -> arr(m.warnings.map(q)),
      "started_at" -> "null",
      "completed_at" -> "null",
      "duration_seconds" -> "null")
  }

  /** The `validation_log.json` document. */
  def logJson(models: Seq[ModelValidation], generatedAt: String): String = {
    val statuses = models.map(modelStatus)
    obj(
      "generated_at" -> q(generatedAt),
      "dbt_deps" -> "null",
      "dbt_run" -> "null",
      "dbt_test" -> "null",
      "model_validations" -> arr(models.map(modelJson)),
      "total_models" -> models.size.toString,
      "models_passed" -> statuses.count(_ == "passed").toString,
      "models_failed" -> statuses.count(_ == "failed").toString,
      "models_warning" -> statuses.count(_ == "warning").toString,
      "models_skipped" -> "0",
      "overall_status" -> q(
        if (statuses.contains("failed")) "failed"
        else if (statuses.contains("warning")) "warning"
        else "passed"))
  }

  /** The `validation_report.md` analog (validator.py:402-531 layout). */
  def markdownReport(models: Seq[ModelValidation], generatedAt: String): String = {
    val statuses = models.map(modelStatus)
    val overall =
      if (statuses.contains("failed")) "FAILED"
      else if (statuses.contains("warning")) "WARNING"
      else "PASSED"
    val sb = new StringBuilder
    sb ++= "# Migration Validation Report\n\n"
    sb ++= s"**Generated**: $generatedAt\n\n"
    sb ++= "## Summary\n\n"
    sb ++= "| Metric | Value |\n|--------|-------|\n"
    sb ++= s"| Total Models | ${models.size} |\n"
    sb ++= s"| Passed | ${statuses.count(_ == "passed")} |\n"
    sb ++= s"| Failed | ${statuses.count(_ == "failed")} |\n"
    sb ++= s"| Warnings | ${statuses.count(_ == "warning")} |\n"
    sb ++= s"| Overall Status | **$overall** |\n\n"
    sb ++= "## Model Validations\n\n"
    models.foreach { m =>
      val mark = modelStatus(m) match {
        case "passed" => "PASS"; case "warning" => "WARN"; case _ => "FAIL"
      }
      sb ++= s"### ${m.modelName} [$mark]\n\n"
      sb ++= s"- **SSIS Package**: ${m.ssisPackage}\n"
      sb ++= s"- **SSIS Task**: ${m.ssisTask}\n"
      m.legacyTable.foreach(t => sb ++= s"- **Legacy Table**: $t\n")
      m.results.foreach { r =>
        val rm = if (r.passed) "PASS" else "FAIL"
        sb ++= s"- $rm ${r.check}: expected ${r.expected}, actual ${r.actual}"
        if (r.details.nonEmpty) sb ++= s" (${r.details})"
        sb ++= "\n"
      }
      sb ++= "\n"
    }
    sb.result()
  }
}
