package graft.validate

import graft.Json.q
import graft.validate.ValidationJson.ModelValidation
import graft.validate.ValidationSuite.CheckResult

/** Rule-based failure diagnosis — the deterministic core of the
  * reference's DiagnoserAgent (`src/agents/diagnoser.py:178-322`): map
  * each failed validation check to a root cause, a category, suggested
  * fixes (description / location / priority), and investigation queries,
  * then roll the per-model verdicts up into can-retry /
  * requires-manual-review flags. The reference's optional LLM deep-dive
  * layer is orchestration glue outside this engine's scope (SURVEY §6);
  * everything below the LLM call — the rule table the agent always runs
  * first — is reproduced here.
  */
object Diagnoser {

  final case class SuggestedFix(description: String, location: String,
      priority: String)

  final case class Diagnosis(
      modelName: String,
      rootCauses: List[String],
      category: String,
      confidence: Double,
      suggestedFixes: List[SuggestedFix],
      investigationQueries: List[String],
      canAutoFix: Boolean,
      requiresManualReview: Boolean)

  final case class DiagnosisReport(
      hasFailures: Boolean,
      failedCount: Int,
      diagnoses: List[Diagnosis],
      canRetry: Boolean,
      requiresManualReview: Boolean)

  /** ValidationJson reports a ≤2×-tolerance row-count miss as a WARNING
    * ("warn band"), not a failure — the diagnoser must agree, or it
    * diagnoses "missing rows" and vetoes retry for a condition the
    * report layer deems acceptable. */
  private def hardFail(r: CheckResult): Boolean =
    !r.passed && !r.details.contains("warn band")

  private def failedOf(m: ModelValidation, check: String): Option[CheckResult] =
    m.results.find(r => r.check == check && hardFail(r))

  /** Both checksum variants: an avg-only failure (sums equal, averages
    * skewed — e.g. extra zero-amount rows inside the row-count tolerance)
    * must reach the numeric-mismatch rule too, not fall through
    * undiagnosed. */
  private val sumRe = """checksum_(?:sum|avg)\((.+)\)""".r

  /** Diagnose one failed model — the rule table of
    * `diagnoser.py:178-322`, over the engine's CheckResult vocabulary. */
  def diagnoseModel(m: ModelValidation): Diagnosis = {
    val causes = scala.collection.mutable.ListBuffer.empty[String]
    val fixes = scala.collection.mutable.ListBuffer.empty[SuggestedFix]
    val queries = scala.collection.mutable.ListBuffer.empty[String]
    var category = "unknown"
    var confidence = 0.0
    var canAutoFix = false
    var autoFixVeto = false

    // row-count mismatch (diagnoser.py:189-217): fewer rows → filter /
    // incremental logic; more rows → join fan-out. Never auto-fixable —
    // and it vetoes auto-fix from co-occurring PK rules (unlike the
    // reference's last-rule-wins flag, which loses the veto when a PK
    // failure is diagnosed after a row-count failure)
    failedOf(m, "row_count").foreach { r =>
      val legacy = r.expected.toDoubleOption.getOrElse(0.0).toLong
      val actual = r.actual.toDoubleOption.getOrElse(0.0).toLong
      category = "data_mismatch"
      if (actual < legacy) {
        causes += s"Missing rows: migrated model has ${legacy - actual} fewer rows"
        confidence = math.max(confidence, 0.8)
        fixes += SuggestedFix("Check source filter conditions in the staging plan",
          s"staging:${m.modelName}", "high")
        fixes += SuggestedFix(
          "Verify incremental/watermark logic if the load is incremental",
          s"core:${m.modelName}", "high")
        queries +=
          s"""-- Find missing records
             |SELECT * FROM ${m.legacyTable.getOrElse("[legacy_table]")}
             |WHERE [id] NOT IN (SELECT [id] FROM ${m.modelName})""".stripMargin
      } else {
        causes += s"Extra rows: migrated model has ${actual - legacy} more rows"
        confidence = math.max(confidence, 0.7)
        fixes += SuggestedFix("Check for duplicate-producing join fan-out",
          s"core:${m.modelName}", "high")
      }
      autoFixVeto = true
    }

    // NULL primary keys (diagnoser.py:228-240): auto-fixable via filter
    failedOf(m, "pk_not_null").foreach { r =>
      causes += s"NULL primary keys: ${r.actual} records"
      category = "schema_mismatch"
      confidence = math.max(confidence, 0.9)
      canAutoFix = true
      fixes += SuggestedFix("Add NOT NULL filter or COALESCE for the primary key",
        s"staging:${m.modelName}", "high")
    }

    // duplicate primary keys (diagnoser.py:242-260): auto-fixable via dedup
    failedOf(m, "pk_unique").foreach { r =>
      val keys = r.details.stripPrefix("keys=")
      causes += s"Duplicate primary keys: ${r.actual} duplicates"
      category = "logic_error"
      confidence = math.max(confidence, 0.85)
      canAutoFix = true
      fixes += SuggestedFix("Add DISTINCT or ROW_NUMBER() deduplication",
        s"staging:${m.modelName}", "high")
      queries +=
        s"""-- Find duplicate keys
           |SELECT $keys, COUNT(*) AS cnt
           |FROM ${m.modelName}
           |GROUP BY $keys HAVING COUNT(*) > 1""".stripMargin
    }

    // checksum variance (diagnoser.py:262-292): casting / precision
    val failedSums = m.results.filter(r => sumRe.matches(r.check) && !r.passed)
    if (failedSums.nonEmpty) {
      val cols = failedSums.map(_.check match { case sumRe(c) => c; case _ => "" })
        .distinct
      causes += s"Numeric mismatch in columns: ${cols.mkString(", ")}"
      if (category == "unknown") category = "data_mismatch"
      confidence = math.max(confidence, 0.75)
      fixes += SuggestedFix(s"Check type casting for columns: ${cols.mkString(", ")}",
        s"staging:${m.modelName}", "medium")
      fixes += SuggestedFix("Verify rounding/precision in calculations",
        s"core:${m.modelName}", "medium")
      cols.foreach { c =>
        queries +=
          s"""-- Compare $c values
             |SELECT 'legacy' AS src, SUM($c) AS total FROM ${m.legacyTable.getOrElse("[legacy_table]")}
             |UNION ALL
             |SELECT 'migrated' AS src, SUM($c) AS total FROM ${m.modelName}""".stripMargin
      }
    }

    // dbt-style data tests and execution errors: no dedicated rule →
    // surfaced as-is and pushed to manual review via low confidence
    val otherFailures = m.results.filterNot(r =>
      r.check == "row_count" || r.check.startsWith("pk_") ||
        r.check.startsWith("checksum_")).filterNot(_.passed)
    otherFailures.foreach { r =>
      causes += s"Data test failed: ${r.check} on ${r.target} " +
        s"(expected ${r.expected}, got ${r.actual})"
      if (category == "unknown") category = "data_quality"
      confidence = math.max(confidence, 0.5)
    }
    m.errors.foreach { e => causes += s"Execution error: $e" }

    // complex / unrecognized issues go to a human (diagnoser.py:317-320)
    val manual = confidence < 0.6 || fixes.isEmpty
    Diagnosis(m.modelName, causes.toList, category, confidence, fixes.toList,
      queries.toList, canAutoFix = canAutoFix && !autoFixVeto && !manual,
      requiresManualReview = manual)
  }

  /** Diagnose every failed model in a validation run and roll up the
    * retry decision (diagnoser.py:128-169): retry is offered only when
    * every failure is auto-fixable and none needs manual review. */
  def diagnose(models: Seq[ModelValidation]): DiagnosisReport = {
    val failed = models.filter(m =>
      m.results.exists(hardFail) || m.errors.nonEmpty)
    val diagnoses = failed.map(diagnoseModel).toList
    DiagnosisReport(
      hasFailures = failed.nonEmpty,
      failedCount = failed.size,
      diagnoses = diagnoses,
      canRetry = diagnoses.nonEmpty && diagnoses.forall(d =>
        d.canAutoFix && !d.requiresManualReview),
      requiresManualReview = diagnoses.exists(_.requiresManualReview))
  }

  // ----------------------------------------------------------- exports

  private def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  private def fixJson(f: SuggestedFix): String =
    s"""{"description": ${q(f.description)}, "location": ${q(f.location)}, "priority": ${q(f.priority)}}"""

  private def diagnosisJson(d: Diagnosis): String =
    s"""{"model": ${q(d.modelName)}, "root_causes": ${arr(d.rootCauses.map(q))}, """ +
      s""""category": ${q(d.category)}, "confidence": ${d.confidence}, """ +
      s""""suggested_fixes": ${arr(d.suggestedFixes.map(fixJson))}, """ +
      s""""investigation_queries": ${arr(d.investigationQueries.map(q))}, """ +
      s""""can_auto_fix": ${d.canAutoFix}, """ +
      s""""requires_manual_review": ${d.requiresManualReview}}"""

  /** The diagnoser's structured result (AgentResult.data shape,
    * diagnoser.py:150-161). */
  def reportJson(r: DiagnosisReport): String =
    s"""{"has_failures": ${r.hasFailures}, "failed_count": ${r.failedCount}, """ +
      s""""diagnoses": ${arr(r.diagnoses.map(diagnosisJson))}, """ +
      s""""can_retry": ${r.canRetry}, """ +
      s""""requires_manual_review": ${r.requiresManualReview}}"""

  /** Markdown report (diagnoser.py:325-366 layout). */
  def markdownReport(r: DiagnosisReport): String = {
    val sb = new StringBuilder
    sb ++= "# Validation Failure Diagnosis Report\n\n"
    sb ++= s"**Failed Models:** ${r.failedCount}\n"
    sb ++= s"**Can Auto-Retry:** ${if (r.canRetry) "Yes" else "No"}\n\n---\n\n"
    r.diagnoses.foreach { d =>
      sb ++= s"## ${d.modelName}\n\n"
      sb ++= s"- **Category**: ${d.category}\n"
      sb ++= f"- **Confidence**: ${d.confidence}%.2f\n"
      sb ++= s"- **Requires Manual Review**: ${if (d.requiresManualReview) "Yes" else "No"}\n\n"
      if (d.rootCauses.nonEmpty) {
        sb ++= "**Root Causes:**\n\n"
        d.rootCauses.foreach(c => sb ++= s"- $c\n")
        sb ++= "\n"
      }
      if (d.suggestedFixes.nonEmpty) {
        sb ++= "**Suggested Fixes:**\n\n"
        d.suggestedFixes.foreach(f =>
          sb ++= s"- [${f.priority}] ${f.description} (`${f.location}`)\n")
        sb ++= "\n"
      }
      if (d.investigationQueries.nonEmpty) {
        sb ++= "**Investigation Queries:**\n\n"
        d.investigationQueries.foreach(iq => sb ++= s"```sql\n$iq\n```\n\n")
      }
    }
    sb.result()
  }
}
