package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical single-table UPDATE → Spark compile — the q80 MERGE
  * treatment for the other mutable-table verb SSIS packages carry. The
  * reference detects UPDATE statements and hands them to manual review
  * (as does [[SqlPatternRewriter]]'s UPDATE disqualifier, which stays
  * the fallback); the CANONICAL shape also EXECUTES through the runner:
  *
  * {{{
  * UPDATE <target> SET col = expr, ... [WHERE <pred>]
  * }}}
  *
  * No FROM/JOIN leg, no subqueries, no aliases, no bracketed/quoted
  * identifiers in clause bodies — anything else returns None and stays
  * a manual-review skip (executing half an UPDATE is worse than not
  * converting it). Compiled as a state replacement: one narrow
  * projection where each assigned column becomes
  * `CASE WHEN pred THEN expr ELSE old END` — all SET expressions see
  * the PRE-update row (SQL UPDATE semantics come free from a single
  * projection), a NULL predicate means "not updated" (SQL's
  * WHERE-is-TRUE rule), and the write is Overwrite. Zero shuffles. */
object UpdateSqlCompiler {

  private val updateRe =
    ("(?is)^\\s*update\\s+([^\\s;]+)\\s+set\\s+(.+?)" +
      "(?:\\s+where\\s+(.+?))?\\s*;?\\s*$").r

  /** A clause body that leaves the canonical contract: a FROM/JOIN leg
    * (the T-SQL correlated-update form), a subquery, a trailing script
    * statement, or a quoted identifier ([[MergeSqlCompiler.bodyDisqualified]]). */
  private val updateKeywordRe = "(?i)\\b(from|join|select|insert|output)\\b".r
  private def disqualified(body: String): Boolean =
    MergeSqlCompiler.bodyDisqualified(body, updateKeywordRe)

  /** Parse-only classification twin of [[rewrite]] (no frames touched) —
    * the migration-mapping ledger and dry run must preview exactly the
    * statements the run executes. */
  private[graft] def shapeMatches(sqlRaw: String): Boolean = {
    val sql = SqlText.stripComments(sqlRaw)
    updateRe.findFirstMatchIn(SqlLex.mask(sql)).exists { m =>
      val setList = sql.substring(m.start(2), m.end(2))
      val whereOpt =
        if (m.group(3) == null) None
        else Some(sql.substring(m.start(3), m.end(3)))
      !(setList :: whereOpt.toList).exists(disqualified)
    }
  }

  /** Parse + validate a SET list against the target's schema: a
    * misspelled or duplicated SET column must abort, not silently
    * no-op / collapse (the MergeSqlCompiler validation contract).
    * Returns lowercase column name → assigned expression over the
    * PRE-update row. Shared with [[OutputIntoSqlCompiler]] so the
    * OUTPUT-clause form validates identically. */
  private[patterns] def parsedAssignments(setList: String, tgt: DataFrame,
      tgtName: String): Map[String, org.apache.spark.sql.Column] = {
    val assignments = SqlLex.splitTop(setList).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"UPDATE SET assignment has no '=': $a")
      a.take(i).trim -> expr(a.drop(i + 1).trim)
    }
    val tgtCols = tgt.columns.map(_.toLowerCase).toSet
    val bad = assignments.map(_._1).filterNot(c => tgtCols(c.toLowerCase))
    require(bad.isEmpty,
      s"UPDATE SET names column(s) absent from target ${tgtName}: " +
        bad.mkString(", "))
    val dup = assignments.map(_._1).groupBy(_.toLowerCase)
      .filter(_._2.size > 1)
    require(dup.isEmpty,
      s"UPDATE SET assigns column(s) more than once: " +
        dup.keys.mkString(", "))
    assignments.map { case (k, v) => k.toLowerCase -> v }.toMap
  }

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val sql = SqlText.stripComments(task.sqlStatement)
    // match on the masked text, slice the ORIGINAL by group spans
    updateRe.findFirstMatchIn(SqlLex.mask(sql)).flatMap { m =>
      val tgtName = sql.substring(m.start(1), m.end(1))
      val setList = sql.substring(m.start(2), m.end(2))
      val whereOpt =
        if (m.group(3) == null) None
        else Some(sql.substring(m.start(3), m.end(3)))
      if ((setList :: whereOpt.toList).exists(disqualified)) None
      else Some {
        val tgt = resolve(tgtName)
        val setLc = parsedAssignments(setList, tgt, tgtName)
        val pred = whereOpt.map(w => coalesce(expr(w), lit(false)))
          .getOrElse(lit(true))
        val updated = tgt.select(tgt.columns.toSeq.map { c =>
          setLc.get(c.toLowerCase) match {
            case Some(e) => when(pred, e).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        SqlOutcome(Some(updated), Some(tgtName), SaveMode.Overwrite,
          // @@ROWCOUNT after UPDATE = rows the predicate matched, counted
          // on the PRE-update frame (immutable plan — later overlay
          // staging cannot skew a deferred evaluation)
          affected = Some(() => tgt.filter(pred).count()))
      }
    }
  }
}
