package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome

/** Physical-tuning DDL → an EXECUTED no-op — the statements estates
  * sprinkle through migration scripts that have NO semantic effect in
  * a columnar engine:
  *
  * {{{
  * CREATE [UNIQUE] [CLUSTERED | NONCLUSTERED] INDEX ix ON t (cols)
  *   [INCLUDE (cols)] [WHERE pred] [WITH (opts)]
  * DROP INDEX ix ON t   |   DROP INDEX t.ix
  * UPDATE STATISTICS t [ix] [WITH opts]
  * }}}
  *
  * A rowstore index is physical acceleration with zero relational
  * content; Spark's analogs (bucketing, z-order, parquet min/max
  * stats) are separate ops this engine already owns
  * ([[graft.ops.Bucketing]], [[graft.ops.ZOrder]]), and parquet
  * gathers column statistics at write time — an `UPDATE STATISTICS`
  * has nothing left to do. Executing these as no-ops (instead of
  * declining the whole migration script that carries them) is the
  * CORRECT translation, not a shortcut — the post-script STATE is
  * bit-identical either way, which is what the oracle gates certify.
  * @@ROWCOUNT after DDL is 0, matching the ALTER convention.
  *
  * `WAITFOR DELAY 'hh:mm:ss'` / `WAITFOR TIME 'hh:mm'` (r14) are the
  * same class on the TIME axis: throttles and schedule alignment are
  * the ORCHESTRATOR's job in a replay (the runner fires the task when
  * its precedence constraints say so), and the post-statement state
  * is bit-identical — so they execute as no-ops rather than declining
  * the purge/retry scripts that carry them. One honest difference:
  * their outcome carries NO rows-affected thunk, so a following
  * `@@ROWCOUNT` read DECLINES the script ("read with no countable
  * predecessor") — T-SQL's reset behavior after WAITFOR is not a
  * contract this engine will guess at. `WAITFOR (RECEIVE …)` is
  * service-broker state and stays manual review.
  *
  * Deliberately NOT no-op'd: CREATE UNIQUE INDEX (a unique index is a
  * relational CONSTRAINT, not physical tuning — T-SQL errors at
  * creation on existing duplicates and rejects later duplicate
  * inserts, so dropping it silently changes semantics; it declines
  * like AlterTableSqlCompiler's PRIMARY KEY forms), CREATE/DROP TABLE
  * (relational content), CREATE STATISTICS with a filter (could mask
  * an authoring error in review), index rebuild/reorganize ALTER
  * INDEX forms (they name no schema change but a decline surfaces
  * them in the conversion ledger where an operator can delete them
  * consciously). */
object NoopDdlSqlCompiler {

  private val createIndexRe =
    ("(?is)^\\s*create\\s+(?:clustered\\s+|nonclustered\\s+)?" +
      "index\\s+\\w+\\s+on\\s+[^\\s;(]+\\s*\\([^)]*\\)\\s*" +
      "(?:include\\s*\\([^)]*\\)\\s*)?" +
      "(?:where\\s+[^;]+?\\s*)?" +
      "(?:with\\s*\\([^)]*\\)\\s*)?;?\\s*$").r

  private val dropIndexRe =
    ("(?is)^\\s*drop\\s+index\\s+(?:\\w+\\s+on\\s+[^\\s;]+|[^\\s;]+\\.\\w+)" +
      "\\s*;?\\s*$").r

  private val updateStatsRe =
    ("(?is)^\\s*update\\s+statistics\\s+[^\\s;]+(?:\\s+\\w+)?" +
      "(?:\\s+with\\s+[^;]+?)?\\s*;?\\s*$").r

  private val waitforRe =
    "(?is)^\\s*waitfor\\s+(?:delay|time)\\s+'[^']*'\\s*;?\\s*$".r

  /** Parse-only classification twin of [[rewrite]]. */
  private[graft] def shapeMatches(sqlRaw: String): Boolean = {
    val msk = SqlLex.mask(SqlText.stripComments(sqlRaw))
    createIndexRe.findFirstMatchIn(msk).isDefined ||
      dropIndexRe.findFirstMatchIn(msk).isDefined ||
      updateStatsRe.findFirstMatchIn(msk).isDefined ||
      waitforRe.findFirstMatchIn(msk).isDefined
  }

  def rewrite(task: ExecuteSqlTask): Option[SqlOutcome] = {
    val msk = SqlLex.mask(
      SqlText.stripComments(task.sqlStatement))
    if (waitforRe.findFirstMatchIn(msk).isDefined)
      // no rows-affected thunk: a following @@ROWCOUNT read declines
      // instead of guessing T-SQL's post-WAITFOR reset behavior
      Some(SqlOutcome(None, None))
    else if (shapeMatches(task.sqlStatement))
      Some(SqlOutcome(None, None, affected = Some(() => 0L)))
    else None
  }
}
