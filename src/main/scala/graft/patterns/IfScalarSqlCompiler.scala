package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.SparkSession

/** T-SQL `IF <scalar predicate> <stmt> [ELSE <stmt>]` — the variable
  * guard idiom (`DECLARE @n INT; SELECT @n = COUNT(*) FROM staging;
  * IF @n > 0 <load>`) and its subquery-comparison cousin
  * (`IF (SELECT COUNT(*) FROM t) > 0 …`). The reference's analyzer
  * sends all control flow to manual review
  * (ssis-to-dbt `src/agents/analyzer.py:137-156`); HERE the predicate
  * is statically evaluable: by the time a script statement reaches
  * this compiler, [[ScriptedSqlExecutor]]'s bindVars has made every
  * declared @var a typed literal (and a top-level task has no binder,
  * so a surviving @token declines), so the predicate folds eagerly as
  * ONE driver fact — `SELECT CASE WHEN (<pred>) THEN …` — the same
  * LIMIT-1-class probe the IF-EXISTS compiler runs. A NULL predicate
  * takes the ELSE branch (T-SQL's UNKNOWN is not-true). The TAKEN
  * branch compiles through the caller's statement chain; the untaken
  * branch must still parse as an ownable single statement (the
  * [[IfExistsSqlCompiler]] branch contract, shared code) so a data
  * flip next run cannot turn a working package into a failing one.
  *
  * Shape gates: the predicate runs from `IF` to the first DEPTH-0
  * statement verb on the masked text (a SELECT inside a subquery
  * comparison sits at depth ≥ 1 and cannot end it; a verb inside a
  * string literal is masked away); `[NOT] EXISTS` heads stay with
  * [[IfExistsSqlCompiler]]; a depth-0 ELSE before the verb (a CASE
  * expression spilling into the predicate) declines; branches take
  * one optional BEGIN…END wrapper, no nested control flow, no `;`
  * (a multi-statement scalar-IF block is the DISPATCHER's to own —
  * [[IfLadderSqlCompiler]] regroups the splitter shreds and the
  * script sequencer runs the block, r18). `IF … SET @v = …`
  * conditional ASSIGNMENT is likewise the ladder's (the chain cannot
  * reach the executor's variable state; the sequencer can); this
  * chain member keeps exactly the single-plain-statement shapes so
  * the r17 paths (q148/q109 class) stay byte-identical. No verb ⇒
  * decline. */
object IfScalarSqlCompiler {

  private val headRe = "(?is)^\\s*if\\b".r
  private val existsHeadRe = "(?is)^\\s*if\\s+(not\\s+)?exists\\s*\\(".r
  // tokens that can OPEN a branch: statement verbs, or the BEGIN of
  // the optional BEGIN…END dressing (SET is deliberately absent — see
  // scaladoc; WHILE/IF are nested control flow the branch contract
  // rejects anyway)
  private val verbRe =
    "(?i)\\b(insert|update|delete|truncate|merge|select|begin)\\b".r
  private val elseRe = "(?i)\\belse\\b".r
  private val scalarVarRe = "@\\w+".r

  /** Split `IF <pred> <then> [ELSE <else>]` at masked depth-0 spans. */
  private def split(text: String): Option[(String, String, Option[String])] = {
    val msk = UpdateSqlCompiler.masked(text)
    val h = headRe.findFirstMatchIn(msk).getOrElse(return None)
    if (existsHeadRe.findFirstMatchIn(msk).isDefined) return None
    val verb = verbRe.findAllMatchIn(msk)
      .find(m => m.start >= h.end &&
        WindowSqlLowering.depthAt(msk, m.start) == 0)
      .getOrElse(return None)
    val pred = text.substring(h.end, verb.start).trim
    if (pred.isEmpty) return None
    // control-flow keywords inside the predicate span mean the text is
    // NOT `IF <expr> <stmt>` (a nested IF, a WHILE, block dressing) —
    // decline rather than hand spark.sql an unevaluable predicate
    if ("(?i)\\b(if|else|while|begin|end|goto)\\b".r.findFirstIn(
        msk.substring(h.end, verb.start)).isDefined) return None
    // a depth-0 ELSE before the branch verb can only be a CASE
    // expression's leg leaking into the predicate — decline
    if (elseRe.findAllMatchIn(msk).exists(m => m.start >= h.end &&
        m.start < verb.start &&
        WindowSqlLowering.depthAt(msk, m.start) == 0)) return None
    val restMsk = msk.substring(verb.start)
    val rest = text.substring(verb.start)
    val cut = elseRe.findAllMatchIn(restMsk)
      .find(m => WindowSqlLowering.depthAt(restMsk, m.start) == 0)
    val (thenRaw, elseRaw) = cut match {
      case Some(m) => (rest.substring(0, m.start), Some(rest.substring(m.end)))
      case None => (rest, None)
    }
    Some((pred, thenRaw, elseRaw))
  }

  private def parse(text: String)
      : Option[(String, String, Option[String])] =
    split(text).flatMap { case (pred, thenRaw, elseRaw) =>
      // a surviving @token in the predicate is an undeclared variable
      // (scripts bind declared vars before the chain; top level has
      // no binder) — decline, never evaluate garbage
      if (scalarVarRe.findFirstIn(UpdateSqlCompiler.masked(pred)).isDefined)
        None
      else for {
        t <- IfExistsSqlCompiler.branch(thenRaw)
        e <- elseRaw match {
          case Some(r) => IfExistsSqlCompiler.branch(r).map(Some(_))
          case None => Some(None)
        }
      } yield (pred, t, e)
    }

  /** Parse-only classification twin (ledger / dry run) — no jobs. */
  private[graft] def shapeMatches(sqlRaw: String): Boolean =
    parse(SqlText.stripComments(sqlRaw)).isDefined

  /** Compile: fold the predicate eagerly, run the taken branch
    * through `chain`. Untaken with no ELSE = vacuous success. */
  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      chain: ExecuteSqlTask => Option[SqlOutcome]): Option[SqlOutcome] = {
    val text = SqlText.stripComments(task.sqlStatement)
    parse(text).flatMap { case (pred, thenStmt, elseStmt) =>
      // a NULL predicate drops to ELSE
      val fired = SqlPatternRewriter.predicateHolds(spark, pred)
      (if (fired) Some(thenStmt) else elseStmt) match {
        case None => Some(SqlOutcome(None, None)) // branch skipped
        case Some(s) => chain(task.copy(sqlStatement = s))
      }
    }
  }
}
