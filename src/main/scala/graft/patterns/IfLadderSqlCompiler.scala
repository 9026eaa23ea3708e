package graft.patterns

/** T-SQL `IF … [ELSE IF …]* [ELSE …]` LADDERS — the one shape of a
  * T-SQL IF. The reference's analyzer routes ALL control flow to manual
  * review (ssis-to-dbt `src/agents/analyzer.py:137-156`); here the
  * ladder is a first-match CASCADE of eager driver probes — never
  * nested control: each predicate folds to one boolean fact, the first
  * true leg's statement LIST executes through the script sequencer's
  * own `compileOne` (so `SET @v = …` reaches the executor's variable
  * state), a `RAISERROR` leg is the validation guard, and `RETURN` as
  * an entire leg exits the batch: the remaining script statements are
  * skipped and everything staged commits (T-SQL batch-exit semantics;
  * the executor keeps declining RETURN inside an explicit `BEGIN TRAN`
  * bracket — commit/rollback placement there is ambiguous — and
  * everywhere mid-body).
  *
  * This object holds the ladder's legs; [[SqlBlocks]] parses them, as
  * part of the one block tree the executor and the migration ledger
  * both read. The evaluation (predicate binding via the executor's
  * `bindVars`, branch sequencing, early-exit bookkeeping) lives in
  * [[ScriptedSqlExecutor]]'s `compileOne`, which is the one place with
  * variable state and the staging overlay in reach.
  *
  * Predicates: `[NOT] EXISTS (SELECT …)` legs probe LIMIT-1-bounded;
  * scalar legs fold as `CASE WHEN (<pred>) THEN …` — NULL is not-true
  * (T-SQL UNKNOWN). Both kinds mix freely in one ladder. Branch
  * statements must each be an ownable head (INSERT/UPDATE/DELETE/
  * TRUNCATE/MERGE/SELECT/SET) with no nested control flow
  * (IF/WHILE/BEGIN/GOTO/BREAK/CONTINUE and mid-body RETURN all decline
  * — a block that could never compile declines the WHOLE ladder, so a
  * data flip next run cannot turn a working package into a failing
  * one). Keyword scans run on a twin with string literals AND
  * `[bracketed]` identifiers masked: their content is data. */
object IfLadderSqlCompiler {

  sealed trait Pred
  /** `[NOT] EXISTS (probe)` — probe must be SELECT-headed. */
  final case class ExistsPred(negated: Boolean, probe: String) extends Pred
  /** A scalar boolean expression (variables still unbound here). */
  final case class ScalarPred(expr: String) extends Pred

  sealed trait Branch
  /** A bare `RETURN` leg — batch exit. */
  case object ReturnExit extends Branch
  /** A bare `BREAK` leg — leaves the enclosing WHILE (Spark scripting's
    * `LeaveStatement`); only [[BatchedDmlLoopSqlCompiler]] owns one. */
  case object Break extends Branch
  /** A `RAISERROR(<args>)` leg, bare or as the whole of a `BEGIN … END`
    * body — the validation guard. Severity ≥ 11 aborts the task (and
    * is T-SQL-catchable, so a TRY/CATCH script catches it); ≤ 10 is
    * informational and the batch continues. */
  final case class Raise(args: String) extends Branch
  /** One or more ownable statements (BEGIN…END stripped). */
  final case class Stmts(stmts: List[String]) extends Branch

  final case class Ladder(legs: List[(Pred, Branch)],
      otherwise: Option[Branch]) {
    def branches: List[Branch] = legs.map(_._2) ++ otherwise
    def hasReturn: Boolean = branches.contains(ReturnExit)
    def raises: Boolean = branches.exists(_.isInstanceOf[Raise])
  }

  /** Render a RAISERROR message argument: `[N]'…'` literals unquote
    * and unescape (T-SQL reports the bare text); anything else passes
    * through verbatim. */
  private[patterns] def raiseMsg(arg: String): String = {
    val t = arg.trim
    if (t.matches("(?is)^N?'.*'$")) {
      val body = t.replaceFirst("(?is)^N", "")
      body.substring(1, body.length - 1).replace("''", "'")
    } else t
  }

  // `SET @v = …` / `SELECT @v = …` heads: the executor's assignment
  // machinery must see these UNBOUND (binding the target turns the
  // assignment into a literal comparison)
  private val assignHeadRe = "(?is)^\\s*(?:set|select)\\s+@\\w+\\s*=".r

  private val ifHeadRe = "(?is)^\\s*if\\b".r

  /** Is the statement IF-headed (comments and literals aside)? */
  private[patterns] def isIf(stmt: String): Boolean =
    ifHeadRe.findFirstIn(SqlLex.mask(SqlText.stripComments(stmt))).isDefined

  /** Parse one statement text (comments already stripped) as an IF
    * ladder: the text must be exactly one IF ([[SqlBlocks]] holds the
    * grammar). None = not a shape this compiler can state — the caller
    * declines the statement to manual review. */
  def parse(text: String): Option[Ladder] = SqlBlocks.parse(text) match {
    case Right(List(SqlBlocks.Batch(List(SqlBlocks.If(l, _))))) => Some(l)
    case _ => None
  }

  /** May this ladder be EMITTED inside an unrolled WHILE body
    * ([[WhileLoopSqlCompiler]])? It must have no RETURN or BREAK leg (a
    * batch or loop exit is not the unroller's to decide) and no
    * assignment branches (a conditional `SET @v = …` is invisible to
    * the unroller's driver-side variable model — the loop would diverge
    * silently from T-SQL); RAISERROR legs are fine (a fired guard
    * aborts the task at its emitted position). */
  private[graft] def loopBodySafe(l: Ladder): Boolean =
    !l.branches.exists {
      case ReturnExit | Break => true
      case Stmts(ss) => ss.exists(s =>
        assignHeadRe.findFirstIn(SqlLex.mask(s)).isDefined)
      case _ => false
    }
}
