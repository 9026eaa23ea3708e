package graft.patterns

import scala.collection.mutable.ListBuffer

/** T-SQL `IF … [ELSE IF …]* [ELSE …]` LADDERS — the one parser of a
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
  * This object is PARSE-ONLY — classification and structure. The
  * evaluation (predicate binding via the executor's `bindVars`, branch
  * sequencing, early-exit bookkeeping) lives in
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
  /** A `RAISERROR(<args>)` leg, bare or as the whole of a `BEGIN … END`
    * body — the validation guard. Severity ≥ 11 aborts the task (and
    * is T-SQL-catchable, so a TRY/CATCH script catches it); ≤ 10 is
    * informational and the batch continues. */
  final case class Raise(args: String) extends Branch
  /** One or more ownable statements (BEGIN…END stripped). */
  final case class Stmts(stmts: List[String]) extends Branch

  final case class Ladder(legs: List[(Pred, Branch)],
      otherwise: Option[Branch]) {
    def hasReturn: Boolean =
      (legs.map(_._2) ++ otherwise).contains(ReturnExit)
    def raises: Boolean =
      (legs.map(_._2) ++ otherwise).exists(_.isInstanceOf[Raise])
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

  private val existsHeadRe = "(?is)^(not\\s+)?exists\\s*\\(".r
  private val selectHeadRe = "(?is)^\\s*select\\b".r
  // tokens that OPEN a branch after a scalar predicate (word-bounded,
  // not part of an identifier / bracket / @var / #temp)
  private val openerRe = ("(?i)(?<![\\w\\[.@#$])(insert|update|delete|" +
    "truncate|merge|select|begin|set|return|raiserror)(?![\\w\\]])").r
  // control-flow keywords that may not appear inside a scalar
  // predicate span (the text is then not `IF <expr> <branch>`)
  private val predControlRe = "(?i)\\b(if|else|while|begin|end|goto)\\b".r
  private val elseTokRe = "(?i)(?<![\\w\\[.@#$])else(?![\\w\\]])".r
  // per-branch-statement gates: ownable head, no nested control
  private val stmtHeadRe =
    "(?is)^\\s*(insert|update|delete|truncate|merge|select|set)\\b".r
  private val stmtControlRe = ("(?i)(?<![\\w\\[.@#$])(if|while|begin|" +
    "goto|return|break|continue)(?![\\w\\]])").r

  // block-structure tokens for BEGIN…END matching: BEGIN and CASE
  // push, END pops (CASE…END inside block bodies pairs away); a BEGIN
  // followed by TRAN/TRANSACTION/TRY/CATCH is transaction/handler
  // dressing, not a block opener
  private val blockTokRe =
    "(?i)(?<![\\w\\[.@#$])(begin|case|end)(?![\\w\\]])".r
  private val tranDressRe = "(?is)^\\s*(tran(?:saction)?|try|catch)\\b".r

  /** Net block balance of a fragment (`begin`/`case` minus `end`). */
  private def balance(msk: String): Int = {
    var d = 0
    blockTokRe.findAllMatchIn(msk).foreach { m =>
      m.group(1).toLowerCase match {
        case "begin" =>
          if (tranDressRe.findFirstIn(msk.substring(m.end)).isEmpty) d += 1
        case "case" => d += 1
        case "end" => d -= 1
      }
    }
    d
  }

  private val elseHeadRe = "(?is)^\\s*else\\b".r

  /** A TRUNCATE/DELETE head followed by a depth-0 INSERT token: two
    * statements fused by a missing `;` — the order-blind rewriter
    * downstream would compile both under the guard where T-SQL guards
    * only the first: decline, never a silent divergence. */
  private def fusedDml(msk: String): Boolean =
    "(?is)^\\s*(truncate|delete)\\b".r.findFirstIn(msk).isDefined && {
      val depth = SqlLex.depths(msk)
      "(?i)\\binsert\\b".r.findAllMatchIn(msk).exists(m => depth(m.start) == 0)
    }

  /** Re-join the fragments the `;` splitter shredded an
    * `IF … BEGIN <stmts> END [ELSE …]` block into: while an IF-headed
    * fragment's block balance stays positive, following fragments are
    * its block body (re-joined with the `;` the splitter consumed);
    * a balanced IF-headed fragment followed by an `ELSE`-headed one is
    * the `IF <stmt>; ELSE <stmt>` spelling (the `;` before ELSE
    * terminates the THEN statement — re-joined with a space, as the
    * ladder grammar reads it). Anything else passes through untouched,
    * so non-IF scripts split exactly as before. */
  private[graft] def regroup(stmts: List[String]): List[String] = {
    val out = ListBuffer.empty[String]
    stmts.foreach { s =>
      val joined = out.lastOption.flatMap { prev =>
        val pm = SqlLex.mask(prev)
        if (ifHeadRe.findFirstIn(pm).isEmpty) None
        else {
          val b = balance(pm)
          if (b > 0) Some(prev + "; " + s)
          else if (b == 0 && elseHeadRe.findFirstIn(SqlLex.mask(s)).isDefined)
            Some(prev + " " + s)
          else None
        }
      }
      joined match {
        case Some(j) => out(out.length - 1) = j
        case None => out += s
      }
    }
    out.toList
  }

  /** Parse one statement text (comments already stripped) as an IF
    * ladder. None = not a shape this compiler can state — the caller
    * declines the statement to manual review. */
  def parse(text: String): Option[Ladder] = {
    val msk = SqlLex.mask(text)
    val depth = SqlLex.depths(msk)
    // the whole text must be ONE ladder: a trailing `;` is tolerated;
    // any other trailing content declines
    var i = 0
    def ws(): Unit = {
      while (i < msk.length && msk.charAt(i).isWhitespace) i += 1 }
    def atEnd: Boolean = { ws(); i >= msk.length ||
      msk.substring(i).forall(c => c == ';' || c.isWhitespace) }
    def kwAt(k: String): Boolean = {
      msk.regionMatches(true, i, k, 0, k.length) && {
        val after = i + k.length
        (after >= msk.length ||
          (!Character.isLetterOrDigit(msk.charAt(after)) &&
            msk.charAt(after) != '_')) &&
        (i == 0 || (!Character.isLetterOrDigit(msk.charAt(i - 1)) &&
          !"_@#[.$".contains(msk.charAt(i - 1))))
      }
    }
    def eat(k: String): Boolean = {
      ws(); if (kwAt(k)) { i += k.length; true } else false }

    def parsePred(): Option[Pred] = {
      ws()
      // the scalar form: predicate runs from here to the first depth-0
      // branch-opener token. EXISTS subqueries inside it sit at paren
      // depth ≥ 1, so their SELECTs never end the scan — Spark folds
      // scalar-context EXISTS natively, so a compound predicate
      // (`@n > 0 AND EXISTS (…)`, `EXISTS (…) OR EXISTS (…)`) rides
      // the same CASE-WHEN fold as any other boolean expression.
      def scalarPred(): Option[Pred] = {
        val verb = openerRe.findAllMatchIn(msk)
          .find(m => m.start >= i && depth(m.start) == 0)
          .getOrElse(return None)
        val predTxt = text.substring(i, verb.start).trim
        if (predTxt.isEmpty) return None
        // control-flow keywords inside the predicate span mean the
        // text is NOT `IF <expr> <branch>` — decline, never hand
        // spark.sql an unevaluable predicate (CASE…END predicates
        // included: their ELSE/END tokens land here)
        if (predControlRe.findFirstIn(
            msk.substring(i, verb.start)).isDefined) return None
        i = verb.start
        Some(ScalarPred(predTxt))
      }
      existsHeadRe.findFirstMatchIn(msk.substring(i)) match {
        case Some(h) =>
          val c = SqlLex.close(msk, i + h.end)
          if (c < 0) None
          else {
            val j = c + 1
            // peek past the close paren: a branch opener means the
            // predicate was EXACTLY the EXISTS probe (the LIMIT-1
            // path); anything else (AND/OR connectives) makes the
            // EXISTS one conjunct of a compound SCALAR predicate
            var k = j
            while (k < msk.length && msk.charAt(k).isWhitespace) k += 1
            val branchFollows = openerRe.findPrefixMatchOf(
              msk.subSequence(k, msk.length)).isDefined
            if (!branchFollows) scalarPred()
            else {
              val probe = text.substring(i + h.end, j - 1).trim
              if (selectHeadRe.findFirstIn(SqlLex.mask(probe)).isEmpty) None
              else {
                i = j
                Some(ExistsPred(h.group(1) != null, probe))
              }
            }
          }
        case None => scalarPred()
      }
    }

    // one branch statement: ownable head, no nested control flow, no
    // fused-refresh text
    def stmtOk(s: String): Boolean = {
      val m = SqlLex.mask(s)
      stmtHeadRe.findFirstIn(m).isDefined &&
        stmtControlRe.findFirstIn(m).isEmpty && !fusedDml(m)
    }

    // `RAISERROR(args)` at `i`: paren-matched args, i moves past the
    // call (trailing content falls to the caller's checks)
    def raiseCall(): Option[Raise] = {
      i += "raiserror".length; ws()
      if (i >= msk.length || msk.charAt(i) != '(') return None
      val c = SqlLex.close(msk, i + 1)
      if (c < 0) None
      else {
        val args = text.substring(i + 1, c).trim
        if (args.isEmpty) None else { i = c + 1; Some(Raise(args)) }
      }
    }

    def parseBranch(): Option[Branch] = {
      ws()
      if (kwAt("return")) { i += "return".length; Some(ReturnExit) }
      else if (kwAt("raiserror")) raiseCall()
      else if (kwAt("begin") &&
          tranDressRe.findFirstIn(msk.substring(i + 5)).isEmpty) {
        // match this block's END by token walk (BEGIN/CASE push, END
        // pops) — CASE expressions inside the body pair away
        val bodyStart = i + 5
        var blocks = 1
        var endTok: Option[scala.util.matching.Regex.Match] = None
        blockTokRe.findAllMatchIn(msk).filter(_.start >= bodyStart)
          .takeWhile(_ => blocks > 0).foreach { m =>
            m.group(1).toLowerCase match {
              case "begin" =>
                if (tranDressRe.findFirstIn(msk.substring(m.end)).isEmpty)
                  blocks += 1
              case "case" => blocks += 1
              case "end" =>
                blocks -= 1
                if (blocks == 0) endTok = Some(m)
            }
          }
        endTok.flatMap { e =>
          // a body that is exactly one RAISERROR call is the guard leg
          i = bodyStart; ws()
          val raise =
            if (!kwAt("raiserror")) None
            else raiseCall().filter(_ => i <= e.start && msk.substring(
              i, e.start).forall(c => c == ';' || c.isWhitespace))
          val stmts = SqlText.splitStatements(text.substring(bodyStart, e.start))
          i = e.end
          raise.orElse(
            if (stmts.nonEmpty && stmts.forall(stmtOk)) Some(Stmts(stmts))
            else None)
        }
      } else {
        // single unwrapped statement: extends to the next depth-0 ELSE
        // token or the end of the text (a CASE expression's depth-0
        // ELSE mis-cuts here and the ladder then fails to parse —
        // decline; wrap it in BEGIN…END)
        val cut = elseTokRe.findAllMatchIn(msk)
          .find(m => m.start >= i && depth(m.start) == 0)
          .map(_.start).getOrElse(msk.length)
        val stmt = text.substring(i, cut).trim.replaceAll("[;\\s]+$", "")
        if (stmt.isEmpty || !stmtOk(stmt)) None
        else { i = cut; Some(Stmts(List(stmt))) }
      }
    }

    if (!eat("if")) return None
    val legs = ListBuffer.empty[(Pred, Branch)]
    var otherwise: Option[Branch] = None
    var done = false
    while (!done) {
      val pred = parsePred().getOrElse(return None)
      val br = parseBranch().getOrElse(return None)
      legs += ((pred, br))
      if (atEnd) done = true
      else if (eat("else")) {
        ws()
        if (kwAt("if")) i += 2 // next leg of the cascade
        else {
          otherwise = Some(parseBranch().getOrElse(return None))
          if (!atEnd) return None
          done = true
        }
      } else return None
    }
    Some(Ladder(legs.toList, otherwise))
  }

  /** May this statement be EMITTED inside an unrolled WHILE body
    * ([[WhileLoopSqlCompiler]])? It must parse as a ladder with no
    * RETURN leg (a batch exit from inside a loop is not the unroller's
    * to decide) and no assignment branches (a conditional `SET @v = …`
    * is invisible to the unroller's driver-side variable model — the
    * loop would diverge silently from T-SQL); RAISERROR legs are fine
    * (a fired guard aborts the task at its emitted position). */
  private[graft] def loopBodySafe(stmt: String): Boolean =
    parse(SqlText.stripComments(stmt)).exists { l =>
      !(l.legs.map(_._2) ++ l.otherwise).exists {
        case ReturnExit => true
        case Stmts(ss) => ss.exists(s =>
          assignHeadRe.findFirstIn(SqlLex.mask(s)).isDefined)
        case _ => false
      }
    }

  /** Whole-TASK twin for the migration ledger: comments stripped, GO/;
    * split, shredded blocks regrouped — True when the task is exactly
    * one ladder statement free of `@tokens` / predicate `@@reads` and
    * inside the executor's #temp scope: a one-statement task has no
    * DECLARE to bind them and no countable predecessor, and a temp it
    * does not create is another task's, so the executor would decline
    * at run — the ledger must not overclaim conversion for that class. */
  private[graft] def ownsWholeText(sqlRaw: String): Boolean = {
    val text = SqlText.stripComments(sqlRaw)
    val stmts = regroup(
      SqlText.splitBatches(text).flatMap(SqlText.splitStatements))
    stmts.length == 1 && !ScriptedSqlExecutor.outOfTempScope(text) &&
      // no scalar @tokens anywhere (unbindable without a DECLARE) —
      // but @@ROWCOUNT is allowed INSIDE branches, where it composes
      // off an earlier branch statement's count at run time
      "(?<!@)@\\w+".r.findFirstIn(
        SqlLex.mask(stmts.head)).isEmpty &&
      parse(stmts.head).exists(_.legs.forall { case (p, _) =>
        val predTxt = p match {
          case ExistsPred(_, probe) => probe
          case ScalarPred(e) => e
        }
        // a PREDICATE @@read has no countable predecessor at
        // whole-task level — the executor declines it
        !SqlLex.mask(predTxt).contains("@@")
      })
  }
}
