package graft.patterns

import scala.collection.mutable.ListBuffer

import IfLadderSqlCompiler._

/** The one T-SQL block parser: a task text as a tree of GO batches,
  * `BEGIN … END` blocks, IF ladders, WHILE loops, TRY/CATCH handlers,
  * transaction statements and plain statement leaves. The node set
  * follows Spark's own scripting AST (`CompoundBody`, `IfElseStatement`,
  * `WhileStatement`, `ExceptionHandler`, `SingleStatement`); lowering is
  * this engine's, not Spark scripting's.
  *
  * Structure is read from [[SqlLex.mask]] only, so keywords inside
  * literals, `[bracketed]` identifiers and comments are data. A batch is
  * the text between `GO` lines ([[SqlText.splitBatches]]). A statement
  * ends at a `;`, at the end of its batch, at the `END` closing the
  * block it sits in, (a one-statement IF branch) at a depth-0 `ELSE`,
  * or at a depth-0 `WHILE`, `DECLARE`, `OPEN`, `CLOSE`, `DEALLOCATE` or
  * cursor `FETCH`, where T-SQL starts the next statement without one.
  * `CASE … END` pairs, and a `BEGIN … END` inside a statement (a
  * procedure body) keeps its `;`s. Control keywords count only at a
  * statement's start: `DROP TABLE IF EXISTS` is one statement.
  *
  * Only an IF whose legs [[IfLadderSqlCompiler]] can state becomes a
  * node: each branch is `RETURN`, `BREAK` (inside a WHILE body only,
  * as T-SQL requires), one `RAISERROR(…)`, or ownable statements with
  * no nested control. Any other IF, and any unbalanced block, fails
  * the parse with a reason: the executor declines such a task as a
  * whole. The loop readers (cursor, batched purge, counter) read their
  * loops off these nodes. */
object SqlBlocks {

  sealed trait Node
  /** What the script sequencer runs: a statement or an IF ladder. */
  sealed trait Leaf extends Node { def text: String }
  final case class Stmt(text: String) extends Leaf
  final case class If(ladder: Ladder, text: String) extends Leaf
  /** The statements between two `GO` lines. */
  final case class Batch(body: List[Node]) extends Node
  final case class Block(body: List[Node]) extends Node
  final case class While(pred: String, body: List[Node]) extends Node
  final case class TryCatch(tryBody: List[Node], catchBody: List[Node]) extends Node
  sealed trait Txn extends Node
  case object BeginTran extends Txn
  case object Commit extends Txn
  final case class SaveTran(name: String) extends Txn
  final case class Rollback(name: Option[String]) extends Txn

  /** The batches of a comment-stripped text, or why it has no tree. */
  def parse(text: String): Either[String, List[Batch]] =
    try Right(SqlText.splitBatches(text).map(b => Batch(new Parser(b).top())))
    catch { case f: Fail => Left(f.getMessage) }

  /** Every node of a tree, parents before children, in text order. */
  def walk(nodes: List[Node]): List[Node] = nodes.flatMap { n =>
    n :: (n match {
      case Batch(b) => walk(b)
      case Block(b) => walk(b)
      case While(_, b) => walk(b)
      case TryCatch(t, c) => walk(t) ++ walk(c)
      case _ => Nil
    })
  }

  /** One statement without its transaction dressing: the statement,
    * the statement a fused `BEGIN TRAN` prefix leads, or nothing for
    * `BEGIN TRAN` / `COMMIT` / `SET NOCOUNT`. A text with no tree
    * stays as it is. */
  def undressed(stmt: String): List[String] = parse(stmt) match {
    case Right(bs) => bs.flatMap(_.body).collect { case l: Leaf => l.text }
    case Left(_) => List(stmt)
  }

  /** The text inside `BEGIN … END` when one plain block is the whole
    * text (a procedure body's optional wrapper), else None. */
  def blockBody(text: String): Option[String] =
    try new Parser(text).wholeBlock() catch { case _: Fail => None }

  private final class Fail(why: String)
    extends RuntimeException(why, null, false, false)
  private def fail(why: String): Nothing = throw new Fail(why)

  private def wordChar(c: Char) = c.isLetterOrDigit || c == '_'
  // a name, not a keyword, when one of these leads it
  private val namePrefix = "_@#[.$"
  private val tranWords = Set("tran", "transaction")
  // a BEGIN followed by one of these opens no plain block
  private val notBlock = tranWords ++ Set("try", "catch")

  // tokens that OPEN a branch after a scalar predicate (word-bounded,
  // not part of an identifier / bracket / @var / #temp)
  private val openerRe = ("(?i)(?<![\\w\\[.@#$])(insert|update|delete|" +
    "truncate|merge|select|begin|set|return|break|raiserror)(?![\\w\\]])").r
  // control-flow keywords that may not appear inside a scalar predicate
  private val predControlRe = "(?i)\\b(if|else|while|begin|end|goto)\\b".r
  private val existsHeadRe = "(?is)^(not\\s+)?exists\\s*\\(".r
  private val selectHeadRe = "(?is)^\\s*select\\b".r
  // per-branch-statement gates: ownable head, no nested control
  private val stmtHeadRe =
    "(?is)^\\s*(insert|update|delete|truncate|merge|select|set)\\b".r
  private val stmtControlRe = ("(?i)(?<![\\w\\[.@#$])(if|while|begin|" +
    "goto|return|break|continue)(?![\\w\\]])").r
  // depth-0 statement starts (a FETCH after `ROW[S]` is OFFSET's)
  private val stmtStarts = Set("while", "declare", "open", "close", "deallocate")
  private val rowsRe = "(?i)\\brows?\\s*$".r
  private val truncDeleteHeadRe = "(?is)^\\s*(truncate|delete)\\b".r
  private val insertRe = "(?i)\\binsert\\b".r

  /** A TRUNCATE/DELETE head followed by a depth-0 INSERT token: two
    * statements fused by a missing `;`, which the order-blind rewriter
    * would compile both under the guard where T-SQL guards only the
    * first. */
  private def fusedDml(msk: String): Boolean =
    truncDeleteHeadRe.findFirstIn(msk).isDefined && {
      val depth = SqlLex.depths(msk)
      insertRe.findAllMatchIn(msk).exists(m => depth(m.start) == 0)
    }

  /** May this statement be one of an IF branch's statements? */
  private def stmtOk(s: String): Boolean = {
    val m = SqlLex.mask(s)
    stmtHeadRe.findFirstIn(m).isDefined &&
      stmtControlRe.findFirstIn(m).isEmpty && !fusedDml(m)
  }

  private final class Parser(text: String) {
    private val msk = SqlLex.mask(text)
    private val n = msk.length
    private lazy val depth = SqlLex.depths(msk)
    private var i = 0
    private var loops = 0 // WHILE bodies open at i

    private def ws(): Unit = while (i < n && msk.charAt(i).isWhitespace) i += 1
    private def seps(): Unit =
      while (i < n && (msk.charAt(i).isWhitespace || msk.charAt(i) == ';')) i += 1
    private def wordEnd(j: Int): Int = {
      var k = j
      while (k < n && wordChar(msk.charAt(k))) k += 1
      k
    }
    /** The keyword starting at `j` (lower case), or "" when `j` starts
      * no keyword: inside a name, after a name prefix, before `]`. */
    private def word(j: Int): String =
      if (j >= n || !wordChar(msk.charAt(j)) ||
          (j > 0 && (wordChar(msk.charAt(j - 1)) ||
            namePrefix.contains(msk.charAt(j - 1))))) ""
      else {
        val e = wordEnd(j)
        if (e < n && msk.charAt(e) == ']') ""
        else msk.substring(j, e).toLowerCase
      }
    private def kwAt(j: Int, k: String) = word(j) == k
    /** The keyword after the whitespace from `j`. */
    private def nextWord(j: Int): String = {
      var k = j
      while (k < n && msk.charAt(k).isWhitespace) k += 1
      word(k)
    }
    private def eat(k: String): Unit = {
      ws()
      if (!kwAt(i, k)) fail(s"expected ${k.toUpperCase}")
      i += k.length
    }

    def top(): List[Node] = seq(inBlock = false)

    def wholeBlock(): Option[String] = {
      ws()
      if (!kwAt(i, "begin") || notBlock(nextWord(i + 5))) None
      else {
        i += 5
        val from = i
        seq(inBlock = true)
        val to = i
        close(None); seps()
        if (i < n) None else Some(text.substring(from, to).trim)
      }
    }

    /** Statements up to the END of the enclosing block (not consumed)
      * or the end of the batch. */
    private def seq(inBlock: Boolean): List[Node] = {
      val out = ListBuffer.empty[Node]
      while ({ seps(); i < n && !kwAt(i, "end") }) out ++= node()
      if (inBlock && i >= n) fail("BEGIN without END")
      if (!inBlock && i < n) fail("END without BEGIN")
      out.toList
    }

    /** The `END [TRY|CATCH]` closing a block. */
    private def close(handler: Option[String]): Unit = {
      eat("end")
      handler match {
        case Some(h) => eat(h)
        case None =>
          if (Set("try", "catch")(nextWord(i))) fail("unbalanced BEGIN…END")
      }
    }

    private def node(): Option[Node] = word(i) match {
      case "begin" =>
        val next = nextWord(i + 5)
        if (next == "try") {
          eat("begin"); eat("try")
          val t = seq(inBlock = true); close(Some("try")); seps()
          eat("begin"); eat("catch")
          val c = seq(inBlock = true); close(Some("catch"))
          Some(TryCatch(t, c))
        } else if (next == "catch") fail("CATCH without TRY")
        else if (tranWords(next)) { eat("begin"); eat(next); beginTran() }
        else {
          i += 5
          val b = seq(inBlock = true); close(None)
          Some(Block(b))
        }
      case "if" => Some(ifNode())
      case "while" => Some(whileNode())
      case _ => dressing(statement(stopAtElse = false))
    }

    /** After `BEGIN TRAN[SACTION]`: an optional name ends the statement;
      * anything else is the statement the prefix was fused onto. */
    private def beginTran(): Option[Node] = {
      ws()
      val w = word(i)
      val after = { var k = wordEnd(i); while (k < n && msk.charAt(k).isWhitespace) k += 1; k }
      if (w.nonEmpty && (after >= n || msk.charAt(after) == ';' || kwAt(after, "end")))
        i = after
      Some(BeginTran)
    }

    /** A statement's transaction meaning, read off its words. */
    private def dressing(s: String): Option[Node] = {
      val words = SqlLex.mask(s).toLowerCase.split("\\s+").toList
      def name(w: String) = w.nonEmpty && w.forall(wordChar)
      def tranTail(rest: List[String]) = rest match {
        case Nil => true
        case t :: Nil => tranWords(t)
        case t :: nm :: Nil => tranWords(t) && name(nm)
        case _ => false
      }
      words match {
        case "commit" :: rest if tranTail(rest) => Some(Commit)
        case "save" :: t :: nm :: Nil if tranWords(t) && name(nm) => Some(SaveTran(nm))
        case "rollback" :: rest if tranTail(rest) => Some(Rollback(rest.lift(1)))
        case "set" :: "nocount" :: ("on" | "off") :: Nil => None
        case _ => Some(Stmt(s))
      }
    }

    /** A plain statement from `i` to its end (see the object doc). */
    private def statement(stopAtElse: Boolean): String = {
      val start = i
      var blocks = 0
      var done = false
      while (!done && i < n) {
        val c = msk.charAt(i)
        if (c == ';' && blocks == 0) done = true
        else word(i) match {
          case "" => i += 1
          case w =>
            w match {
              case "case" => blocks += 1
              case "begin" if !tranWords(nextWord(i + 5)) => blocks += 1
              case "end" if blocks > 0 => blocks -= 1
              case "end" => done = true
              case "else" if stopAtElse && blocks == 0 && depth(i) == 0 => done = true
              case _ if (stmtStarts(w) || w == "fetch" &&
                  rowsRe.findFirstIn(msk.substring(start, i)).isEmpty) &&
                  i > start && blocks == 0 && depth(i) == 0 => done = true
              case _ =>
            }
            if (!done) i += w.length
        }
      }
      text.substring(start, i).trim
    }

    private def ifNode(): If = {
      val start = i
      i += 2
      val legs = ListBuffer.empty[(Pred, Branch)]
      var otherwise: Option[Branch] = None
      var more = true
      while (more) {
        legs += ((pred(), branch()))
        val end = i
        seps()
        if (!kwAt(i, "else")) { i = end; more = false }
        else {
          i += 4; ws()
          if (kwAt(i, "if")) i += 2 // next leg of the cascade
          else { otherwise = Some(branch()); more = false }
        }
      }
      If(Ladder(legs.toList, otherwise), text.substring(start, i).trim)
    }

    private def pred(): Pred = {
      ws()
      // the scalar form: predicate runs from here to the first depth-0
      // branch-opener token. EXISTS subqueries inside it sit at paren
      // depth ≥ 1, so their SELECTs never end the scan — Spark folds
      // scalar-context EXISTS natively, so a compound predicate
      // (`@n > 0 AND EXISTS (…)`, `EXISTS (…) OR EXISTS (…)`) rides
      // the same CASE-WHEN fold as any other boolean expression.
      def scalar(): Pred = {
        val verb = openerRe.findAllMatchIn(msk)
          .find(m => m.start >= i && depth(m.start) == 0)
          .getOrElse(fail("IF with no branch"))
        val predTxt = text.substring(i, verb.start).trim
        if (predTxt.isEmpty) fail("IF with no predicate")
        // control-flow keywords inside the predicate span mean the text
        // is NOT `IF <expr> <branch>` (CASE…END predicates included)
        if (predControlRe.findFirstIn(msk.substring(i, verb.start)).isDefined)
          fail("control flow inside an IF predicate")
        i = verb.start
        ScalarPred(predTxt)
      }
      existsHeadRe.findFirstMatchIn(msk.substring(i)) match {
        case Some(h) =>
          val c = SqlLex.close(msk, i + h.end)
          if (c < 0) fail("unclosed EXISTS")
          // a branch opener right after the close paren means the
          // predicate is EXACTLY the EXISTS probe (the LIMIT-1 path);
          // anything else makes it one conjunct of a scalar predicate
          var k = c + 1
          while (k < n && msk.charAt(k).isWhitespace) k += 1
          if (openerRe.findPrefixMatchOf(msk.subSequence(k, n)).isEmpty) scalar()
          else {
            val probe = text.substring(i + h.end, c).trim
            if (selectHeadRe.findFirstIn(SqlLex.mask(probe)).isEmpty)
              fail("EXISTS probe is not a SELECT")
            i = c + 1
            ExistsPred(h.group(1) != null, probe)
          }
        case None => scalar()
      }
    }

    /** `RAISERROR(args)` at `i`: i moves past the call. */
    private def raise(): Raise = {
      i += "raiserror".length; ws()
      if (i >= n || msk.charAt(i) != '(') fail("RAISERROR without arguments")
      val c = SqlLex.close(msk, i + 1)
      if (c < 0) fail("unclosed RAISERROR")
      val args = text.substring(i + 1, c).trim
      if (args.isEmpty) fail("RAISERROR without arguments")
      i = c + 1
      Raise(args)
    }

    private def branch(): Branch = {
      ws()
      word(i) match {
        case "return" => i += 6; ReturnExit
        case "break" => if (loops == 0) fail("BREAK outside a WHILE"); i += 5; Break
        case "raiserror" => raise()
        case "begin" if !notBlock(nextWord(i + 5)) =>
          i += 5
          val body = seq(inBlock = true)
          close(None)
          val stmts = body.collect { case Stmt(s) => s }
          (stmts match {
            case List(s) => raiseOnly(s)
            case _ => None
          }).getOrElse {
            if (stmts.isEmpty || stmts.size < body.size || !stmts.forall(stmtOk))
              fail("an IF branch with nested control flow")
            Stmts(stmts)
          }
        case _ =>
          val s = statement(stopAtElse = true)
          if (s.isEmpty || !stmtOk(s)) fail("an IF branch with no ownable statement")
          Stmts(List(s))
      }
    }

    /** The guard leg of a `BEGIN RAISERROR(…) END` body. */
    private def raiseOnly(s: String): Option[Raise] = {
      val p = new Parser(s)
      if (!p.kwAt(0, "raiserror")) None
      else scala.util.Try(p.raise()).toOption
        .filter(_ => { p.ws(); p.i >= p.n })
    }

    private def whileNode(): While = {
      i += 5
      val start = i
      // the predicate runs to the first depth-0 BEGIN
      var j = i
      while (j < n && !(kwAt(j, "begin") && depth(j) == 0)) j += 1
      if (j >= n) fail("WHILE without a BEGIN…END body")
      val pred = text.substring(start, j).trim
      if (pred.isEmpty) fail("WHILE without a predicate")
      i = j + 5
      loops += 1
      val body = seq(inBlock = true)
      loops -= 1
      close(None)
      While(pred, body)
    }
  }
}
