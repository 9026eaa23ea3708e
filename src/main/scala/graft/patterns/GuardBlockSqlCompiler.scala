package graft.patterns

import graft.expr.LocalEval
import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The T-SQL pre-ETL GUARD block → Spark compile — the LAST statement
  * class in the reference's own sample packages that only classified
  * instead of executing (SalesFactETL's "Verify dimension tables have
  * data" task, `SalesFactETL.dtsx`):
  *
  * {{{
  * DECLARE @A INT, @B INT;
  * SELECT @A = COUNT(*) FROM t1 [WHERE …];
  * SELECT @B = COUNT(*) FROM t2;
  * IF <predicate over @vars> RAISERROR('message', severity, state);
  * }}}
  *
  * Every statement must be one of exactly three forms — DECLARE,
  * scalar SELECT-assign, IF…RAISERROR — with at least one assign and
  * at least one guard; anything else declines the WHOLE block to
  * manual review (half a guard is no guard). Each scalar assign runs
  * eagerly and collects ONE value (the q13 bounded-driver-fact
  * convention — guard counts are scalars by construction); the IF
  * predicate evaluates with the collected values substituted as typed
  * literals through a driver-local [[LocalEval]] CASE (so any SQL predicate
  * the author wrote — OR chains, comparisons, NULL checks — keeps SQL
  * semantics, including UNKNOWN ≠ TRUE). A tripped guard with severity
  * ≥ 11 throws — the task fails exactly like SSIS failing the
  * statement; severity ≤ 10 is informational in T-SQL and passes. A
  * variable referenced but never declared declines the block. */
object GuardBlockSqlCompiler {

  private val declareRe = "(?is)^declare\\s+@.+$".r
  private val assignRe = "(?is)^select\\s+@(\\w+)\\s*=\\s*(.+)$".r
  // the optional BEGIN … END wrapper is equally canonical T-SQL
  // (`IF pred BEGIN RAISERROR(...) END`); the END may arrive in the
  // same fragment (no inner `;`) or be orphaned by the split
  private val ifRaiseRe =
    "(?is)^if\\s+(.+?)\\s+(?:begin\\s+)?raiserror\\s*\\((.+?)\\)\\s*(?:;?\\s*end)?\\s*$".r
  private val bareEndRe = "(?is)^end\\s*$".r
  private val declaredVarRe = "@(\\w+)".r
  // an assign carrying its own FROM (or WHERE) is a query; any other is
  // one scalar expression the driver folds ([[LocalEval]])
  private val queryClauseRe = "(?i)\\b(?:from|where)\\b".r

  private final case class Assign(name: String, expr: String)
  private final case class Guard(pred: String, args: String)
  private final case class Block(declared: Set[String],
      assigns: Seq[Assign], guards: Seq[Guard])

  /** The canonical-shape classification of a whole statement text —
    * shared by [[rewrite]] (which then executes) and the parse-only
    * [[shapeMatches]] the migration-mapping ledger uses. */
  private def parseBlock(text: String): Option[Block] = {
    val stmts = SqlText.splitStatements(text)
    sealed trait G
    case class D(names: Seq[String]) extends G
    case class A(a: Assign) extends G
    case class Gu(g: Guard) extends G
    case object Noop extends G // a split-orphaned END after `BEGIN RAISERROR(...);`
    val parsed: Seq[Option[G]] = stmts.map { s =>
      val msk = UpdateSqlCompiler.masked(s)
      if (bareEndRe.findFirstIn(msk).isDefined) Some(Noop)
      else if (declareRe.findFirstIn(msk).isDefined)
        Some(D(declaredVarRe.findAllMatchIn(msk)
          .map(_.group(1).toLowerCase).toSeq))
      else (assignRe.findFirstMatchIn(msk), ifRaiseRe.findFirstMatchIn(msk)) match {
        case (Some(m), _) =>
          Some(A(Assign(s.substring(m.start(1), m.end(1)).toLowerCase,
            s.substring(m.start(2), m.end(2)))))
        case (_, Some(m)) =>
          // the lazy predicate AND args captures must not swallow
          // statement text: an ELSE IF ladder ending in RAISERROR puts
          // ladder text in the PREDICATE capture, and an ELSE leg
          // AFTER the guard (`IF p RAISERROR(a) ELSE RAISERROR(b)`)
          // backtracks into the ARGS capture — both are
          // [[IfLadderSqlCompiler]]'s (r18); a guard predicate is a
          // pure @var comparison and its args are literals, so
          // neither carries a statement verb or control keyword
          val pred = s.substring(m.start(1), m.end(1))
          val args = s.substring(m.start(2), m.end(2))
          val verbRe = ("(?i)\\b(select|insert|update|delete|merge|" +
            "truncate|if|else|begin|end|while|goto|return|exec|" +
            "raiserror)\\b").r
          if (verbRe.findFirstIn(UpdateSqlCompiler.masked(pred)).isDefined ||
            verbRe.findFirstIn(UpdateSqlCompiler.masked(args)).isDefined)
            None
          else Some(Gu(Guard(pred, args)))
        case _ => None
      }
    }
    if (parsed.exists(_.isEmpty)) return None
    val gs = parsed.flatten
    val declared = gs.collect { case D(ns) => ns }.flatten.toSet
    val assigns = gs.collect { case A(a) => a }
    val guards = gs.collect { case Gu(g) => g }
    if (assigns.isEmpty || guards.isEmpty) return None
    // every referenced variable must be declared — an undeclared @var
    // is a shape we do not understand, never a silent NULL
    val referenced = (assigns.map(_.name) ++
      (assigns.map(_.expr) ++ guards.map(_.pred)).flatMap(e =>
        declaredVarRe.findAllMatchIn(UpdateSqlCompiler.masked(e))
          .map(_.group(1).toLowerCase))).toSet
    if (!referenced.subsetOf(declared)) None
    else Some(Block(declared, assigns, guards))
  }

  /** Render a RAISERROR message argument: `[N]'…'` literals unquote
    * and unescape (T-SQL reports the bare text); anything else passes
    * through verbatim. Shared with [[ScriptedSqlExecutor]]'s ladder
    * RAISERROR legs — one message contract for both guard forms. */
  private[patterns] def raiseMsg(arg: String): String = {
    val t = arg.trim
    if (t.matches("(?is)^N?'.*'$")) {
      val body = t.replaceFirst("(?is)^N", "")
      body.substring(1, body.length - 1).replace("''", "'")
    } else t
  }

  /** Parse-only classification twin of [[rewrite]] — no jobs run. */
  private[graft] def shapeMatches(sqlRaw: String): Boolean =
    parseBlock(SqlText.stripComments(sqlRaw)).isDefined

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val text = SqlText.stripComments(task.sqlStatement)
    parseBlock(text).flatMap { case Block(declared, assigns, guards) =>
      val vals = scala.collection.mutable.Map.empty[String, Any]
      declared.foreach(v => vals(v) = null)
      // earlier assignments substitute into later expressions as typed
      // literals (T-SQL scoping: `SELECT @B = @A + 1` sees @A's value);
      // a value with no safe literal form (SqlText.sqlLit → None)
      // declines the whole block — a toString-spliced Date is integer
      // arithmetic and the guard would silently never fire
      def bind(e: String): String = MergeSqlCompiler.segments(e).map {
        case (seg, true) => seg
        case (seg, false) =>
          declaredVarRe.replaceAllIn(seg, m =>
            java.util.regex.Matcher.quoteReplacement(
              SqlText.sqlLitOrDecline(vals(m.group(1).toLowerCase))))
      }.mkString
      try {
        assigns.foreach { a =>
          val e = bind(a.expr)
          vals(a.name) =
            if (queryClauseRe.findFirstIn(UpdateSqlCompiler.masked(e)).isDefined)
              spark.sql("SELECT " + e).limit(1).collect()
                .headOption.map(_.get(0)).orNull
            else LocalEval.sql(spark, e)
        }
        guards.foreach { g =>
          val fired = LocalEval.sql(spark,
            s"CASE WHEN ${bind(g.pred)} THEN true ELSE false END") == true
          if (fired) {
            val args = MergeSqlCompiler.splitTop(g.args)
            val severity = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(16)
            // T-SQL: severity ≤ 10 is informational — the batch continues
            if (severity >= 11)
              throw new IllegalArgumentException(
                "RAISERROR: " + args.headOption.map(raiseMsg).getOrElse("")
                  + s" (severity $severity)")
          }
        }
        // guard passed: success, nothing written, no result set
        Some(SqlOutcome(None, None))
      } catch {
        case _: SqlText.UnbindableLiteral => None
      }
    }
  }
}
