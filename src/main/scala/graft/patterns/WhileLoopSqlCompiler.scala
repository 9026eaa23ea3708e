package graft.patterns

import graft.expr.LocalEval
import org.apache.spark.sql.SparkSession

/** T-SQL counter `WHILE` loop → macro-expansion — the batch-backfill
  * idiom (`WHILE @m <= 12 BEGIN INSERT … WHERE MONTH(d) = @m; SET
  * @m = @m + 1; END`) that the reference classifies complex/manual
  * (ssis-to-dbt `src/agents/analyzer.py:469-479`). The canonical shape:
  *
  * {{{
  * DECLARE @i INT = <init>; [more DECLARE/SET …;]
  * WHILE <predicate over @vars>
  * BEGIN
  *   <body statements: any the script chain compiles, @vars bound>;
  *   SET @i = <FROM-less expression over @vars>;
  * END
  * }}}
  *
  * [[unroll]] DRIVER-EVALUATES the control flow — predicate and SET
  * expressions must be FROM-less arithmetic over the declared variables
  * (each evaluation is a driver-local [[LocalEval]] fold, no job) —
  * and emits the body's non-SET statements once per iteration with the
  * variables substituted as typed literals. The flat statement list
  * then executes through [[ScriptedSqlExecutor]]'s shadow overlay, so
  * the loop composes with everything scripts already model (#temp
  * scope, @@ROWCOUNT, sequencing, all-or-nothing commit).
  *
  * Declined to manual review (None): data-DEPENDENT loops (a FROM /
  * SELECT / EXISTS / @@ROWCOUNT in the predicate or a SET — the
  * unroll cannot know the data's iteration count), undeclared
  * variables, nested BEGIN/END, text after the loop's END, loops
  * whose predicate is still true after [[MaxIterations]] evaluations
  * (a bound this macro-expansion should not explode), and a body with
  * no SET (provably non-terminating). An empty unroll (predicate
  * false at entry) is a vacuous success — T-SQL skips the body. */
object WhileLoopSqlCompiler {

  /** Macro-expansion bound: a loop past this is a streaming job in
    * disguise, not a package-control loop — manual review owns it. */
  private[patterns] val MaxIterations = 1000

  private val declareRe =
    "(?is)^declare\\s+(.+)$".r
  private val declareItemRe =
    "(?is)^@(\\w+)\\s+[a-z0-9_() ,]+?(?:\\s*=\\s*(.+))?$".r
  private val setRe = "(?is)^set\\s+@(\\w+)\\s*=\\s*(.+)$".r
  // (?<!@) keeps @@ROWCOUNT/@@vars out of variable matching: a body
  // @@ROWCOUNT survives the unroll verbatim and composes with
  // [[ScriptedSqlExecutor]]'s substitution downstream
  private val varRe = "(?<!@)@(\\w+)".r
  // a FROM/SELECT/EXISTS/JOIN or @@var in control expressions makes the
  // loop data-dependent — not unrollable
  private val dataDepRe = "(?i)\\b(select|from|exists|join)\\b|@@".r
  private val nestedRe = "(?i)\\b(begin|while)\\b".r

  /** A counter loop as its block tree spells it: the DECLARE/SET
    * preamble, the predicate, and the body statements (an IF as its
    * text), shape-checked but not evaluated. */
  final case class Loop(preamble: List[String], pred: String, body: List[String])

  /** The counter loop of a task's top-level block-tree nodes —
    * statements, then one WHILE last — or None. An IF in the body must
    * be loop-body-safe ([[IfLadderSqlCompiler.loopBodySafe]]); any other
    * body statement holds no nested BEGIN or WHILE. Parse-only: the
    * executor [[unroll]]s it and the migration ledger reads it. */
  private[patterns] def loop(nodes: List[SqlBlocks.Node]): Option[Loop] =
    nodes.lastOption match {
      case Some(SqlBlocks.While(pred, body)) =>
        val preamble = nodes.init.map {
          case SqlBlocks.Stmt(s) => s
          case _ => return None
        }
        val stmts = body.map {
          case SqlBlocks.Stmt(s) if nestedRe.findFirstIn(SqlLex.mask(s)).isEmpty => s
          case SqlBlocks.If(l, t) if IfLadderSqlCompiler.loopBodySafe(l) => t
          case _ => return None
        }
        val p = Loop(preamble, pred, stmts)
        val declared = declaredOf(preamble)
        if (stmts.nonEmpty && declared.nonEmpty && controlOk(p, declared)) Some(p)
        else None
      case _ => None
    }

  private def declaredOf(preamble: List[String]): Set[String] =
    preamble.flatMap { s =>
      val msk = SqlLex.mask(s)
      declareRe.findFirstMatchIn(msk).toList.flatMap { m =>
        SqlLex.splitTop(s.substring(m.start(1), m.end(1)))
          .flatMap(item => declareItemRe.findFirstMatchIn(item.trim)
            .map(_.group(1).toLowerCase))
      }
    }.toSet

  /** Every preamble statement is DECLARE/SET, control expressions are
    * FROM-less, and every @var anywhere in control is declared. */
  private def controlOk(p: Loop, declared: Set[String]): Boolean = {
    def msk(s: String) = SqlLex.mask(s)
    val preOk = p.preamble.forall { s =>
      declareRe.findFirstIn(msk(s)).isDefined ||
        setRe.findFirstIn(msk(s)).isDefined
    }
    val sets = (p.preamble ++ p.body)
      .flatMap(s => setRe.findFirstMatchIn(msk(s))
        .map(m => (s.substring(m.start(1), m.end(1)).toLowerCase,
          s.substring(m.start(2), m.end(2)))))
    val controlExprs = p.pred :: sets.map(_._2) ++
      p.preamble.flatMap(s => declareRe.findFirstMatchIn(msk(s)).toList
        .flatMap(m => SqlLex.splitTop(s.substring(m.start(1), m.end(1)))
          .flatMap(item => declareItemRe.findFirstMatchIn(item.trim)
            .flatMap(im => Option(im.group(2))))))
    val controlVars = (controlExprs.flatMap(e =>
      varRe.findAllMatchIn(msk(e)).map(_.group(1).toLowerCase)) ++
      sets.map(_._1)).toSet
    // emitted body statements may only reference declared @vars (plus
    // @@system reads, which varRe excludes and the script layer owns)
    val bodyDmlVars = p.body
      .filter(s => setRe.findFirstIn(msk(s)).isEmpty)
      .flatMap(s => varRe.findAllMatchIn(msk(s)).map(_.group(1).toLowerCase))
      .toSet
    preOk &&
      p.body.exists(s => setRe.findFirstIn(msk(s)).isDefined) &&
      !controlExprs.exists(e => dataDepRe.findFirstIn(msk(e)).isDefined) &&
      controlVars.subsetOf(declared) && bodyDmlVars.subsetOf(declared) &&
      varRe.findFirstIn(msk(p.pred)).isDefined // a var-free pred never flips
  }

  /** Driver-evaluate the loop and return the flat statement list its
    * body expands to (possibly empty — predicate false at entry).
    * None = not unrollable (past [[MaxIterations]], or a value with no
    * literal form) → manual review owns the text. */
  def unroll(spark: SparkSession, p: Loop): Option[List[String]] = {
    val declared = declaredOf(p.preamble)
    val vals = scala.collection.mutable.Map.empty[String, Any]
    declared.foreach(v => vals(v) = null)
    // substitute current values as typed literals, literal-masked;
    // a value with no safe literal form (SqlText.sqlLit → None, e.g. a
    // binary) throws UnbindableLiteral and the whole loop DECLINES —
    // a toString splice of a Date is integer arithmetic, silently wrong
    def bind(e: String): String = SqlLex.mapCode(e)(varRe.replaceAllIn(_, m =>
      java.util.regex.Matcher.quoteReplacement(
        SqlText.sqlLitOrDecline(vals(m.group(1).toLowerCase)))))
    def eval(e: String): Any = LocalEval.sql(spark, bind(e))
    def predTrue: Boolean = LocalEval.sql(spark,
      s"CASE WHEN ${bind(p.pred)} THEN true ELSE false END") == true

    try {
      // preamble: DECLARE inits and SETs in order
      p.preamble.foreach { s =>
        val msk = SqlLex.mask(s)
        declareRe.findFirstMatchIn(msk).foreach { m =>
          SqlLex.splitTop(s.substring(m.start(1), m.end(1)))
            .foreach(item => declareItemRe.findFirstMatchIn(item.trim)
              .foreach { im =>
                Option(im.group(2)).foreach(init =>
                  vals(im.group(1).toLowerCase) = eval(init))
              })
        }
        setRe.findFirstMatchIn(msk).foreach { m =>
          vals(s.substring(m.start(1), m.end(1)).toLowerCase) =
            eval(s.substring(m.start(2), m.end(2)))
        }
      }

      val out = List.newBuilder[String]
      var iters = 0
      while (predTrue) {
        iters += 1
        if (iters > MaxIterations) return None // manual review, not a bomb
        p.body.foreach { s =>
          val msk = SqlLex.mask(s)
          setRe.findFirstMatchIn(msk) match {
            case Some(m) =>
              vals(s.substring(m.start(1), m.end(1)).toLowerCase) =
                eval(s.substring(m.start(2), m.end(2)))
            case None => out += bind(s)
          }
        }
      }
      Some(out.result())
    } catch {
      // a loop variable took a value with no safe literal spelling —
      // decline the whole loop to manual review
      case _: SqlText.UnbindableLiteral => None
    }
  }
}
