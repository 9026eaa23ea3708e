package graft.pipeline

import graft.expr.{LocalEval, SsisExprCompiler}
import graft.ir.Ir._
import graft.patterns.SqlLex
import graft.types.SsisTypes
import graft.types.SsisTypes.SsisColumnType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Package-variable evaluation and `?` parameter binding — the runtime
  * half of the S2 source contract: `User::` variables (literal or
  * expression-valued, reference `src/parser/models.py:53-61` with the
  * `constants.py:42-51` DT type codes) feed a `SqlCommand`'s positional
  * `?` placeholders, as in the reference's
  * `samples/ssis_packages/SalesFactETL.dtsx:40-46,79-91`.
  *
  * Expression variables compile through [[SsisExprCompiler]] (same
  * compiler as Derived Columns — one expression language everywhere) and
  * evaluate over the already-resolved variables on a one-row local
  * relation, so evaluation is Catalyst constant folding, not a
  * distributed job. Dependencies between expression variables resolve by
  * fixpoint; a cycle or an unbound reference is a deterministic error,
  * not a silent default.
  */
object PackageVariables {

  /** Parse a variable's stored literal per its DT_* type
    * (constants.py:42-51 code → type mapping lives in DtsxParser). */
  def parseValue(ssisType: String, raw: String): Any =
    SsisTypes.canonical(ssisType) match {
      case "DT_I2" => raw.trim.toShort
      case "DT_I4" => raw.trim.toInt
      case "DT_I8" => raw.trim.toLong
      case "DT_R4" => raw.trim.toFloat
      case "DT_R8" => raw.trim.toDouble
      case "DT_BOOL" =>
        raw.trim == "1" || raw.trim.equalsIgnoreCase("true")
      case "DT_DATE" | "DT_DBTIMESTAMP" | "DT_DBTIMESTAMP2" =>
        // dtsx serializes ISO-8601 ("2024-01-01T00:00:00")
        java.sql.Timestamp.valueOf(raw.trim.replace("T", " "))
      case _ => raw
    }

  /** Evaluate every package variable to a typed value. Literals parse
    * directly; expression variables (`@[User::X]`-referencing) resolve by
    * fixpoint over however many passes their dependency depth needs. */
  def evaluate(spark: SparkSession, vars: List[Variable]): Map[String, Any] = {
    val resolved = scala.collection.mutable.LinkedHashMap[String, Any]()
    vars.filter(_.expression.isEmpty).foreach { v =>
      resolved(v.qualifiedName) = parseValue(v.ssisType, v.value)
    }
    var pending = vars.filter(_.expression.isDefined)
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      val stillPending = pending.filterNot { v =>
        val done = tryEval(spark, v, resolved.toMap)
        done.foreach(value => { resolved(v.qualifiedName) = value; progress = true })
        done.isDefined
      }
      pending = stillPending
    }
    if (pending.nonEmpty)
      throw new IllegalArgumentException(
        s"unresolvable variable expression(s): ${pending.map(_.qualifiedName).mkString(", ")}")
    resolved.toMap
  }

  private def tryEval(spark: SparkSession, v: Variable,
      resolved: Map[String, Any]): Option[Any] =
    try {
      val compiled = SsisExprCompiler.compile(v.expression.get, exprEnv(resolved))
      val target = SsisTypes.toSpark(SsisColumnType(v.ssisType))
      Some(LocalEval(spark, compiled.cast(target)))
    } catch {
      // unbound @[ns::name] → dependency not resolved yet; retry next pass
      case e: IllegalArgumentException if e.getMessage != null &&
        e.getMessage.contains("unbound SSIS variable") => None
    }

  /** Env for variable/constraint expressions: no column refs (there is no
    * row), variables resolve to literals of already-evaluated values. */
  def exprEnv(values: Map[String, Any]): SsisExprCompiler.Env =
    SsisExprCompiler.Env(
      col = n => throw new IllegalArgumentException(
        s"column reference [$n] is not valid outside a dataflow"),
      variable = (ns, n) => values.get(s"$ns::$n") match {
        case Some(null) => lit(null)
        case Some(value) => lit(value)
        case None => throw new IllegalArgumentException(
          s"unbound SSIS variable @[$ns::$n]")
      })

  /** Evaluate a precedence-constraint expression to a Boolean over the
    * evaluated package variables (models.py:158-163 Expression kind). */
  def evalBoolean(spark: SparkSession, expr: String, values: Map[String, Any]): Boolean =
    LocalEval(spark,
      SsisExprCompiler.compile(expr, exprEnv(values)).cast(BooleanType)) == true

  /** Evaluate an SSIS expression over the evaluated variables to a plain
    * value (same local constant-fold as variable expressions). */
  def evalAny(spark: SparkSession, expr: String, values: Map[String, Any]): Any =
    LocalEval(spark, SsisExprCompiler.compile(expr, exprEnv(values)))

  private val AssignLhs = """^\s*@\[?(?:(\w+)::)?(\w+)\]?\s*=(?!=)([\s\S]*)$""".r

  /** Apply a ForLoop init/assign expression of the form
    * `@[User::i] = <expr>` (or `@i = <expr>`, namespace defaulting to
    * User): evaluate the RHS over the current variable values and return
    * the updated map. */
  def applyAssignment(spark: SparkSession, assign: String,
      values: Map[String, Any]): Map[String, Any] = assign match {
    case AssignLhs(ns, name, rhs) =>
      val qn = s"${Option(ns).getOrElse("User")}::$name"
      values + (qn -> evalAny(spark, rhs, values))
    case other =>
      throw new IllegalArgumentException(
        s"unsupported ForLoop assignment (expected `@[ns::var] = expr`): $other")
  }

  /** Render a typed value as a SQL literal for placeholder substitution. */
  def renderLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case t: java.sql.Timestamp => "'" + t.toString + "'"
    case d: java.sql.Date => "'" + d.toString + "'"
    case b: Boolean => if (b) "1" else "0"
    case ds: org.apache.spark.sql.Dataset[_] =>
      // an Object (recordset) variable can feed a ForEach ADO enumerator,
      // never SQL text — rendering it would inject plan-dump garbage
      throw new IllegalArgumentException(
        "an Object (result set) variable cannot bind into a SQL statement; " +
          "reorder declarations or use an explicit scalar variable")
    case other => other.toString
  }

  /** Positions of the positional `?` placeholders: code characters
    * only ([[graft.patterns.SqlLex]]) — a `?` inside a literal, a
    * `[bracketed]` identifier or a comment is text (a comment `?` would
    * otherwise consume a parameter and silently shift every later
    * placeholder to the wrong variable; dtsx attribute normalization
    * makes `--` comments in extracted SQL especially common). */
  private def placeholders(sql: String): Seq[Int] = {
    val kinds = SqlLex.kinds(sql)
    sql.indices.filter(i => sql.charAt(i) == '?' && kinds(i) == SqlLex.Code)
  }

  /** Substitute positional `?` placeholders ([[placeholders]]). */
  def bindSql(sql: String, params: Seq[Any]): String = {
    val at = placeholders(sql)
    if (at.length > params.length)
      throw new IllegalArgumentException(
        s"SQL has more `?` placeholders than bound parameters (${params.length})")
    val out = new StringBuilder(sql.length + 32)
    var from = 0
    at.zip(params).foreach { case (i, v) =>
      out ++= sql.substring(from, i) ++= renderLiteral(v); from = i + 1 }
    out ++= sql.substring(from)
    out.toString
  }

  /** Bind an Execute SQL task's `?` placeholders from the evaluated
    * package variables, in declaration order (the SSIS positional
    * mapping). ONE definition shared by the real run and [[
    * graft.pipeline.PackageRunner.dryRun]] — the dry run's contract is
    * "plan exactly what the real run executes", so the two sites must
    * never bind differently. */
  def bindStatement(task: ExecuteSqlTask, pkg: SsisPackage,
      values: Map[String, Any]): ExecuteSqlTask =
    if (placeholderCount(task.sqlStatement) == 0) task
    else task.copy(sqlStatement = bindSql(
      task.sqlStatement,
      pkg.variables.map(v => values.getOrElse(v.qualifiedName,
        parseValue(v.ssisType, v.value)))))

  /** Count active (code) `?` placeholders. */
  def placeholderCount(sql: String): Int = placeholders(sql).length

  private val VarRef = """@\[(\w+)::(\w+)\]""".r

  /** Substitute `@[ns::name]` references in a property text with the
    * evaluated variable values rendered as plain text — the SSIS
    * property-expression idiom (a Flat File OpenRowset/connection string
    * built from a ForEach loop variable). An unbound reference is a
    * deterministic error, never silent empty text. */
  def substituteRefs(text: String, values: Map[String, Any]): String =
    VarRef.replaceAllIn(text, m => {
      val qn = s"${m.group(1)}::${m.group(2)}"
      values.get(qn) match {
        case Some(v) =>
          scala.util.matching.Regex.quoteReplacement(String.valueOf(v))
        case None => throw new IllegalArgumentException(
          s"unbound SSIS variable @[$qn] in property text: $text")
      }
    })

  /** Bind every `?`-parameterized SqlCommand in a dataflow task from the
    * evaluated package variables, positionally in variable declaration
    * order (the sample packages carry no explicit ParameterMapping — the
    * declaration order IS the mapping, SalesFactETL.dtsx:33-43 vs 79-91).
    * Source OpenRowset texts additionally resolve `@[ns::name]`
    * property-expression references (the ForEach-File → Flat File source
    * binding). */
  def bindTaskSql(task: DataFlowTask, pkg: SsisPackage,
      values: Map[String, Any]): DataFlowTask = {
    // fall back to the literal parse for callers that skipped evaluate()
    lazy val ordered = pkg.variables.map(v =>
      values.getOrElse(v.qualifiedName, parseValue(v.ssisType, v.value)))
    // values-first per variable: eagerly re-parsing EVERY design-time
    // literal would fail the task on one stale unparseable attribute
    // (e.g. an expression variable whose dtsx value is "") even when its
    // evaluated value is sitting right there in `values`
    lazy val byName = pkg.variables.map(v =>
      v.qualifiedName -> values.getOrElse(v.qualifiedName,
        parseValue(v.ssisType, v.value))).toMap ++ values
    def bind(sql: Option[String]): Option[String] = sql.map { s =>
      val n = placeholderCount(s)
      if (n == 0) s else bindSql(s, ordered.take(n))
    }
    def refs(text: Option[String]): Option[String] =
      text.map(t => if (t.contains("@[")) substituteRefs(t, byName) else t)
    task.copy(components = task.components.map {
      case s: SourceComponent =>
        s.copy(sqlCommand = bind(s.sqlCommand), tableName = refs(s.tableName))
      case l: LookupComponent => l.copy(sqlCommand = bind(l.sqlCommand))
      case other => other
    })
  }
}
