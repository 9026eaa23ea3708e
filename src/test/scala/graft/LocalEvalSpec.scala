package graft

import graft.expr.LocalEval
import graft.patterns.{ScriptedSqlExecutor, WhileLoopSqlCompiler}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite

/** FROM-less T-SQL control expressions (WHILE predicates and counters,
  * IF/ELSE IF predicates, `SET @v = …`) fold on the driver through
  * [[LocalEval]]: no Spark job, and the same answers and errors as a
  * FROM-less `SELECT`. */
class LocalEvalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def mkExec(written: scala.collection.mutable.Map[String, DataFrame]) =
    ScriptedSqlExecutor.executor(spark,
      written = written.get,
      bareName = identity,
      commit = (k, v) => written(k) = v)
  private def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("le", None, "conn", sql)
  private def conditions(e: Throwable): List[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).collect {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.toList

  test("a FROM-less 50-iteration WHILE unrolls with zero Spark jobs") {
    val (out, jobs) = SparkTestSession.jobsIn("local-eval-while") {
      ScriptedSqlExecutor.route(
        "DECLARE @i INT = 0; DECLARE @s BIGINT = 0; WHILE @i < 50 BEGIN " +
          "INSERT INTO le_t (k, s) VALUES (@i, @s); " +
          "SET @s = @s + @i * 2; SET @i = @i + 1; END") match {
        case ScriptedSqlExecutor.Route.CounterWhile(l) => WhileLoopSqlCompiler.unroll(spark, l)
        case r => fail(s"not a counter loop: $r")
      }
    }
    val stmts = out.get
    assert(stmts.length === 50)
    assert(stmts.head.contains("VALUES (0, 0)"))
    assert(stmts.last.replaceAll("[^0-9,()]", "").endsWith("(49,2352)"))
    assert(jobs === 0, s"the WHILE replay launched $jobs Spark job(s)")
  }

  test("an IF/ELSE IF ladder with SET @v = CAST(...) legs runs zero Spark jobs") {
    val w = scala.collection.mutable.Map[String, DataFrame]()
    val (out, jobs) = SparkTestSession.jobsIn("local-eval-ladder") {
      mkExec(w)(task(
        "DECLARE @n INT = 7; DECLARE @v VARCHAR(10); DECLARE @d DATE; " +
          "IF @n > 10 BEGIN SET @v = CAST('big' AS VARCHAR(10)); " +
          "SET @d = CAST('2024-01-01' AS DATE); END " +
          "ELSE IF @n > 5 BEGIN SET @v = CAST('mid' AS VARCHAR(10)); " +
          "SET @d = CAST('2024-02-01' AS DATE); END " +
          "ELSE SET @v = CAST('small' AS VARCHAR(10)); " +
          "INSERT INTO le_ladder (v, d) VALUES (@v, @d)"))
    }
    assert(out.nonEmpty)
    assert(jobs === 0, s"the ladder replay launched $jobs Spark job(s)")
    assert(w("le_ladder").as[(String, java.sql.Date)].collect().toList ===
      List(("mid", java.sql.Date.valueOf("2024-02-01"))))
  }

  test("1/0 in a control expression still surfaces DIVIDE_BY_ZERO") {
    val e = intercept[Exception](mkExec(scala.collection.mutable.Map.empty)(task(
      "DECLARE @x INT; SET @x = 1 / 0; INSERT INTO le_div (x) VALUES (@x)")))
    assert(conditions(e).contains("DIVIDE_BY_ZERO"), e.toString)
    val direct = intercept[Exception](LocalEval.sql(spark, "1 / 0"))
    assert(conditions(direct).contains("DIVIDE_BY_ZERO"), direct.toString)
  }

  test("raise_error in a TRY is still caught, with its USER_RAISED_EXCEPTION message") {
    val direct = intercept[Exception](LocalEval.sql(spark, "raise_error('le boom')"))
    assert(conditions(direct).contains("USER_RAISED_EXCEPTION"), direct.toString)
    val w = scala.collection.mutable.Map[String, DataFrame]()
    assert(mkExec(w)(task(
      "BEGIN TRY DECLARE @x INT; SET @x = raise_error('le boom'); " +
        "INSERT INTO le_ok (x) VALUES (@x); END TRY " +
        "BEGIN CATCH INSERT INTO le_err (msg) VALUES (ERROR_MESSAGE()); END CATCH"))
      .nonEmpty)
    assert(!w.contains("le_ok"))
    assert(w("le_err").as[String].collect().toList === List("le boom"))
  }

  test("an unqualified identifier in a control expression fails analysis") {
    // the one-row relation has no column for a stray name to bind to
    val e = intercept[AnalysisException](LocalEval.sql(spark, "k + 1"))
    assert(e.getCondition === "UNRESOLVED_COLUMN.WITHOUT_SUGGESTION", e.getMessage)
    val ladder = intercept[AnalysisException](
      mkExec(scala.collection.mutable.Map.empty)(task(
        "DECLARE @n INT = 1; DECLARE @v INT; " +
          "IF k > @n SET @v = 1 ELSE IF @n > 0 SET @v = 2; " +
          "INSERT INTO le_k (v) VALUES (@v)")))
    assert(ladder.getCondition.startsWith("UNRESOLVED_COLUMN"), ladder.getMessage)
  }

  test("a scalar-subquery assign sees the script's current overlay state") {
    val w = scala.collection.mutable.Map[String, DataFrame](
      "le_src" -> Seq(1, 2, 3, 4).toDF("k"))
    assert(mkExec(w)(task(
      "DELETE FROM le_src WHERE k > 2; " +
        "INSERT INTO le_src (k) VALUES (10); " +
        "DECLARE @n INT = (SELECT COUNT(*) FROM le_src); " +
        "DECLARE @m INT; SET @m = @n * 100; " +
        "INSERT INTO le_cnt (n, m) VALUES (@n, @m)")).nonEmpty)
    assert(w("le_cnt").as[(Int, Int)].collect().toList === List((3, 300)))
  }

  test("a fold reads the optimized plan: no query execution, today's values and classes") {
    // the reference is the query path a fold replaces: the same
    // projection over a one-row relation, collected with head()
    def viaQuery(e: String): Any = {
      val row = spark.createDataFrame(java.util.Collections.singletonList(
          org.apache.spark.sql.Row()), org.apache.spark.sql.types.StructType(Nil))
        .selectExpr(s"$e AS v").head()
      if (row.isNullAt(0)) null else row.get(0)
    }
    val exprs = Seq("1 < 2", "CAST(12.345 AS DECIMAL(12,3)) * 2",
      "DATE'2024-02-29' + 1", "TIMESTAMP'2024-01-01 10:11:12.5'",
      "concat('a', CAST(7 AS STRING))", "CAST(NULL AS INT)", "CAST(NULL AS STRING)",
      "CAST('2024-03-01' AS DATE)")
    exprs.foreach { e =>
      val (got, queries) = SparkTestSession.queriesIn(LocalEval.sql(spark, e))
      assert(queries === 0, s"$e ran $queries query execution(s)")
      val want = viaQuery(e)
      assert(got === want, e)
      assert(Option(got).map(_.getClass) === Option(want).map(_.getClass), e)
    }
  }

  test("a fold raises the error class the query would: 1/0 and a bad CAST") {
    Seq("1 / 0", "CAST('x' AS INT)", "CAST('2024-13-45' AS DATE)").foreach { e =>
      val folded = intercept[Exception](LocalEval.sql(spark, e))
      val queried = intercept[Exception](spark.sql(s"SELECT $e AS v").collect())
      assert(conditions(folded).nonEmpty, s"$e: $folded")
      assert(conditions(folded).head === conditions(queried).head, e)
    }
  }
}
