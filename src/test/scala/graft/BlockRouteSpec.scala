package graft

import graft.ir.Ir.{ContainerTask, ExecuteSqlTask, Task}
import graft.parser.{DtsxParser, MigrationMapping}
import graft.patterns.ScriptedSqlExecutor
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The migration ledger and the executor read one route
  * ([[ScriptedSqlExecutor.route]]): a task the executor declines before
  * running anything is never `converted`, and the ledger's keyword
  * tests read the lexer's mask. */
class BlockRouteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def mapping(sql: String) =
    MigrationMapping.mapTask(ExecuteSqlTask("r", None, "conn", sql), Nil)

  /** The executor's outcome for `sql` over `rt_t` (a) and `rt_log` (m). */
  private def execute(sql: String): Option[Any] = {
    val w = scala.collection.mutable.Map[String, DataFrame](
      "rt_t" -> Seq(1L, 2L).toDF("a"), "rt_log" -> Seq.empty[String].toDF("m"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    try ScriptedSqlExecutor.executor(spark, written = w.get,
      bareName = identity, commit = (k, v) => w(k) = v)(
      ExecuteSqlTask("r", None, "conn", sql))
    finally w.keys.foreach(k => spark.catalog.dropTempView(k): Unit)
  }

  private def declinedByBoth(sql: String): Unit = {
    assert(mapping(sql).status === "manual_review", sql)
    assert(execute(sql).isEmpty, s"executor ran: $sql")
  }

  test("a TRY/CATCH reading a #temp it never creates is manual review") {
    declinedByBoth("BEGIN TRY INSERT INTO rt_t SELECT a FROM #stage; END TRY " +
      "BEGIN CATCH INSERT INTO rt_log (m) VALUES ('failed'); END CATCH")
  }

  test("a counter WHILE reading a #temp it never creates is manual review") {
    declinedByBoth("DECLARE @i INT = 1; WHILE @i <= 2 BEGIN " +
      "INSERT INTO rt_t SELECT a FROM #stage WHERE a = @i; " +
      "SET @i = @i + 1; END")
  }

  test("a TRY body with an IF … RETURN leg is manual review") {
    declinedByBoth("BEGIN TRY DECLARE @n INT = 0; IF @n = 0 RETURN; " +
      "INSERT INTO rt_t SELECT 3 AS a; END TRY " +
      "BEGIN CATCH INSERT INTO rt_log (m) VALUES ('failed'); END CATCH")
  }

  test("a BREAK outside a batched purge loop is manual review") {
    declinedByBoth("IF @@ROWCOUNT = 0 BREAK")
    declinedByBoth("INSERT INTO rt_t SELECT 3 AS a; IF @@ROWCOUNT = 0 BREAK")
    // a counter loop's body may not leave the loop: the unroll cannot
    for (sql <- Seq(
        "DECLARE @i INT = 1; WHILE @i <= 3 BEGIN INSERT INTO rt_t SELECT @i AS a; " +
          "IF @i = 2 BREAK; SET @i = @i + 1; END",
        "DECLARE @i INT = 1; WHILE @i <= 3 BEGIN IF @@ROWCOUNT = 0 BREAK; " +
          "SET @i = @i + 1; END")) {
      assert(ScriptedSqlExecutor.route(sql).isInstanceOf[ScriptedSqlExecutor.Route.Decline], sql)
      declinedByBoth(sql)
    }
  }

  test("ledger keyword tests read the mask: RAISERROR and MERGE in literals are data") {
    val log = mapping("INSERT INTO audit_log (msg) VALUES ('RAISERROR skipped')")
    assert(log.status === "converted")
    assert(log.sparkPlan === Some("audit_log"))
    val upd = mapping("UPDATE t SET note = 'merge into x using y' WHERE id = 1")
    assert(upd.status === "converted")
    assert(upd.sparkPlan.isEmpty && !upd.strategy.exists(_.contains("MERGE")),
      s"a literal read as a MERGE: $upd")
    // a real MERGE still names its target
    assert(mapping("MERGE INTO dim AS t USING stg AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET t.v = s.v;").sparkPlan === Some("dim"))
  }

  /** Every Execute SQL text of the packaged and reference `.dtsx`. */
  private def packagedSql: List[String] = packagedTasks.map(_._2)

  /** Every Execute SQL task of the packaged and reference `.dtsx`, as
    * (file/task, text). */
  private def packagedTasks: List[(String, String)] =
    List("main", "test").flatMap { root =>
      new java.io.File(s"src/$root/resources/dtsx").listFiles()
        .filter(_.getName.endsWith(".dtsx")).toList.flatMap { f =>
          def walk(t: Task): List[(String, String)] = t match {
            case s: ExecuteSqlTask => List((s"${f.getName}/${s.name}", s.sqlStatement))
            case c: ContainerTask => c.children.flatMap(walk)
            case _ => Nil
          }
          DtsxParser.parseFile(f.getPath).tasks.flatMap(walk)
        }
    }

  /** The T-SQL the specs hand the executor: every `task(…)` argument
    * spelled as plain string literals joined by `+`. */
  private def specSql: List[String] = {
    val call = "task\\(\\s*((?:\"(?:[^\"\\\\]|\\\\.)*\"\\s*\\+?\\s*)+)\\)".r
    val lit = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
    new java.io.File("src/test/scala/graft").listFiles().toList
      .filter(_.getName.endsWith("Spec.scala")).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8").mkString
        call.findAllMatchIn(src).map(m =>
          lit.findAllMatchIn(m.group(1)).map(_.group(1)
            .replace("\\\"", "\"").replace("\\\\", "\\")).mkString).toList
      }
  }

  test("ledger converted implies the route is no decline, over the packaged and spec corpus") {
    val pkg = packagedSql
    val specs = specSql
    assert(pkg.size >= 90, s"packaged Execute SQL tasks not found: ${pkg.size}")
    assert(specs.size >= 200, s"spec T-SQL corpus not found: ${specs.size}")
    val overclaims = (pkg ++ specs).distinct.filter(sql =>
      mapping(sql).status == "converted" &&
        ScriptedSqlExecutor.route(sql).isInstanceOf[ScriptedSqlExecutor.Route.Decline])
    assert(overclaims.isEmpty, overclaims.mkString("\n"))
  }

  test("a packaged task routes alike raw and as the package runner executes it") {
    // the package runner rewrites `[schema].[table]` to the bare name
    // before the executor sees a task; the ledger reads the raw text
    val tasks = packagedTasks
    assert(tasks.size >= 90, s"packaged Execute SQL tasks not found: ${tasks.size}")
    def kind(sql: String) = ScriptedSqlExecutor.route(sql).getClass.getSimpleName
    val split = tasks.flatMap { case (name, sql) =>
      val run = QueriesRelational.BracketedTable.replaceAllIn(sql, m => m.group(1))
      val (a, b) = (kind(sql), kind(run))
      if (a == b) None else Some(s"$name: $a raw, $b as run")
    }
    assert(split.isEmpty, split.mkString("\n"))
  }
}
