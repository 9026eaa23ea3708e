package graft

import graft.patterns.{ScriptedSqlExecutor, SqlBlocks, SqlLex, SqlText}
import graft.pipeline.PackageVariables
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The one T-SQL lexer ([[SqlLex]]) as the compilers see it: bracketed
  * identifiers and comments are never code, whichever scanner asks, and
  * no other source in the T-SQL layer grows its own quote or paren
  * scanner again. */
class SqlLexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("a ';' inside a [bracketed] identifier never splits a script") {
    val script = "UPDATE t SET [a;b] = 1 WHERE id = 2; DELETE FROM u WHERE [x;y] = 3"
    val two = List("UPDATE t SET [a;b] = 1 WHERE id = 2",
      "DELETE FROM u WHERE [x;y] = 3")
    assert(SqlText.splitStatements(script) === two)
    assert(ScriptedSqlExecutor.route(script) ===
      ScriptedSqlExecutor.Route.Script(two.map(SqlBlocks.Stmt), false))
  }

  test("an apostrophe inside a \"double-quoted\" identifier never opens a literal") {
    val script = "SELECT \"it's\" AS a FROM t; DELETE FROM t WHERE id = 1"
    assert(SqlText.splitStatements(script) ===
      List("SELECT \"it's\" AS a FROM t", "DELETE FROM t WHERE id = 1"))
    // `""` escapes a quote; the delimiters stay visible in the mask
    assert(SqlLex.mask("SELECT \"a\"\"b;c\" FROM t") === "SELECT \"axxbxc\" FROM t")
  }

  test("a '--' inside a [bracketed] identifier never starts a comment") {
    assert(SqlText.stripComments("SELECT [a--b] FROM t\nWHERE id = 1") ===
      "SELECT [a--b] FROM t\nWHERE id = 1")
    assert(SqlText.stripComments("DELETE FROM [x--y] WHERE id = 1 -- gone") ===
      "DELETE FROM [x--y] WHERE id = 1")
  }

  test("a '?' inside a [bracketed] identifier is never a placeholder") {
    import PackageVariables._
    val sql = "SELECT [ok?] AS a FROM t WHERE id = ?"
    assert(placeholderCount(sql) === 1)
    assert(bindSql(sql, Seq(7)) === "SELECT [ok?] AS a FROM t WHERE id = 7")
  }

  /** Run `sql` through the script executor over tables `lc_t` (id, a)
    * and `lc_u` (id); the committed state after the task. */
  private def runScript(sql: String): Map[String, DataFrame] = {
    val w = scala.collection.mutable.Map[String, DataFrame](
      "lc_t" -> Seq((1L, 0L), (2L, 0L)).toDF("id", "a"),
      "lc_u" -> Seq(1L, 3L).toDF("id"))
    val out = ScriptedSqlExecutor.executor(spark, written = w.get,
      bareName = identity, commit = (k, v) => w(k) = v)(
      graft.ir.Ir.ExecuteSqlTask("c", None, "conn", sql))
    assert(out.nonEmpty, s"script declined: $sql")
    w.toMap
  }

  test("/* … */ comments are never code: a commented script runs as its statements") {
    for (comment <- Seq("/* don't re-run; see runbook */",
        "/* outer /* it's nested; */ still the comment's; */")) {
      val st = runScript(s"$comment UPDATE lc_t SET a = 1 WHERE id = 2; " +
        "DELETE FROM lc_u WHERE id = 3")
      assert(st("lc_t").as[(Long, Long)].collect().toSet === Set((1L, 0L), (2L, 1L)),
        s"UPDATE did not apply behind: $comment")
      assert(st("lc_u").as[Long].collect().toSet === Set(1L),
        s"DELETE did not apply behind: $comment")
    }
  }

  /** The executor's outcome for `sql` over the tables of [[runScript]]
    * (None = declined), and the committed state. */
  private def tryScript(sql: String)
      : (Option[Any], scala.collection.mutable.Map[String, DataFrame]) = {
    val w = scala.collection.mutable.Map[String, DataFrame](
      "lc_t" -> Seq((1L, 0L), (2L, 0L)).toDF("id", "a"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    val out = ScriptedSqlExecutor.executor(spark, written = w.get,
      bareName = identity, commit = (k, v) => w(k) = v)(
      graft.ir.Ir.ExecuteSqlTask("c", None, "conn", sql))
    (out, w)
  }

  test("a [bracketed] #temp is still a temp reference") {
    // a lone task, or a script, reading a temp it never creates declines
    assert(tryScript("SELECT id INTO lc_m FROM [#stage]")._1.isEmpty)
    assert(tryScript("UPDATE lc_t SET a = 1 WHERE id = 1; " +
      "SELECT id INTO lc_m FROM [#stage]")._1.isEmpty)
    assert(tryScript("SELECT id INTO lc_m FROM [##g]")._1.isEmpty)
    // a script that creates #s and then writes [#s] stages both as one
    // temp: the UPDATE lands on the staged rows, never on a stray table
    val (out, w) = tryScript("SELECT id, a INTO #s FROM lc_t WHERE id = 2; " +
      "UPDATE [#s] SET a = 5; SELECT id, a INTO lc_m FROM #s")
    assert(out.nonEmpty, "bracketed temp script declined")
    assert(w.keySet === Set("lc_t", "lc_m"), s"temp leaked: ${w.keySet}")
    assert(w("lc_m").as[(Long, Long)].collect().toList === List((2L, 5L)))
  }

  test("cursor gates read [bracketed] table and column names") {
    def cursorStmts(sql: String): Option[List[String]] =
      ScriptedSqlExecutor.route(sql) match {
        case ScriptedSqlExecutor.Route.Cursor(ss) => Some(ss)
        case _ => None
      }
    def loop(opts: String, sel: String, into: String, body: String) =
      s"DECLARE @k INT, @p FLOAT; DECLARE c CURSOR $opts FOR $sel; OPEN c; " +
        s"FETCH NEXT FROM c INTO $into; WHILE @@FETCH_STATUS = 0 BEGIN " +
        s"$body; FETCH NEXT FROM c INTO $into; END; CLOSE c; DEALLOCATE c;"
    // a dynamic cursor whose body appends to its own source can fetch
    // the new rows: decline, however the FROM brackets the name
    for (src <- Seq("[main].[ord]", "main.[ord]", "[ord]")) {
      val sel = s"SELECT id FROM $src"
      assert(cursorStmts(loop("", sel, "@k",
        "INSERT INTO main.ord (id) VALUES (@k)")).isEmpty, s"self-append on $src")
      assert(cursorStmts(loop("", sel, "@k",
        "INSERT INTO main.log (id) VALUES (@k)")).nonEmpty, s"append from $src")
    }
    // a positioned UPDATE of a column the cursor's WHERE reads as
    // [price] can re-position the row mid-scan unless KEYSET freezes it
    val sel = "SELECT id, price FROM [main].[ord] WHERE [price] > 10"
    def upd(col: String) = s"UPDATE main.ord SET $col = @p * 2 WHERE CURRENT OF c"
    assert(cursorStmts(loop("", sel, "@k, @p", upd("price"))).isEmpty)
    assert(cursorStmts(loop("KEYSET", sel, "@k, @p", upd("price"))).nonEmpty)
    assert(cursorStmts(loop("", sel, "@k, @p", upd("qty"))).nonEmpty)
    // a [bracketed] body TARGET is a name, not a clause: the cursor
    // gate checks brackets in SET / WHERE / VALUES bodies only, as the
    // UPDATE and DELETE compilers do, so the raw package text and the
    // bracket-stripped text the package runner executes route alike
    for (tgt <- Seq("[main].[log]", "main.log")) {
      val ins = loop("", "SELECT id FROM [main].[ord]", "@k",
        s"INSERT INTO $tgt (id) VALUES (@k)")
      assert(cursorStmts(ins) === Some(List(
        "SELECT id AS __gc0 INTO #graft_cursor_rows FROM [main].[ord]",
        s"INSERT INTO $tgt SELECT __s.__gc0 AS id FROM #graft_cursor_rows __s")), tgt)
    }
    assert(cursorStmts(loop("", "SELECT id FROM [main].[ord]", "@k",
      "INSERT INTO [main].[ord] (id) VALUES (@k)")).isEmpty, "bracketed self-append")
    assert(cursorStmts(loop("", "SELECT id FROM main.ord", "@k",
      "DELETE FROM [main].[log] WHERE [id] = @k")).isEmpty, "bracketed WHERE body")
  }

  test("only the lexer keeps quote state or counts paren depth in the T-SQL layer") {
    val sources =
      new java.io.File("src/main/scala/graft/patterns").listFiles().toSeq
        .filter(f => f.getName.endsWith(".scala") && f.getName != "SqlLex.scala") :+
        new java.io.File("src/main/scala/graft/pipeline/PackageVariables.scala")
    assert(sources.size > 20, "source tree not found from the test's working directory")
    val quote = "'\\\\''"
    val paren = "'[()]'"
    val toggle = "=\\s*(true|false|!)".r
    val counter = "[+-]=\\s*1\\b".r
    val offenders = for {
      f <- sources
      lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        .map(_.replaceAll("//.*$", "")).map(l => if (l.trim.startsWith("*")) "" else l)
      (line, i) <- lines.zipWithIndex
      window = line + " " + lines.lift(i + 1).getOrElse("")
      if (quote.r.findFirstIn(line).isDefined && toggle.findFirstIn(window).isDefined) ||
        (paren.r.findFirstIn(line).isDefined && counter.findFirstIn(window).isDefined)
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "quote toggles / paren depth counters outside SqlLex:\n" + offenders.mkString("\n"))
    // the lexer itself still holds both (the guard would otherwise pass
    // vacuously on a renamed file)
    val lex = scala.io.Source.fromFile(
      "src/main/scala/graft/patterns/SqlLex.scala", "UTF-8").mkString
    assert(lex.contains("'\\''") && lex.contains("'('"))
  }

  /** A regex literal matching T-SQL block keywords: `BEGIN`/`END`
    * followed by `\\s` or `\\b` (`begin\\s+try`, `end\\s+catch`,
    * `begin\\s+tran`, …), after `\\b`, or the BEGIN/CASE/END token
    * class. */
  private val blockKeywordRegex =
    """(?i)\b(begin|end)\\\\[sb]|\\\\b(begin|end)\b|begin\|case\|end""".r

  test("only the block parser matches block keywords in the T-SQL layer") {
    // the detector itself, on the spellings the block parser retired
    for (line <- Seq(
        "\"(?is)^\\\\s*begin\\\\s+try\\\\b(.*?)\\\\bend\\\\s+try\"",
        "\"(?is)begin\\\\s+catch\"", "\"(?i)\\\\bbegin\\\\s+try\"",
        "\"(?is)^\\\\s*begin\\\\s+tran(?:saction)?\"",
        "\"(?i)(?<![\\\\w])(begin|case|end)(?![\\\\w])\"",
        "\"(?is)\\\\bend\\\\s*;?\\\\s*$\""))
      assert(blockKeywordRegex.findFirstIn(line).isDefined, line)
    val sources =
      new java.io.File("src/main/scala/graft/patterns").listFiles().toSeq
        .filter(f => f.getName.endsWith(".scala") && f.getName != "SqlBlocks.scala") ++
        Seq("parser/MigrationMapping.scala", "pipeline/PackageVariables.scala",
          "pipeline/PackageRunner.scala")
          .map(f => new java.io.File(s"src/main/scala/graft/$f"))
    assert(sources.size > 20, "source tree not found from the test's working directory")
    val offenders = for {
      f <- sources
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        .map(_.replaceAll("//.*$", "")).zipWithIndex
      if !line.trim.startsWith("*") && blockKeywordRegex.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "block-keyword regexes outside SqlBlocks:\n" + offenders.mkString("\n"))
  }

  test("depths, close and open agree on a mask") {
    val sql = "f(a, '(', [)], g(b)) + h(c) -- (\n"
    val msk = SqlLex.mask(sql)
    val d = SqlLex.depths(msk)
    assert(d.length === sql.length + 1 && d.last === 0)
    val close = SqlLex.close(msk, 2)
    assert(close === sql.indexOf(") +"))
    assert(SqlLex.open(msk, close) === 1)
    assert(SqlLex.close(msk, sql.length - 2) === -1)
    assert(SqlLex.splitTop(sql) === List("f(a, '(', [)], g(b)) + h(c) -- ("))
    assert(SqlLex.splitTop("a, b AND (c AND d)", "(?i)\\band\\b".r) ===
      List("a, b", "(c AND d)"))
  }
}
