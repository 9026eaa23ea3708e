package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.patterns.IfLadderSqlCompiler

/** q149–q151: dispatcher-level IF ladders — multi-statement BEGIN…END
  * branches, conditional assignment legs, ELSE IF cascades, and the
  * top-level early-exit RETURN leg — plus the block tree that keeps
  * an IF block whole across its `;`s, and the staged-state visibility invariant of the IF-EXISTS probe. */
class IfLadderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private def mkExec(
      written: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]) =
    graft.patterns.ScriptedSqlExecutor.executor(spark,
      written = written.get,
      bareName = identity,
      commit = (k, v) => written(k) = v)
  private def task(sql: String) =
    graft.ir.Ir.ExecuteSqlTask("lad", None, "conn", sql)
  // the session is shared across suites: every temp view a test
  // registers must drop at its end, or a later suite's spark.table
  // fallback reads this suite's fixtures (the r18 full-run interference)
  private def dropViews(names: String*): Unit =
    names.foreach(n => spark.catalog.dropTempView(n): Unit)

  // ---- the block tree: IF blocks stay whole ------------------------

  /** The sequencer's statements of a text: the block tree's leaves. */
  private def leaves(s: String): List[String] =
    graft.patterns.SqlBlocks.parse(s).toOption.get.flatMap(_.body)
      .collect { case l: graft.patterns.SqlBlocks.Leaf => l.text }

  test("the block tree keeps IF…BEGIN…END blocks and ELSE legs whole") {
    val g = leaves(
      "DECLARE @n INT; IF @n > 0 BEGIN TRUNCATE TABLE t; INSERT INTO t " +
        "SELECT 1 AS a; END ELSE BEGIN UPDATE t SET a = 0; DELETE FROM " +
        "u WHERE a = 1; END; UPDATE z SET b = 2")
    assert(g.length === 3)
    assert(g(1).matches("(?is)^if @n > 0 begin.*end else begin.*end$"))
    // IF <stmt>; ELSE <stmt> — the `;` before ELSE terminates the THEN
    val g2 = leaves(
      "IF @n > 0 UPDATE t SET a = 1; ELSE UPDATE t SET a = 0; INSERT INTO l SELECT 1")
    assert(g2.length === 2)
    assert(g2.head.matches("(?is)^if .* else update.*"))
    // a CASE…END inside the block body pairs away — END matching holds
    val g3 = leaves(
      "IF @n > 0 BEGIN UPDATE t SET a = CASE WHEN b > 0 THEN 1 ELSE 2 END; " +
        "DELETE FROM t WHERE a = 2; END")
    assert(g3.length === 1)
    // non-IF scripts are their `;` statements — including literals that
    // contain the keywords (masked scan)
    val plain = "INSERT INTO t VALUES ('begin'); UPDATE t SET a = 'if x begin'; DELETE FROM t"
    assert(leaves(plain) === SqlText_split(plain))
  }
  private def SqlText_split(s: String) =
    graft.patterns.SqlText.splitStatements(s)

  // ---- parse shapes ---------------------------------------------------

  test("parse: ladders, mixed predicates, RAISERROR blocks, declines") {
    val l1 = IfLadderSqlCompiler.parse(
      "IF @n > 0 BEGIN TRUNCATE TABLE t; INSERT INTO t SELECT 1 AS a; END " +
        "ELSE IF EXISTS (SELECT 1 FROM u) UPDATE t SET a = 0 " +
        "ELSE SET @s = 'none'").get
    assert(l1.legs.length === 2)
    assert(l1.legs.head._1.isInstanceOf[IfLadderSqlCompiler.ScalarPred])
    assert(l1.legs(1)._1 ===
      IfLadderSqlCompiler.ExistsPred(false, "SELECT 1 FROM u"))
    assert(l1.legs.head._2 === IfLadderSqlCompiler.Stmts(List(
      "TRUNCATE TABLE t", "INSERT INTO t SELECT 1 AS a")))
    assert(l1.otherwise === Some(IfLadderSqlCompiler.Stmts(
      List("SET @s = 'none'"))))
    // a single-statement block whose body carries a `;` (`BEGIN x; END`)
    // is the same one-statement branch
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 BEGIN DELETE FROM t WHERE v < 1; END").get.legs.head._2 ===
      IfLadderSqlCompiler.Stmts(List("DELETE FROM t WHERE v < 1")))
    // fused TRUNCATE+INSERT text (missing `;`) declines
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 BEGIN TRUNCATE TABLE t INSERT INTO t SELECT 1; " +
        "UPDATE t SET a = 1; END").isEmpty)
    assert(!l1.hasReturn)
    // RETURN as an entire leg
    val l2 = IfLadderSqlCompiler.parse("IF @n = 0 RETURN").get
    assert(l2.legs === List((IfLadderSqlCompiler.ScalarPred("@n = 0"),
      IfLadderSqlCompiler.ReturnExit)) && l2.hasReturn)
    // single-statement legs: plain and assignment-shaped branches
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 UPDATE t SET a = 1 ELSE UPDATE t SET a = 0").get ===
      IfLadderSqlCompiler.Ladder(List((IfLadderSqlCompiler.ScalarPred("@n > 0"),
        IfLadderSqlCompiler.Stmts(List("UPDATE t SET a = 1")))),
        Some(IfLadderSqlCompiler.Stmts(List("UPDATE t SET a = 0")))))
    assert(IfLadderSqlCompiler.parse(
      "IF EXISTS (SELECT 1 FROM u) DELETE FROM t").get.legs ===
      List((IfLadderSqlCompiler.ExistsPred(false, "SELECT 1 FROM u"),
        IfLadderSqlCompiler.Stmts(List("DELETE FROM t")))))
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 SELECT @v = MAX(a) FROM t").get.legs.head._2 ===
      IfLadderSqlCompiler.Stmts(List("SELECT @v = MAX(a) FROM t")))
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 SET @v = 1").get.legs.head._2 ===
      IfLadderSqlCompiler.Stmts(List("SET @v = 1")))
    // a BEGIN…END body that is exactly one RAISERROR call is the guard
    // leg, with or without the `;` before END; anything beside it in
    // the block declines
    for (body <- Seq("RAISERROR('m', 16, 1)", "RAISERROR('m', 16, 1);",
        " RAISERROR ('m', 16, 1) ; "))
      assert(IfLadderSqlCompiler.parse(s"IF @n = 0 BEGIN $body END").get.legs ===
        List((IfLadderSqlCompiler.ScalarPred("@n = 0"),
          IfLadderSqlCompiler.Raise("'m', 16, 1"))), body)
    assert(IfLadderSqlCompiler.parse(
      "IF @n = 0 BEGIN RAISERROR('m', 16, 1); UPDATE t SET a = 1; END").isEmpty)
    assert(IfLadderSqlCompiler.parse(
      "IF @n = 0 BEGIN RAISERROR('m', 16, 1 END").isEmpty)
    // compound predicates (r18): an EXISTS tail rides the scalar fold;
    // an EXISTS-HEADED compound is scalar too
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 AND EXISTS (SELECT 1 FROM u) UPDATE t SET a = 1")
      .get.legs.head._1 === IfLadderSqlCompiler.ScalarPred(
        "@n > 0 AND EXISTS (SELECT 1 FROM u)"))
    val cmp = IfLadderSqlCompiler.parse(
      "IF EXISTS (SELECT 1 FROM u) AND @n > 0 UPDATE t SET a = 1").get
    assert(cmp.legs.head._1 === IfLadderSqlCompiler.ScalarPred(
      "EXISTS (SELECT 1 FROM u) AND @n > 0"))
    // …while a PURE EXISTS head with a branch right after stays the
    // LIMIT-1 ExistsPred
    assert(IfLadderSqlCompiler.parse(
      "IF NOT EXISTS (SELECT 1 FROM u) DELETE FROM t").get.legs.head._1
      === IfLadderSqlCompiler.ExistsPred(true, "SELECT 1 FROM u"))
    // declines: nested control flow inside a block; WHILE; GOTO;
    // mid-block RETURN; EXISTS probe not SELECT-headed; empty pred
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 BEGIN IF @m > 0 UPDATE t SET a = 1; END").isEmpty)
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 BEGIN WHILE @i < 3 UPDATE t SET a = 1; END").isEmpty)
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 BEGIN UPDATE t SET a = 1; RETURN; END").isEmpty)
    assert(IfLadderSqlCompiler.parse(
      "IF EXISTS (EXEC helper) UPDATE t SET a = 1").isEmpty)
    assert(IfLadderSqlCompiler.parse("IF BEGIN UPDATE t SET a=1 END").isEmpty)
    // trailing garbage after a completed ladder declines
    assert(IfLadderSqlCompiler.parse(
      "IF @n > 0 UPDATE t SET a = 1 ELSE UPDATE t SET a = 0 GOTO done").isEmpty)
  }

  // ---- execution: q149 multi-statement branches + conditional SET ----

  test("q149: BEGIN…END branch list executes; conditional SET feeds later statements") {
    import spark.implicits._
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "stage" -> Seq((1L, 120.0), (2L, 80.0)).toDF("id", "v"),
        "tgt" -> Seq((9L, 1.0)).toDF("id", "v"),
        "log" -> Seq.empty[(String, Long)].toDF("status", "n"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // true guard: TRUNCATE+INSERT both run; conditional SET flips the
    // status a LATER statement reads back — the executor's variable
    // state is in reach from the dispatcher (the r17 chain could not)
    val w1 = fresh()
    mkExec(w1)(task(
      "DECLARE @n INT, @status VARCHAR(10) = 'empty'; " +
        "SELECT @n = COUNT(*) FROM stage WHERE v > 100; " +
        "IF @n > 0 BEGIN TRUNCATE TABLE tgt; INSERT INTO tgt SELECT id, v " +
        "FROM stage WHERE v > 100; END; " +
        "IF @n = 0 SET @status = 'none' ELSE SET @status = 'loaded'; " +
        "INSERT INTO log (status, n) VALUES (@status, @n)"))
      .getOrElse(fail("q149 script did not compile"))
    assert(w1("tgt").as[(Long, Double)].collect().toList === List((1L, 120.0)))
    assert(w1("log").as[(String, Long)].head() === (("loaded", 1L)))
    // false guard with no ELSE: block skipped wholesale, nothing staged
    val w2 = fresh()
    mkExec(w2)(task(
      "DECLARE @n INT; SELECT @n = COUNT(*) FROM stage WHERE v > 900; " +
        "IF @n > 0 BEGIN TRUNCATE TABLE tgt; INSERT INTO tgt SELECT id, v " +
        "FROM stage; END; " +
        "UPDATE tgt SET v = v + 1"))
      .getOrElse(fail("false-guard script did not compile"))
    assert(w2("tgt").as[(Long, Double)].collect().toList === List((9L, 2.0)))
    // a later statement inside the taken block sees the earlier one's
    // staging (TRUNCATE then INSERT is the proof above); and the
    // branch's DML sets @@ROWCOUNT for the statement after the IF
    val w3 = fresh()
    mkExec(w3)(task(
      "DECLARE @n INT = 1; " +
        "IF @n > 0 BEGIN DELETE FROM stage WHERE v < 100; END; " +
        "INSERT INTO log (status, n) VALUES ('del', @@ROWCOUNT)"))
      .getOrElse(fail("rowcount-after-block script did not compile"))
    assert(w3("log").as[(String, Long)].head() === (("del", 1L)))
    dropViews("stage", "tgt", "log")
  }

  test("q149 declines: nested IF, undeclared predicate var, malformed block") {
    import spark.implicits._
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "t" -> Seq((1L, 1.0)).toDF("id", "v"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    // nested IF inside a block: manual review, never half-run
    assert(mkExec(w)(task(
      "DECLARE @n INT = 1; IF @n > 0 BEGIN IF @n > 1 UPDATE t SET v = 2; " +
        "END")).isEmpty)
    // predicate over an undeclared variable: decline, never guess
    assert(mkExec(w)(task(
      "DECLARE @n INT = 1; IF @m > 0 BEGIN UPDATE t SET v = 2; DELETE " +
        "FROM t WHERE v = 9; END")).isEmpty)
    // BEGIN without END swallows the script tail and fails the parse
    assert(mkExec(w)(task(
      "DECLARE @n INT = 1; IF @n > 0 BEGIN UPDATE t SET v = 2; " +
        "DELETE FROM t WHERE v = 9")).isEmpty)
    // unwrapped two-verb "branch" (no `;`, no BEGIN) reaches the
    // single-statement compilers as trailing garbage and declines
    assert(mkExec(w)(task(
      "DECLARE @n INT = 1; IF @n > 0 TRUNCATE TABLE t INSERT INTO t " +
        "SELECT 2, 2.0")).isEmpty)
    assert(w("t").count() === 1L)
    dropViews("t")
  }

  test("@@ROWCOUNT: the predicate reads the pre-IF count; a branch read follows branch DML") {
    import spark.implicits._
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rc_t" -> Seq((1L, 5.0), (2L, 8.0), (3L, 12.0)).toDF("id", "v"),
      "rc_log" -> Seq.empty[Long].toDF("n"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    // the first DELETE sets @@ROWCOUNT=2; the predicate reads THAT.
    // Inside the taken block, the second DELETE affects 1 row and the
    // INSERT's @@ROWCOUNT must read 1 — the point-of-read contract: a
    // whole-statement substitution would have baked the stale pre-IF 2
    // into the branch text
    mkExec(w)(task(
      "DELETE FROM rc_t WHERE v < 10; " +
        "IF @@ROWCOUNT > 0 BEGIN DELETE FROM rc_t WHERE v >= 10; " +
        "INSERT INTO rc_log (n) VALUES (@@ROWCOUNT); END"))
      .getOrElse(fail("rowcount-ladder script did not compile"))
    assert(w("rc_log").as[Long].collect().toList === List(1L),
      "branch @@ROWCOUNT must read the branch DML's count, not the pre-IF count")
    assert(w("rc_t").count() === 0L)
    // a predicate @@ROWCOUNT with NO countable predecessor declines
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "rc_t" -> Seq((1L, 5.0)).toDF("id", "v"))
    w2.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    assert(mkExec(w2)(task(
      "IF @@ROWCOUNT > 0 BEGIN DELETE FROM rc_t WHERE v < 10; " +
        "DELETE FROM rc_t WHERE v >= 10; END")).isEmpty)
    dropViews("rc_t", "rc_log")
  }

  // ---- execution: q150 ELSE IF cascade --------------------------------

  test("q150: ELSE IF cascade is first-match; EXISTS and scalar legs mix") {
    import spark.implicits._
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "m" -> Seq((1L, 55.0)).toDF("id", "v"),
        "out" -> Seq.empty[(String, Double)].toDF("band", "v"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    def ladder(hi: Double, lo: Double) =
      s"DECLARE @v FLOAT; SELECT @v = MAX(v) FROM m; " +
        s"IF @v >= $hi INSERT INTO out (band, v) VALUES ('high', @v) " +
        s"ELSE IF EXISTS (SELECT 1 FROM m WHERE v >= $lo) " +
        s"INSERT INTO out (band, v) VALUES ('mid', @v) " +
        s"ELSE IF @v >= 0 INSERT INTO out (band, v) VALUES ('low', @v) " +
        s"ELSE INSERT INTO out (band, v) VALUES ('neg', @v)"
    // middle leg (EXISTS) fires; legs after the match never evaluate
    val w1 = fresh()
    mkExec(w1)(task(ladder(100.0, 50.0)))
      .getOrElse(fail("cascade did not compile"))
    assert(w1("out").as[(String, Double)].head() === (("mid", 55.0)))
    // first leg fires
    val w2 = fresh()
    mkExec(w2)(task(ladder(10.0, 50.0))).getOrElse(fail("compile"))
    assert(w2("out").as[(String, Double)].head() === (("high", 55.0)))
    // every guard false, no ELSE: vacuous skip
    val w3 = fresh()
    mkExec(w3)(task(
      "DECLARE @v FLOAT; SELECT @v = MAX(v) FROM m; " +
        "IF @v > 100 INSERT INTO out (band, v) VALUES ('a', @v) " +
        "ELSE IF @v > 99 INSERT INTO out (band, v) VALUES ('b', @v)"))
      .getOrElse(fail("vacuous cascade did not compile"))
    assert(w3("out").count() === 0L)
    // compound predicates execute: an EXISTS-headed conjunction folds
    // as ONE scalar CASE fact (Spark's native scalar-context EXISTS)
    val w4 = fresh()
    mkExec(w4)(task(
      "DECLARE @v FLOAT; SELECT @v = MAX(v) FROM m; " +
        "IF EXISTS (SELECT 1 FROM m WHERE v > 50) AND @v < 100 " +
        "INSERT INTO out (band, v) VALUES ('both', @v) " +
        "ELSE INSERT INTO out (band, v) VALUES ('nope', @v)"))
      .getOrElse(fail("compound predicate did not compile"))
    assert(w4("out").as[(String, Double)].head() === (("both", 55.0)))
    dropViews("m", "out")
  }

  // ---- execution: q151 early-exit RETURN -------------------------------

  test("q151: IF <pred> RETURN exits the batch, commits staged state") {
    import spark.implicits._
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "src" -> Seq((1L, 5.0)).toDF("id", "v"),
        "tgt" -> Seq.empty[(Long, Double)].toDF("id", "v"),
        "log" -> Seq.empty[String].toDF("s"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // guard fires: the INSERT before the exit commits, the statements
    // after it provably never run
    val w1 = fresh()
    mkExec(w1)(task(
      "DECLARE @n INT; SELECT @n = COUNT(*) FROM src WHERE v > 100; " +
        "INSERT INTO log (s) VALUES ('checked'); " +
        "IF @n = 0 RETURN; " +
        "INSERT INTO tgt SELECT id, v FROM src; " +
        "INSERT INTO log (s) VALUES ('loaded')"))
      .getOrElse(fail("early-exit script did not compile"))
    assert(w1("log").as[String].collect().toList === List("checked"))
    assert(w1("tgt").count() === 0L)
    // guard does not fire: the whole script runs
    val w2 = fresh()
    mkExec(w2)(task(
      "DECLARE @n INT; SELECT @n = COUNT(*) FROM src WHERE v > 1; " +
        "IF @n = 0 RETURN; " +
        "INSERT INTO tgt SELECT id, v FROM src; " +
        "INSERT INTO log (s) VALUES ('loaded')"))
      .getOrElse(fail("non-exit script did not compile"))
    assert(w2("tgt").count() === 1L)
    assert(w2("log").as[String].collect().toList === List("loaded"))
    // inside an explicit transaction bracket the exit point's
    // commit/rollback placement is ambiguous: decline to manual review
    val w3 = fresh()
    assert(mkExec(w3)(task(
      "BEGIN TRAN; DECLARE @n INT = 0; IF @n = 0 RETURN; " +
        "INSERT INTO tgt SELECT id, v FROM src; COMMIT")).isEmpty)
    // a bare top-level RETURN outside the owned IF-leg shape keeps
    // declining (mid-body RETURN policy)
    val w4 = fresh()
    assert(mkExec(w4)(task(
      "INSERT INTO tgt SELECT id, v FROM src; RETURN; " +
        "INSERT INTO log (s) VALUES ('x')")).isEmpty)
    dropViews("src", "tgt", "log")
  }

  test("compositions: IF inside a WHILE body; IF block inside a TRY body") {
    import spark.implicits._
    // single-statement IF in a WHILE body: the unroller binds the
    // counter per iteration, the emitted IF re-enters the sequencer
    // and the chain member owns it (guard false on i=1, fires on 2,3)
    val w1 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "wt" -> Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("id", "v"))
    w1.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    mkExec(w1)(task(
      "DECLARE @i INT = 1; " +
        "WHILE @i <= 3 BEGIN " +
        "IF @i > 1 UPDATE wt SET v = v + @i WHERE id = @i; " +
        "SET @i = @i + 1; END"))
      .getOrElse(fail("WHILE-body IF did not compile"))
    assert(w1("wt").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 0.0), (2L, 2.0), (3L, 3.0)))
    // a multi-statement IF block inside a TRY body: the block tree
    // keeps it whole exactly like the generic path
    val w2 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "tt" -> Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v"),
      "tl" -> Seq.empty[String].toDF("s"))
    w2.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    mkExec(w2)(task(
      "BEGIN TRY " +
        "DECLARE @n INT; SELECT @n = COUNT(*) FROM tt WHERE v > 10; " +
        "IF @n > 0 BEGIN UPDATE tt SET v = 0 WHERE v > 10; " +
        "INSERT INTO tl (s) VALUES ('capped'); END; " +
        "END TRY BEGIN CATCH INSERT INTO tl (s) VALUES ('err'); END CATCH"))
      .getOrElse(fail("TRY-body IF block did not compile"))
    assert(w2("tt").orderBy("id").as[(Long, Double)].collect().toList
      === List((1L, 5.0), (2L, 0.0)))
    assert(w2("tl").as[String].collect().toList === List("capped"))
    // an IF BLOCK inside a WHILE body: the loop's block tree holds the
    // whole IF, validated loop-body-safe, and the unroller emits it per
    // iteration with the counter bound — the ladder executes each copy
    val w2b = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "wb" -> Seq((1L, 0.0, 0L), (2L, 0.0, 0L), (3L, 0.0, 0L))
        .toDF("id", "v", "hits"))
    w2b.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    mkExec(w2b)(task(
      "DECLARE @i INT = 1; " +
        "WHILE @i <= 3 BEGIN " +
        "IF @i > 1 BEGIN UPDATE wb SET v = v + @i WHERE id = @i; " +
        "UPDATE wb SET hits = hits + 1 WHERE id = @i; END; " +
        "SET @i = @i + 1; END"))
      .getOrElse(fail("WHILE-body IF block did not compile"))
    assert(w2b("wb").orderBy("id").as[(Long, Double, Long)].collect().toList
      === List((1L, 0.0, 0L), (2L, 2.0, 1L), (3L, 3.0, 1L)))
    // …but a conditional SET of a loop variable (invisible to the
    // driver's variable model) and a RETURN leg both keep the decline
    assert(mkExec(w2b)(task(
      "DECLARE @i INT = 1; WHILE @i <= 3 BEGIN " +
        "IF @i > 1 SET @i = 99; SET @i = @i + 1; END")).isEmpty)
    assert(mkExec(w2b)(task(
      "DECLARE @i INT = 1; WHILE @i <= 3 BEGIN " +
        "IF @i > 1 RETURN; UPDATE wb SET v = 1 WHERE id = @i; " +
        "SET @i = @i + 1; END")).isEmpty)
    spark.catalog.dropTempView("wb")
    // a RETURN leg inside a TRY body stays manual review (batch exit
    // from inside a handler is not this replay's to arbitrate)
    val w3 = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "tt" -> Seq((1L, 5.0)).toDF("id", "v"))
    w3.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    assert(mkExec(w3)(task(
      "BEGIN TRY DECLARE @n INT = 0; IF @n = 0 RETURN; " +
        "UPDATE tt SET v = 1; " +
        "END TRY BEGIN CATCH UPDATE tt SET v = 2 END CATCH")).isEmpty)
    dropViews("wt", "tt", "tl")
  }

  test("RAISERROR legs: severity >= 11 aborts mid-script; <= 10 continues; TRY catches") {
    import spark.implicits._
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "gt" -> Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v"),
        "gl" -> Seq.empty[String].toDF("s"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // fired guard (severity 16) aborts the task — nothing commits,
    // and the message reads `RAISERROR: <text> (severity n)`
    val w1 = fresh()
    val e = intercept[IllegalArgumentException] {
      mkExec(w1)(task(
        "DECLARE @n INT; SELECT @n = COUNT(*) FROM gt WHERE v > 999; " +
          "IF @n = 0 RAISERROR('stage empty', 16, 1); " +
          "UPDATE gt SET v = 0"))
    }
    assert(e.getMessage.contains("stage empty") &&
      e.getMessage.contains("severity 16"))
    assert(w1("gt").filter("v = 0").count() === 0L, "nothing may commit")
    // informational severity (<= 10): the batch continues
    val w2 = fresh()
    mkExec(w2)(task(
      "DECLARE @n INT; SELECT @n = COUNT(*) FROM gt; " +
        "IF @n > 0 RAISERROR('note: stage has rows', 1, 1); " +
        "UPDATE gt SET v = 0 WHERE v > 10"))
      .getOrElse(fail("informational guard script did not compile"))
    assert(w2("gt").filter("v = 0").count() === 1L)
    // inside a TRY the fired guard is caught; ERROR_MESSAGE binds the
    // text and pre-failure staged state is kept (the q107 contract)
    val w3 = fresh()
    mkExec(w3)(task(
      "BEGIN TRY " +
        "INSERT INTO gl (s) VALUES ('start'); " +
        "DECLARE @n INT; SELECT @n = COUNT(*) FROM gt WHERE v > 999; " +
        "IF @n = 0 RAISERROR('guard tripped', 16, 1); " +
        "UPDATE gt SET v = -1; " +
        "END TRY BEGIN CATCH INSERT INTO gl (s) VALUES (ERROR_MESSAGE()); " +
        "END CATCH"))
      .getOrElse(fail("TRY-guard script did not compile"))
    assert(w3("gt").filter("v = -1").count() === 0L,
      "the statement after the fired guard must not run")
    val logs = w3("gl").as[String].collect().toList
    assert(logs.head === "start" && logs(1).contains("guard tripped"))
    // the guard-only script with an ELSE RAISERROR leg (`IF p
    // RAISERROR(a) ELSE RAISERROR(b)`): the ELSE must not leak into
    // the first leg's args — the ladder fires the RIGHT leg; an N'…'
    // message reports its bare text like T-SQL
    val wEl = fresh()
    val eEl = intercept[IllegalArgumentException] {
      mkExec(wEl)(task(
        "DECLARE @n INT; SELECT @n = COUNT(*) FROM gt WHERE v > 999; " +
          "IF @n > 0 RAISERROR('has rows', 1, 1) " +
          "ELSE RAISERROR(N'no big rows', 16, 1);"))
    }
    assert(eEl.getMessage.contains("RAISERROR: no big rows (severity 16)"),
      s"wrong leg or mangled N-literal message: ${eEl.getMessage}")
    // a RAISERROR leg in an ELSE IF cascade; a @var message binds
    val w4 = fresh()
    val e4 = intercept[IllegalArgumentException] {
      mkExec(w4)(task(
        "DECLARE @m VARCHAR(30) = 'low count'; " +
          "DECLARE @n INT; SELECT @n = COUNT(*) FROM gt; " +
          "IF @n > 100 UPDATE gt SET v = 1 " +
          "ELSE IF @n < 10 RAISERROR(@m, 16, 1)"))
    }
    assert(e4.getMessage.contains("low count"))
    dropViews("gt", "gl")
  }

  test("guard block in a DML script: BEGIN…END RAISERROR aborts; TRY catches it") {
    import spark.implicits._
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "gd_t" -> Seq((1L, 5.0)).toDF("id", "v"),
        "gd_u" -> Seq((1L, 5.0)).toDF("id", "v"),
        "gd_l" -> Seq.empty[String].toDF("s"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // both spellings of the block body; the UPDATE before the guard
    // must not commit
    for (end <- Seq(" END", "; END")) {
      val w = fresh()
      val e = intercept[IllegalArgumentException] {
        mkExec(w)(task("UPDATE gd_u SET v = 7; DECLARE @n INT; " +
          "SELECT @n = COUNT(*) FROM gd_t WHERE 1=0; " +
          s"IF @n = 0 BEGIN RAISERROR('m', 16, 1)$end"))
      }
      assert(e.getMessage === "RAISERROR: m (severity 16)")
      assert(w("gd_u").as[(Long, Double)].collect().toList === List((1L, 5.0)),
        "nothing may commit")
    }
    // inside TRY…CATCH the fired block is caught: the pre-failure
    // UPDATE stays staged, the statement after the guard never runs,
    // and ERROR_MESSAGE() binds the guard's text
    val w = fresh()
    mkExec(w)(task("BEGIN TRY UPDATE gd_u SET v = 7; DECLARE @n INT; " +
      "SELECT @n = COUNT(*) FROM gd_t WHERE 1=0; " +
      "IF @n = 0 BEGIN RAISERROR('m', 16, 1) END; UPDATE gd_u SET v = 9; " +
      "END TRY BEGIN CATCH INSERT INTO gd_l (s) VALUES (ERROR_MESSAGE()); " +
      "END CATCH")).getOrElse(fail("TRY-wrapped guard block did not compile"))
    assert(w("gd_u").as[(Long, Double)].collect().toList === List((1L, 7.0)))
    assert(w("gd_l").as[String].collect().toList === List("RAISERROR: m (severity 16)"))
    dropViews("gd_t", "gd_u", "gd_l")
  }

  test("EXEC-wrapped IFs: literal and parameterized, top level and in-script") {
    import spark.implicits._
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "ex_t" -> Seq((1L, 5.0)).toDF("id", "v"),
        "ex_u" -> Seq((1L, 5.0)).toDF("id", "v"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    def rows(w: scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame],
        t: String) = w(t).as[(Long, Double)].collect().toList
    def run(sql: String) = {
      val w = fresh()
      val o = mkExec(w)(task(sql)).getOrElse(fail(s"declined: $sql"))
      (o, w)
    }
    // top level: the taken leg commits; untaken with no ELSE is a
    // vacuous success; the ELSE leg runs when the probe is false
    val (o1, w1) = run("EXEC('IF EXISTS (SELECT 1 FROM ex_t) DELETE FROM ex_t')")
    assert(rows(w1, "ex_t") === Nil && o1.df.exists(_.isEmpty))
    val (o2, w2) = run(
      "EXEC('IF EXISTS (SELECT 1 FROM ex_t WHERE v > 100) DELETE FROM ex_t')")
    assert(rows(w2, "ex_t") === List((1L, 5.0)) && o2.df.isEmpty)
    val (_, w3) = run("EXEC('IF EXISTS (SELECT 1 FROM ex_t WHERE v > 100) " +
      "DELETE FROM ex_t ELSE UPDATE ex_t SET v = 1')")
    assert(rows(w3, "ex_t") === List((1L, 1.0)))
    val (_, w4) = run(
      "EXEC sp_executesql N'IF @p > 0 DELETE FROM ex_t', N'@p INT', @p = 1")
    assert(rows(w4, "ex_t") === Nil)
    val (_, w5) = run(
      "EXEC sp_executesql N'IF @p > 0 DELETE FROM ex_t', N'@p INT', @p = 0")
    assert(rows(w5, "ex_t") === List((1L, 5.0)))
    // in-script: the statement before it commits with the taken leg;
    // a declared @var reaches the parameterized form's arguments
    val (_, w6) = run("UPDATE ex_u SET v = 8; " +
      "EXEC('IF EXISTS (SELECT 1 FROM ex_t) DELETE FROM ex_t')")
    assert(rows(w6, "ex_t") === Nil && rows(w6, "ex_u") === List((1L, 8.0)))
    val (_, w7) = run("UPDATE ex_u SET v = 8; " +
      "EXEC('IF EXISTS (SELECT 1 FROM ex_t WHERE v > 100) DELETE FROM ex_t')")
    assert(rows(w7, "ex_t") === List((1L, 5.0)) && rows(w7, "ex_u") === List((1L, 8.0)))
    val (_, w8) = run("DECLARE @n INT = 3; EXEC sp_executesql " +
      "N'IF @p > 2 DELETE FROM ex_t', N'@p INT', @p = @n")
    assert(rows(w8, "ex_t") === Nil)
    val (_, w9) = run("DECLARE @n INT = 1; EXEC sp_executesql " +
      "N'IF @p > 2 DELETE FROM ex_t', N'@p INT', @p = @n")
    assert(rows(w9, "ex_t") === List((1L, 5.0)))
    dropViews("ex_t", "ex_u")
  }

  test("EXEC-wrapped IFs are their own batch: caller @vars and RETURN decline") {
    import spark.implicits._
    // the dynamic batch cannot see the caller's @n (T-SQL Msg 137) nor
    // assign the caller's @v, and its RETURN would end only the dynamic
    // batch — binding or exiting the caller's scope would diverge
    for (sql <- Seq(
      "DECLARE @n INT = 5; EXEC('IF @n > 0 DELETE FROM ex_t')",
      "DECLARE @v INT = 0; EXEC('IF 1 = 1 SET @v = 1'); " +
        "UPDATE ex_t SET v = @v",
      "EXEC('IF 1 = 1 RETURN'); DELETE FROM ex_t",
      "UPDATE ex_t SET v = 1; EXEC('IF @@ROWCOUNT > 0 DELETE FROM ex_t')",
      "EXEC('IF 1 = 1 RETURN')")) {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "ex_t" -> Seq((1L, 5.0)).toDF("id", "v"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      assert(mkExec(w)(task(sql)).isEmpty, s"should decline: $sql")
      assert(w("ex_t").as[(Long, Double)].collect().toList === List((1L, 5.0)),
        s"declined task committed: $sql")
    }
    dropViews("ex_t")
  }

  test("a task reading a #temp none of its statements creates declines") {
    import spark.implicits._
    def fresh() = {
      val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
        "ft_t" -> Seq((1L, 5.0)).toDF("id", "v"),
        "ft_u" -> Seq((1L, 5.0)).toDF("id", "v"))
      w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      w
    }
    // a one-statement ladder, a two-statement script, a one-statement
    // IF and a plain statement: each reads #stage, which another task
    // on the connection would have to have created
    for (sql <- Seq(
      "IF EXISTS (SELECT 1 FROM ft_t) BEGIN INSERT INTO ft_u SELECT * " +
        "FROM #stage; DELETE FROM ft_t; END",
      "INSERT INTO ft_u SELECT * FROM #stage; DELETE FROM ft_t",
      "IF EXISTS (SELECT 1 FROM ft_t) INSERT INTO ft_u SELECT * FROM #stage",
      "INSERT INTO ft_u SELECT * FROM #stage",
      "INSERT INTO ft_u SELECT * FROM ##shared; DELETE FROM ft_t")) {
      val w = fresh()
      assert(mkExec(w)(task(sql)).isEmpty, s"should decline: $sql")
      assert(w("ft_t").count() === 1L && w("ft_u").count() === 1L)
    }
    // each creator makes the temp the task's own: SELECT INTO, CREATE
    // TABLE, the INSERT…VALUES bootstrap
    for (sql <- Seq(
      "SELECT * INTO #s FROM ft_t; INSERT INTO ft_u SELECT * FROM #s",
      "CREATE TABLE #s (id BIGINT, v FLOAT); INSERT INTO #s (id, v) " +
        "VALUES (2, 1.0); INSERT INTO ft_u SELECT * FROM #S",
      "INSERT INTO #s (id, v) VALUES (2, 1.0); INSERT INTO ft_u SELECT * FROM #s")) {
      val w = fresh()
      assert(mkExec(w)(task(sql)).nonEmpty, s"should run: $sql")
      assert(w("ft_u").count() === 2L, sql)
      assert(w.keySet === Set("ft_t", "ft_u"), "a temp never commits")
    }
    dropViews("ft_t", "ft_u")
  }

  test("no listener failure from existence probes: append to a new table, create a #temp") {
    import spark.implicits._
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "lp_src" -> Seq((1L, 5.0)).toDF("id", "v"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    val (out, failures) = SparkTestSession.failuresIn {
      mkExec(w)(task("INSERT INTO lp_new SELECT * FROM lp_src; " +
        "CREATE TABLE #t (id BIGINT); INSERT INTO #t VALUES (2); " +
        "INSERT INTO lp_new SELECT id, 1.0 AS v FROM #t"))
    }
    assert(out.nonEmpty)
    assert(w("lp_new").as[(Long, Double)].collect().toSet === Set((1L, 5.0), (2L, 1.0)))
    assert(failures === 0, "an existence probe analysed a missing name")
    dropViews("lp_src")
  }

  // ---- invariant: the IF-EXISTS probe sees STAGED state ---------------

  test("IF-EXISTS probe inside a script reads staged (uncommitted) warehouse state") {
    import spark.implicits._
    val w = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "wh" -> Seq((1L, 10.0)).toDF("id", "v"),
      "flag" -> Seq.empty[String].toDF("s"))
    w.foreach { case (k, f) => f.createOrReplaceTempView(k) }
    // the INSERT stages id=2 in the overlay only; the probe must see it
    // (the overlay temp view shadows the warehouse name — the
    // load-bearing invariant behind runSelect-routed probes)
    mkExec(w)(task(
      "INSERT INTO wh SELECT 2 AS id, 99.0 AS v; " +
        "IF EXISTS (SELECT 1 FROM wh WHERE id = 2) " +
        "INSERT INTO flag (s) VALUES ('seen') " +
        "ELSE INSERT INTO flag (s) VALUES ('missed')"))
      .getOrElse(fail("staged-probe script did not compile"))
    assert(w("flag").as[String].head() === "seen")
    spark.catalog.dropTempView("wh"); spark.catalog.dropTempView("flag")
  }

  // ---- ledger twins ----------------------------------------------------

  test("route: lone IFs, ladder scripts and #temp scope as the ledger reads them") {
    import graft.patterns.ScriptedSqlExecutor.{Route, route}
    def status(sql: String) = graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("g", None, "conn", sql), Nil).status
    def lone(sql: String) = route(sql) match {
      case Route.Script(List(_: graft.patterns.SqlBlocks.If), _) => true
      case _ => false
    }
    def feats(sql: String) = route(sql) match {
      case s: Route.Script => Some(s.features.mkString(" + ")).filter(_.nonEmpty)
      case _ => None
    }
    // a one-statement IF with no @tokens runs whole, single-leg plain
    // branches included; an unbindable @predicate declines
    assert(lone("IF EXISTS (SELECT 1 FROM u) DELETE FROM t"))
    assert(route("IF @n > 0 UPDATE t SET a = 1").isInstanceOf[Route.Decline])
    assert(lone("IF (SELECT COUNT(*) FROM t) > 0 BEGIN TRUNCATE TABLE u; " +
      "INSERT INTO u SELECT * FROM t; END"))
    assert(feats("DECLARE @n INT = 1; IF @n > 0 BEGIN TRUNCATE TABLE t; " +
      "INSERT INTO t SELECT 1 AS a; END").exists(_.contains("IF ladders")))
    // RETURN under an explicit transaction bracket stays manual review
    val txnReturn = "BEGIN TRAN; DECLARE @n INT = 0; IF @n = 0 RETURN; " +
      "INSERT INTO t SELECT 1 AS a; COMMIT"
    assert(route(txnReturn).isInstanceOf[Route.Decline])
    assert(status(txnReturn) === "manual_review")
    // a #temp the task does not create is another task's: the executor
    // declines, and so does the ledger
    for (sql <- Seq(
        "IF EXISTS (SELECT 1 FROM u) INSERT INTO t SELECT * FROM #stage",
        "INSERT INTO t SELECT * FROM #stage; DELETE FROM u")) {
      assert(route(sql).isInstanceOf[Route.Decline], sql)
      assert(status(sql) === "manual_review", sql)
    }
    assert(feats("SELECT * INTO #stage FROM u; INSERT INTO t SELECT * FROM #stage")
      .exists(_.contains("#temp scope")))
  }

  test("ledger note: only a RAISERROR ladder leg claims the guard executes") {
    def note(sql: String) = graft.parser.MigrationMapping.mapTask(
      graft.ir.Ir.ExecuteSqlTask("g", None, "conn", sql), Nil).strategy.get
    assert(note("DECLARE @n INT; SELECT @n = COUNT(*) FROM t; " +
      "IF @n = 0 BEGIN RAISERROR('m', 16, 1) END").contains("guard executes"))
    // a CATCH re-raise is no ladder leg — the ValidationSuite wording
    // stays; RAISERROR text in a literal is no guard at all
    val reraise = "BEGIN TRY DELETE FROM t END TRY BEGIN CATCH " +
      "RAISERROR('failed', 16, 1) END CATCH"
    assert(note(reraise).contains("validation aggregate guard"))
    assert(!note(reraise).contains("executes"))
    val logged = "INSERT INTO log (msg) VALUES ('RAISERROR skipped')"
    assert(!note(logged).contains("guard"))
  }
}
