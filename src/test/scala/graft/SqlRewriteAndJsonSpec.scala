package graft

import graft.ir.Ir.ExecuteSqlTask
import graft.parser.{DtsxParser, PackageJson}
import graft.patterns.SqlPatternRewriter
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SqlRewriteAndJsonSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def task(sql: String) = ExecuteSqlTask("t", None, "conn", sql)

  test("splitStatements: quote-aware semicolon split") {
    import graft.patterns.SqlText
    assert(SqlText.splitStatements("SELECT 1") === List("SELECT 1"))
    assert(SqlText.splitStatements("a; b ;; c;") === List("a", "b", "c"))
    // a ';' inside a literal never splits; '' escapes survive intact
    assert(SqlText.splitStatements(
      "INSERT INTO t VALUES ('a;b'); UPDATE t SET v = 'it''s; fine'")
      === List("INSERT INTO t VALUES ('a;b')",
        "UPDATE t SET v = 'it''s; fine'"))
  }

  test("rewriter: DELETE of an UNRELATED table never forces Overwrite of the insert target") {
    Tables.lineitem(spark, "/root/testdata/sf0.001").createOrReplaceTempView("li_v")
    val out = SqlPatternRewriter.rewrite(spark, task(
      "DELETE FROM staging.tmp; INSERT INTO fact.sales SELECT l_orderkey FROM li_v;"))
    assert(out.get.target === Some("fact.sales"))
    assert(out.get.mode === SaveMode.Append,
      "a cleanup of some other table must not overwrite the target's history")
    // same-table DELETE (bracket/case variants) still overwrites
    val ow = SqlPatternRewriter.rewrite(spark, task(
      "DELETE FROM [fact].[sales] WHERE d = 1; INSERT INTO fact.sales SELECT l_orderkey FROM li_v;"))
    assert(ow.get.mode === SaveMode.Overwrite)
  }

  test("rewriter: an embedded UPDATE (IF EXISTS upsert) is never half-executed") {
    val out = SqlPatternRewriter.rewrite(spark, task(
      "IF EXISTS (SELECT 1 FROM dim.c WHERE id = 1) " +
        "UPDATE dim.c SET name = 'x' WHERE id = 1 " +
        "ELSE INSERT INTO dim.c (id, name) SELECT 1, 'x'"))
    assert(out.isEmpty, "executing only the INSERT branch drops the update half")
  }

  test("rewriter: multiple INSERT...SELECT statements refuse the rewrite (manual review)") {
    val out = SqlPatternRewriter.rewrite(spark, task(
      "INSERT INTO stg.a SELECT 1; INSERT INTO stg.b SELECT 2;"))
    assert(out.isEmpty, "silently executing only the first INSERT loses the second")
  }

  test("rewriter: attached column list does not leak into the target name") {
    val out = SqlPatternRewriter.rewrite(spark, task(
      "INSERT INTO dbo.SyncLog(package_name,rows_processed) SELECT 'p', 10"))
    assert(out.get.target === Some("dbo.SyncLog"))
  }

  test("rewriter: @Date parameter never corrupts @DateEnd (longest-first, word-bounded)") {
    Tables.lineitem(spark, "/root/testdata/sf0.001").createOrReplaceTempView("li_v2")
    val out = SqlPatternRewriter.rewrite(spark, task(
      "INSERT INTO t SELECT l_orderkey FROM li_v2 WHERE l_shipdate >= @Date AND l_shipdate < @DateEnd"),
      params = Map("Date" -> "'1996-01-01'", "DateEnd" -> "'1997-01-01'"))
    assert(out.isDefined)
    assert(out.get.df.get.count() > 0, "both parameters must bind cleanly")
  }

  test("detection: multi-line WHERE and semicolon-free DELETE keep their signals") {
    import graft.patterns.LoadPatterns
    val inc = LoadPatterns.detect(
      "SELECT * FROM src\nWHERE region = 1\n  AND updated_at >= ?")
    assert(inc.signals.contains("incremental WHERE predicate"))
    val full = LoadPatterns.detect(
      "DELETE FROM stg.t\nINSERT INTO stg.t SELECT * FROM v")
    assert(full.signals.contains("DELETE+INSERT refresh"))
  }

  test("SCD2 merge fails loud on multiple incoming versions of one key") {
    val cur = graft.patterns.ScdType2.rebuild(
      Seq((1L, "A")).toDF("id", "name"), Seq("id"), Seq("name"))
    val incoming = Seq((1L, "B"), (1L, "C")).toDF("id", "name")
    val e = intercept[IllegalArgumentException] {
      graft.patterns.ScdType2.merge(cur, incoming, Seq("id"), Seq("name"),
        current_timestamp())
    }
    assert(e.getMessage.contains("multiple rows per natural key"))
  }

  test("watermark filter drops NULL-watermark rows on EVERY run, including the first") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("wm", TimestampType)))
    def df(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) =>
        org.apache.spark.sql.Row(i, Option(t).map(java.sql.Timestamp.valueOf).orNull) }),
      schema)
    val incoming = df(Seq((1L, "2024-01-02 00:00:00"), (2L, null)))
    val emptySink = df(Nil)
    val fullSink = df(Seq((0L, "2024-01-01 00:00:00")))
    assert(graft.patterns.Incremental.aboveWatermark(incoming, emptySink, "wm")
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(graft.patterns.Incremental.aboveWatermark(incoming, fullSink, "wm")
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("translateConvert: style codes, CAST fallback, nesting, fail-loud leftovers") {
    import graft.patterns.SqlText.translateConvert
    // char target + date style → date_format
    assert(translateConvert("SELECT CONVERT(VARCHAR(8), d, 112) AS k FROM t")
      === "SELECT date_format(d, 'yyyyMMdd') AS k FROM t")
    // non-char target → CAST with the type translated
    assert(translateConvert("SELECT CONVERT(DECIMAL(12,2), p) FROM t")
      === "SELECT CAST(p AS DECIMAL(12, 2)) FROM t")
    assert(translateConvert("SELECT CONVERT(DATETIME, s) FROM t")
      === "SELECT CAST(s AS TIMESTAMP) FROM t")
    // char target WITHOUT style → plain string cast
    assert(translateConvert("SELECT CONVERT(NVARCHAR(50), x) FROM t")
      === "SELECT CAST(x AS STRING) FROM t")
    // nested: innermost first
    assert(translateConvert(
      "SELECT CONVERT(VARCHAR(10), CONVERT(DATE, d), 23) FROM t")
      === "SELECT date_format(CAST(d AS DATE), 'yyyy-MM-dd') FROM t")
    // unknown style / unmapped type stay IN PLACE (spark.sql fails loud)
    assert(translateConvert("SELECT CONVERT(VARCHAR(8), d, 999) FROM t")
      === "SELECT CONVERT(VARCHAR(8), d, 999) FROM t")
    assert(translateConvert("SELECT CONVERT(GEOGRAPHY, g) FROM t")
      === "SELECT CONVERT(GEOGRAPHY, g) FROM t")
    // ...and an inner translatable call still translates under an
    // untranslatable outer one
    assert(translateConvert(
      "SELECT CONVERT(GEOGRAPHY, CONVERT(VARCHAR(8), d, 112)) FROM t")
      === "SELECT CONVERT(GEOGRAPHY, date_format(d, 'yyyyMMdd')) FROM t")
    // a 'CONVERT(' inside a string literal is data
    val lit = "SELECT 'use CONVERT(VARCHAR, d, 112) here' AS note FROM t"
    assert(translateConvert(lit) === lit)
    // expression args with commas inside parens survive splitTop
    assert(translateConvert("SELECT CONVERT(VARCHAR(8), coalesce(a, b), 112) FROM t")
      === "SELECT date_format(coalesce(a, b), 'yyyyMMdd') FROM t")
  }

  test("rewriter: a leading CTE prefix re-attaches to the extracted SELECT") {
    import spark.implicits._
    def task(sql: String) = graft.ir.Ir.ExecuteSqlTask("s", None, "conn", sql)
    Seq((1L, 5.0), (1L, 6.0), (2L, 50.0)).toDF("id", "v")
      .createOrReplaceTempView("src_cte")
    // WITH … INSERT INTO … SELECT FROM <cte>: without the prefix the
    // select would reference a CTE name that no longer exists
    val ins = graft.patterns.SqlPatternRewriter.rewrite(spark, task(
      "WITH agg AS (SELECT id, COUNT(*) AS n FROM src_cte GROUP BY id) " +
        "INSERT INTO mart_cte SELECT id, n FROM agg WHERE n >= 2"))
    assert(ins.nonEmpty && ins.get.target.contains("mart_cte"))
    assert(ins.get.df.get.as[(Long, Long)].collect().toList === List((1L, 2L)))
    // WITH-prefixed pure SELECT is owned (CTE watermark reads)
    val sel = graft.patterns.SqlPatternRewriter.rewrite(spark, task(
      "WITH mx AS (SELECT MAX(v) AS m FROM src_cte) SELECT m FROM mx"))
    assert(sel.nonEmpty && sel.get.target.isEmpty)
    assert(sel.get.df.get.as[Double].head() === 50.0)
    // WITH alongside DELETE/TRUNCATE is not a shape this rewrite owns
    assert(graft.patterns.SqlPatternRewriter.rewrite(spark, task(
      "WITH d AS (SELECT id FROM src_cte) DELETE FROM mart_cte")).isEmpty)
    // a literal containing 'WITH' does not trigger the CTE path
    val plain = graft.patterns.SqlPatternRewriter.rewrite(spark, task(
      "SELECT 'starts WITH data' AS note FROM src_cte WHERE id = 2"))
    assert(plain.nonEmpty &&
      plain.get.df.get.select("note").as[String].head() === "starts WITH data")
  }

  test("stripComments: '--' inside a string literal never starts a comment") {
    import graft.patterns.SqlText
    // multiline branch: the quoted dashes survive, the real comment strips
    assert(SqlText.stripComments(
      "SELECT * FROM t WHERE note <> '--x' -- trailing\nAND 1=1")
      === "SELECT * FROM t WHERE note <> '--x' \nAND 1=1")
    // normalized (newline-free) branch: the keyword heuristic must not
    // truncate at the quoted dashes or resume inside the literal
    assert(SqlText.stripComments("DELETE FROM t WHERE note <> '--DELETE me'")
      === "DELETE FROM t WHERE note <> '--DELETE me'")
    // doubled-quote escape stays inside the literal
    assert(SqlText.stripComments("SELECT 'it''s -- fine' FROM t")
      === "SELECT 'it''s -- fine' FROM t")
    // genuine comments still strip in both branches
    assert(SqlText.stripComments("-- desc\nSELECT 1") === "SELECT 1")
    assert(SqlText.stripComments("-- Cleanup step DELETE FROM t") === "DELETE FROM t")
  }

  test("DELETE+INSERT aggregate refresh rewrites to SELECT + overwrite") {
    Tables.lineitem(spark, "/root/testdata/sf0.001").createOrReplaceTempView("lineitem_v")
    val sql =
      """-- Refresh daily aggregates
        |DELETE FROM agg.daily WHERE ship_date BETWEEN @StartDate AND @EndDate;
        |
        |INSERT INTO agg.daily (flag, qty)
        |SELECT l_returnflag, SUM(l_quantity) FROM lineitem_v GROUP BY l_returnflag;""".stripMargin
    val out = SqlPatternRewriter.rewrite(spark, task(sql),
      params = Map("StartDate" -> "'1996-01-01'", "EndDate" -> "'1996-12-31'"))
    assert(out.isDefined)
    assert(out.get.target === Some("agg.daily"))
    assert(out.get.mode === SaveMode.Overwrite)
    assert(out.get.df.get.count() === 3) // A/N/R flags
  }

  test("TRUNCATE+INSERT rewrites to overwrite; plain INSERT appends") {
    Tables.region(spark, "/root/testdata/sf0.001").createOrReplaceTempView("region_v")
    val t = SqlPatternRewriter.rewrite(spark,
      task("TRUNCATE TABLE stg.r; INSERT INTO stg.r SELECT * FROM region_v;"))
    assert(t.get.mode === SaveMode.Overwrite)
    val a = SqlPatternRewriter.rewrite(spark,
      task("INSERT INTO stg.r SELECT * FROM region_v;"))
    assert(a.get.mode === SaveMode.Append)
    assert(a.get.df.get.count() === 5)
  }

  test("bare SELECT (watermark fetch) runs without a write target") {
    Tables.orders(spark, "/root/testdata/sf0.001").createOrReplaceTempView("orders_v")
    val out = SqlPatternRewriter.rewrite(spark,
      task("SELECT MAX(o_orderdate) AS wm FROM orders_v"))
    assert(out.get.target === None)
    assert(out.get.df.get.columns.toSeq === Seq("wm"))
  }

  test("MERGE / RAISERROR guards are not rewritten (handled elsewhere)") {
    assert(SqlPatternRewriter.rewrite(spark,
      task("MERGE dim.c AS t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE SET x=1;")).isEmpty)
    assert(SqlPatternRewriter.rewrite(spark,
      task("IF @n = 0 RAISERROR('empty', 16, 1);")).isEmpty)
  }

  test("CROSS/OUTER APPLY translates to a ranked join; off-shapes decline whole") {
    import graft.patterns.ApplySql
    def t(s: String) = ApplySql.translate(s)
    val base = "SELECT a.id, x.v FROM ta a CROSS APPLY (SELECT TOP 1 v " +
      "FROM tb b WHERE b.k = a.id AND b.v > 0 ORDER BY b.ts DESC, b.v) x"
    val Some(Right(r)) = t(base): @unchecked
    // ranked-join shape: derived table carries the list + synthetic key
    // + rank; local conjuncts stay inside; correlation becomes the ON
    assert(r.contains("JOIN (SELECT v, b.k AS __graft_k0, ROW_NUMBER() " +
      "OVER (PARTITION BY b.k ORDER BY b.ts DESC, b.v) AS __graft_rn " +
      "FROM tb AS b WHERE b.v > 0) AS x"))
    assert(r.contains("ON x.__graft_k0 = a.id AND x.__graft_rn <= 1"))
    // OUTER APPLY = LEFT JOIN; flipped equality sides normalize;
    // TOP (n) parenthesized form accepted
    val Some(Right(o)) = t("SELECT a.id, x.v FROM ta a OUTER APPLY " +
      "(SELECT TOP (2) v FROM tb b WHERE a.id = b.k ORDER BY b.v) x"): @unchecked
    assert(o.contains("LEFT JOIN") && o.contains("__graft_rn <= 2"))
    // no APPLY at all: pass-through signal
    assert(t("SELECT 1 FROM ta").isEmpty)
    // off-shapes: no TOP, no ORDER BY, non-equality correlation, outer
    // ref in the body list, star select, two APPLYs — all Left
    def left(s: String) = assert(t(s).exists(_.isLeft), s)
    left("SELECT a.id, x.v FROM ta a CROSS APPLY (SELECT v FROM tb b " +
      "WHERE b.k = a.id ORDER BY b.v) x")
    left("SELECT a.id, x.v FROM ta a CROSS APPLY (SELECT TOP 1 v FROM tb b " +
      "WHERE b.k = a.id) x")
    left("SELECT a.id, x.v FROM ta a CROSS APPLY (SELECT TOP 1 v FROM tb b " +
      "WHERE b.k > a.id ORDER BY b.v) x")
    left("SELECT a.id, x.v FROM ta a CROSS APPLY (SELECT TOP 1 a.id + b.v " +
      "AS v FROM tb b WHERE b.k = a.id ORDER BY b.v) x")
    left("SELECT * FROM ta a CROSS APPLY (SELECT TOP 1 v FROM tb b " +
      "WHERE b.k = a.id ORDER BY b.v) x")
    left("SELECT a.id, x.v, y.v FROM ta a CROSS APPLY (SELECT TOP 1 v " +
      "FROM tb b WHERE b.k = a.id ORDER BY b.v) x CROSS APPLY " +
      "(SELECT TOP 1 v FROM tb c WHERE c.k = a.id ORDER BY c.v) y")
    // literal immunity: ') x' inside a string is data
    val Some(Right(li)) = t("SELECT a.id, x.v FROM ta a CROSS APPLY " +
      "(SELECT TOP 1 v FROM tb b WHERE b.k = a.id AND b.tag <> ') x' " +
      "ORDER BY b.v) x"): @unchecked
    assert(li.contains("b.tag <> ') x'"))
  }

  test("package JSON export: valid JSON, credentials redacted, full structure") {
    val pkg = DtsxParser.parseFile(
      getClass.getResource("/dtsx/SalesFactETL.dtsx").getPath)
    val json = PackageJson.toJson(pkg)
    // parse with Spark's JSON reader as an independent validity check
    val parsed = spark.read.json(Seq(json).toDS())
    assert(parsed.select("name").head().getString(0) === "SalesFactETL")
    assert(json.contains("\"DataFlowTask\""))
    assert(json.contains("\"lookup\""))
    assert(json.contains("NUMERIC(18,2)"))
    assert(!json.toLowerCase.contains("password="))
    val redacted = PackageJson.toJson(pkg.copy(connectionManagers =
      pkg.connectionManagers.map(_.copy(connectionString =
        "Data Source=S;Password=hunter2;"))))
    assert(!redacted.contains("hunter2"))
  }

  test("parsing report: inventory, dispositions, warnings, no credentials") {
    val pkgs = Seq("SalesFactETL.dtsx", "InventorySync.dtsx").map(f =>
      DtsxParser.parseFile(getClass.getResource(s"/dtsx/$f").getPath))
    val md = PackageJson.markdownReport(pkgs)
    assert(md.contains("Packages parsed: 2"))
    assert(md.contains("## SalesFactETL"))
    assert(md.contains("DataFlowTask"))
    assert(md.contains("MANUAL REVIEW")) // InventorySync's Script Task
    assert(md.contains("SendMailTask — skipped"))
    assert(md.contains("- warnings:"))
    assert(!md.toLowerCase.contains("password="))
  }

  test("Json.q: Jackson parses every quoted string back to itself") {
    import org.scalacheck.Gen
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def roundTrips(s: String): Unit =
      assert(mapper.readValue(Json.q(s), classOf[String]) === s, s"q(${s.map(_.toInt)})")
    // every char below 0x20, the two JSON metachars and a surrogate pair,
    // all at once
    roundTrips((0 until 0x20).map(_.toChar).mkString + "\"\\" + "\uD83D\uDE00")
    val unit: Gen[String] = Gen.frequency(
      4 -> Gen.choose(0, 0x1f).map(_.toChar.toString),
      2 -> Gen.oneOf("\"", "\\", "/", "\u007f", "\u00e9", "\u2028"),
      2 -> Gen.alphaNumChar.map(_.toString),
      // a valid surrogate pair: one supplementary code point
      2 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))))
    val gen = Gen.listOf(unit).map(_.mkString)
    (0 until 300).foreach { i =>
      gen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(31L + i)).foreach(roundTrips)
    }
  }
}
