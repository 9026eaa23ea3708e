package graft.patterns
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property coverage for the one T-SQL lexer ([[SqlLex]]) and the text
  * machinery every SQL compiler stands on (mask / depths / splitTop /
  * mapCode / splitStatements / splitBatches): a bug here silently
  * re-shapes statements — the worst failure class the frontend has.
  * Deterministic sampling, the SsisExprPropertySpec convention. */
class SqlTextPropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(97L + i)).foreach(f)
    }

  // SQL-ish soup: identifiers, punctuation that matters (quotes,
  // semicolons, parens, commas), SQL-escaped quotes, keywords that the
  // compilers scan for, newlines and GO lines
  private val genPiece: Gen[String] = Gen.oneOf(
    Gen.oneOf("select", "FROM", "where", "join", "into", "GO", "go",
      "update", "delete", ";", ",", "(", ")", " ", "\n", "x", "t1",
      "= 1", "-- note", "?"),
    Gen.oneOf("'", "''").map(identity),
    Gen.alphaNumStr.map(_.take(6)))
  // the lexer's other states: comment and identifier delimiters (both
  // identifier forms), the N'' prefix, a temp name's `#`, and a text that
  // ends inside a literal, an identifier or a comment
  private val genLexPiece: Gen[String] = Gen.oneOf("/*", "*/", "--", "\n",
    "[", "]", "]]", "\"", "\"\"", "N'", "#")
  private val genTail: Gen[String] = Gen.oneOf("", "", "'open lit",
    "[open id", "\"open id", "/* open comment", "-- open line")
  private val genSoup: Gen[String] = for {
    pieces <- Gen.listOfN(24, Gen.frequency(3 -> genPiece, 1 -> genLexPiece))
    tail <- genTail
  } yield pieces.mkString(" ") + tail

  /** Reference lexer for the properties: an independent walk that finds
    * each literal / identifier (`[…]` or `"…"`) / comment SPAN and masks
    * it whole (an identifier keeps its letters, digits, `_` and `#`), and
    * counts paren depth over the code characters it passes. */
  private def refLex(s: String): (String, Array[Int]) = {
    val out = new StringBuilder
    val depth = new Array[Int](s.length + 1)
    var i = 0
    // end (exclusive) of a delimited body starting at `from`, and
    // whether it was closed: a doubled delimiter is an escape
    def body(from: Int, q: Char): (Int, Boolean) = {
      var j = from
      while (j < s.length) {
        if (s(j) != q) j += 1
        else if (j + 1 < s.length && s(j + 1) == q) j += 2
        else return (j + 1, true)
      }
      (s.length, false)
    }
    def blockEnd(from: Int): Int = {
      var nest = 1
      var j = from
      while (j < s.length) {
        if (s.startsWith("*/", j)) { nest -= 1; j += 2; if (nest == 0) return j }
        else if (s.startsWith("/*", j)) { nest += 1; j += 2 }
        else j += 1
      }
      s.length
    }
    while (i < s.length) {
      val c = s(i)
      var delta = 0
      val end =
        if (c == '\'' || c == '[' || c == '"') {
          val q = if (c == '[') ']' else c
          val (e, closed) = body(i + 1, q)
          val inner = s.substring(i + 1, e - (if (closed) 1 else 0))
          val shown = if (c != '\'') inner.map(ch =>
            if (ch.isLetterOrDigit || ch == '_' || ch == '#') ch else 'x')
            else "x" * inner.length
          out += c ++= shown ++= (if (closed) q.toString else "")
          e
        } else if (s.startsWith("--", i)) {
          val e = if (s.indexOf('\n', i) < 0) s.length else s.indexOf('\n', i)
          out ++= " " * (e - i); e
        } else if (s.startsWith("/*", i)) {
          val e = blockEnd(i + 2)
          out ++= " " * (e - i); e
        } else {
          out += c
          delta = if (c == '(') 1 else if (c == ')') -1 else 0
          i + 1
        }
      (i + 1 to end).foreach(depth(_) = depth(i))
      depth(end) = depth(i) + delta
      i = end
    }
    (out.result(), depth)
  }

  test("the lexer agrees with the reference lexer on mask and paren depth") {
    forAll(genSoup, 400) { s =>
      val (refMask, refDepth) = refLex(s)
      val msk = SqlLex.mask(s)
      assert(msk === refMask, s"mask differs on: ${s.take(160)}")
      assert(SqlLex.depths(msk).toSeq === refDepth.toSeq,
        s"depth differs on: ${s.take(160)}")
    }
  }

  test("mapCode runs reassemble the input exactly; literal runs are quote-delimited") {
    forAll(genSoup) { s =>
      assert(SqlLex.mapCode(s)(identity) === s,
        s"mapCode lost characters on: ${s.take(120)}")
      // f sees exactly the characters outside string literals
      val kinds = SqlLex.kinds(s)
      val marked = SqlLex.mapCode(s)(r => "\u0000" * r.length)
      assert(marked.indices.forall(i =>
        (marked(i) == '\u0000') == (kinds(i) != SqlLex.Lit)),
        s"mapCode handed literal text to f on: ${s.take(120)}")
      // a literal run opens with a quote; every run the text does not
      // end inside is terminated by one
      val runs = s.indices.filter(i => kinds(i) == SqlLex.Lit &&
        (i == 0 || kinds(i - 1) != SqlLex.Lit))
      runs.foreach { a =>
        assert(s(a) == '\'', s"literal without open quote at $a: ${s.take(120)}")
        val e = (a until s.length).find(kinds(_) != SqlLex.Lit)
        e.foreach(e => assert(e - a >= 2 && s(e - 1) == '\'',
          s"non-final literal unterminated at $a: ${s.take(120)}"))
      }
    }
  }

  test("mask is length-preserving and leaks no literal or comment content, nor an identifier's non-name characters") {
    forAll(genSoup) { s =>
      val m = SqlLex.mask(s)
      assert(m.length === s.length, s"mask changed length of: ${s.take(120)}")
      val kinds = SqlLex.kinds(s)
      s.indices.foreach { i =>
        kinds(i) match {
          case SqlLex.Code => assert(m(i) === s(i), "mask altered code")
          case SqlLex.Lit => assert("x'".contains(m(i)),
            s"literal content leaked into mask: ${s.take(120)}")
          case SqlLex.Ident | SqlLex.QuotedIdent => assert(m(i) == s(i) &&
              (s(i).isLetterOrDigit || "_#[]\"".contains(s(i))) ||
              m(i) == 'x' && !s(i).isLetterOrDigit && !"_#".contains(s(i)),
            s"identifier mask neither a name character nor x: ${s.take(120)}")
          case _ => assert(m(i) === ' ', s"comment leaked into mask: ${s.take(120)}")
        }
      }
    }
  }

  test("splitTop never splits inside parens, literals, identifiers or comments") {
    def balancedFromZero(t: String): (Boolean, Int) = {
      val d = SqlLex.depths(SqlLex.mask(t))
      (d.forall(_ >= 0), d.last)
    }
    forAll(genSoup) { s =>
      // inputs with unbalanced parens may yield unbalanced parts — only
      // flag a part when the INPUT was balanced
      val (inOk, inEnd) = balancedFromZero(s)
      SqlLex.splitTop(s).foreach { p =>
        assert(balancedFromZero(p)._1 || !(inOk && inEnd == 0),
          s"splitTop cut inside parens: '$p' from '${s.take(120)}'")
      }
      // no piece boundary lands on a comma that is not top-level code
      val msk = SqlLex.mask(s)
      val d = SqlLex.depths(msk)
      val topCommas = s.indices.count(i => msk(i) == ',' && d(i) == 0)
      assert(SqlLex.pieces(s, ",".r).size === topCommas + 1)
    }
  }

  test("splitStatements: fragments contain no ACTIVE semicolon; content survives") {
    forAll(genSoup) { s =>
      val stmts = SqlText.splitStatements(s)
      stmts.foreach { st =>
        assert(!SqlLex.mask(st).contains(';'),
          s"active ';' survived inside a statement: '$st'")
      }
      // no non-whitespace content is lost by splitting: only the ACTIVE
      // semicolons (code, not literal / identifier / comment) go
      val msk = SqlLex.mask(s)
      val joined = stmts.mkString.replaceAll("\\s", "")
      val original = s.indices.filter(msk(_) != ';').map(s(_)).mkString
        .replaceAll("\\s", "")
      assert(joined === original, s"splitStatements lost content on: ${s.take(120)}")
    }
  }

  test("splitBatches: GO lines split; masked positions slice the original") {
    forAll(genSoup) { s =>
      val batches = SqlText.splitBatches(s)
      // every batch is a substring of the input (trimmed) — slicing by
      // masked spans must never shear characters
      batches.foreach(b => assert(s.contains(b),
        s"batch is not a substring: '$b' of '${s.take(120)}'"))
      // and no batch retains a full-line GO outside a literal (a
      // newline-free text is one batch by policy: there GO cannot be
      // told from an identifier)
      if (s.contains('\n')) batches.foreach { b =>
        val msk = SqlLex.mask(b)
        assert("(?im)^[ \\t]*go[ \\t]*;?[ \\t]*$".r.findFirstIn(msk).isEmpty,
          s"a GO line survived inside a batch: '$b' of '$s'")
      }
    }
  }

  test("charTrunc never splits a surrogate pair; result is always valid") {
    // the shared char(n) truncation primitive (capVal, sp_executesql
    // binding, CAST folding): a naive take(n) landing between a high
    // and low surrogate yields an invalid string — charTrunc drops the
    // whole pair instead (valid, one unit short)
    val emoji = "😀" // one code point, two UTF-16 units
    assert(SqlText.charTrunc("a" + emoji + "b", 2) === "a")
    assert(SqlText.charTrunc("a" + emoji + "b", 3) === "a" + emoji)
    assert(SqlText.charTrunc("a" + emoji + "b", 4) === "a" + emoji + "b")
    assert(SqlText.charTrunc("abcdef", 3) === "abc")
    assert(SqlText.charTrunc("ab", 5) === "ab")
    assert(SqlText.charTrunc("ab", 0) === "")
    // property: the result never ends on an unpaired high surrogate
    val genMix = Gen.listOfN(12, Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const(emoji))).map(_.mkString)
    forAll(Gen.zip(genMix, Gen.choose(0, 16))) { case (s, n) =>
      val t = SqlText.charTrunc(s, n)
      assert(t.length <= n)
      assert(t.isEmpty || !Character.isHighSurrogate(t.last),
        s"split pair in charTrunc('$s', $n)")
      assert(s.startsWith(t), "truncation must be a prefix")
    }
  }

  test("sp_executesql OUTPUT arg slicing survives hostile literal content") {
    // parseParameterizedOutput slices RAW text by masked-twin spans
    // (rawCore = raw.trim.substring(0, amCore.length)) — sound only
    // because masking is length- and whitespace-preserving. Pin it
    // against literals carrying the exact tokens the parser scans for
    // (OUTPUT/OUT keywords, commas, '=', '@vars', doubled quotes).
    val genLit: Gen[String] = Gen.listOfN(8, Gen.oneOf(
      "output", "OUT", ",", "=", "@v", "x", " ", "(", ")", "N'",
      "OUTPUT ")).map(_.mkString)
    forAll(genLit) { lit0 =>
      val lit = lit0.replace("'", "''")
      val sql = "EXEC sp_executesql N'SELECT @c = COUNT(*) FROM t " +
        "WHERE tag = @t', N'@t VARCHAR(99), @c INT OUTPUT', " +
        s"@t = '$lit', @c = @n OUTPUT"
      val pe = ExecLiteralSqlCompiler.parseParameterizedOutput(sql)
        .getOrElse(fail(s"parse lost on literal: <$lit0>"))
      val targ = pe.args.find(_._1 == "t")
        .getOrElse(fail("@t argument lost"))
      assert(!targ._3, s"literal content read as call-site OUTPUT: <$lit0>")
      assert(targ._2 === s"'$lit'",
        s"raw arg sliced wrong: <$lit0> -> <${targ._2}>")
      val carg = pe.args.find(_._1 == "c").getOrElse(fail("@c lost"))
      assert(carg._3 && carg._2 === "@n", "OUT argument mis-sliced")
      assert(pe.decls.map(d => (d._1, d._4)) ===
        List(("t", false), ("c", true)), "declarations mis-parsed")
    }
  }

  test("pivot fold's sole-relation depth walk ignores literals and subqueries") {
    // soleTopLevelRelation scans the masked prefix with a depth array:
    // FROM/JOIN tokens inside string literals (masked away) or inside
    // parens (depth > 0 — select-list subqueries, CTE bodies) must not
    // flip the classification in either direction.
    val genSel: Gen[String] = Gen.listOfN(3, Gen.oneOf(
      "'from'", "' join x '", "(SELECT max(k) FROM z)", "k2",
      "'('", "')'", "' cross join '")).map(_.mkString(", "))
    forAll(genSel, 100) { sel =>
      val own = s"SELECT [A], [B], $sel FROM (SELECT k, s, v FROM t) src " +
        "PIVOT (SUM(v) FOR s IN ([A], [B])) p"
      assert(PivotSql.translate(own).exists(_.isRight),
        s"sole-relation walk over-declined on select list: $sel")
      val joined = s"SELECT [A], [B], $sel FROM t CROSS JOIN u " +
        "PIVOT (SUM(v) FOR s IN ([A], [B])) p"
      assert(PivotSql.translate(joined).exists(_.isLeft),
        s"join tail must keep the decline regardless of select list: $sel")
    }
  }

  /** The sequencer's statements of a text: the block tree's leaves. */
  private def leaves(s: String): List[SqlBlocks.Leaf] =
    SqlBlocks.parse(s).toOption.get.flatMap(_.body).collect { case l: SqlBlocks.Leaf => l }

  test("block tree: literal keywords never join; blocks parse whole") {
    // hostile literals: BEGIN/END/CASE/IF/ELSE inside string content
    // must be data — a literal-borne keyword that changed the block
    // structure would fuse unrelated statements (silent re-shaping, the
    // worst class). Generator: plain DML statements whose literal
    // payload is keyword soup.
    val kwSoup: Gen[String] = Gen.listOfN(4, Gen.oneOf(
      "begin", "END", "case", "if", "else", "BEGIN TRAN", "end try",
      "x", ";", "(", ")")).map(_.mkString(" "))
    forAll(kwSoup) { payload =>
      val lit = payload.replace("'", "''")
      val stmts = List(
        s"INSERT INTO t VALUES ('$lit')",
        s"UPDATE t SET c = '$lit' WHERE k = 1",
        "DELETE FROM t WHERE k = 2")
      assert(leaves(stmts.mkString("; ")).map(_.text) === stmts,
        s"literal content changed the statements for payload: $payload")
    }
    // the inverse property: a REAL block around arbitrary literal
    // payload is always exactly one IF, whose branch holds exactly the
    // two body statements
    forAll(kwSoup) { payload =>
      val lit = payload.replace("'", "''")
      val text = s"IF @n > 0 BEGIN UPDATE t SET c = '$lit'; " +
        s"DELETE FROM u WHERE k = '$lit'; END"
      leaves(text) match {
        case List(SqlBlocks.If(l, t)) =>
          assert(t === text)
          assert(l.legs.head._2 === IfLadderSqlCompiler.Stmts(List(
            s"UPDATE t SET c = '$lit'", s"DELETE FROM u WHERE k = '$lit'")),
            s"block body mis-parsed for payload: $payload")
        case other => fail(s"block did not parse whole for payload $payload: $other")
      }
    }
  }

  test("IfLadder parse: predicate/branch slicing survives hostile literals; cascade order is positional") {
    val kwSoup: Gen[String] = Gen.listOfN(3, Gen.oneOf(
      "else", "IF", "begin", "end", "return", "exists (", ")", "x"))
      .map(_.mkString(" "))
    forAll(kwSoup) { payload =>
      val lit = payload.replace("'", "''")
      // keyword soup in a predicate-side literal and both branch
      // literals: the ladder must still split at the REAL tokens
      val text = s"IF @s = '$lit' UPDATE t SET c = '$lit' " +
        s"ELSE IF @n > 1 DELETE FROM t WHERE c = '$lit' " +
        "ELSE RETURN"
      IfLadderSqlCompiler.parse(text) match {
        case Some(l) =>
          assert(l.legs.length === 2 &&
            l.otherwise === Some(IfLadderSqlCompiler.ReturnExit),
            s"ladder mis-split on payload: $payload")
          assert(l.legs.head._1 ===
            IfLadderSqlCompiler.ScalarPred(s"@s = '$lit'"),
            s"predicate slice corrupted for payload: $payload")
        case None => fail(s"ladder failed to parse on literal payload: $payload")
      }
    }
  }
  test("IfLadder parse: keywords and `;` in literals and [bracketed] identifiers never change the legs") {
    // the soup generator above plus the block/ladder keywords; a
    // literal escapes its quotes, an identifier keeps them (a quote
    // inside brackets is identifier text) and escapes `]` as `]]`
    val hostile: Gen[String] = Gen.listOfN(6, Gen.oneOf(genPiece,
      Gen.oneOf("IF", "else", "BEGIN", "end", "RAISERROR(", "raiserror",
        ";", "exists (", "case", "return", "]", "[")))
      .map(_.mkString(" "))
    forAll(Gen.zip(hostile, hostile)) { case (litRaw, brRaw) =>
      val lit = litRaw.replace("'", "''")
      val br = brRaw.replace("]", "]]")
      val text = s"IF @s = '$lit' AND [$br] = 1 BEGIN UPDATE t SET [$br] = " +
        s"'$lit'; DELETE FROM t WHERE c = '$lit'; END " +
        s"ELSE IF EXISTS (SELECT 1 FROM u WHERE [$br] = '$lit') " +
        s"BEGIN RAISERROR('$lit', 16, 1); END " +
        s"ELSE IF @n > 1 RAISERROR('$lit', 10, 1) " +
        s"ELSE UPDATE t SET c = '$lit'"
      import IfLadderSqlCompiler._
      assert(parse(text) === Some(Ladder(List(
        (ScalarPred(s"@s = '$lit' AND [$br] = 1"), Stmts(List(
          s"UPDATE t SET [$br] = '$lit'", s"DELETE FROM t WHERE c = '$lit'"))),
        (ExistsPred(false, s"SELECT 1 FROM u WHERE [$br] = '$lit'"),
          Raise(s"'$lit', 16, 1")),
        (ScalarPred("@n > 1"), Raise(s"'$lit', 10, 1"))),
        Some(Stmts(List(s"UPDATE t SET c = '$lit'"))))),
        s"legs changed for literal <$lit> / identifier [$br]")
    }
  }

  test("block tree: hostile soup never throws; leaves come out in text order") {
    val blockPiece: Gen[String] = Gen.oneOf("BEGIN", "END", "IF", "ELSE",
      "WHILE", "BEGIN TRY", "END TRY", "BEGIN CATCH", "END CATCH", "BEGIN TRAN",
      "COMMIT", "ROLLBACK", "SAVE TRAN sp", "CASE", "RETURN", "RAISERROR(",
      "@n > 0", "EXISTS (", "UPDATE t SET a = 1", "SET @n = 1", "BREAK",
      "DECLARE c CURSOR FOR", "OPEN c", "FETCH NEXT FROM c INTO @n",
      "OFFSET 1 ROWS FETCH NEXT", "CLOSE c", "DEALLOCATE c")
    val blockSoup: Gen[String] = for {
      pieces <- Gen.listOfN(24, Gen.frequency(3 -> genPiece, 1 -> genLexPiece,
        3 -> blockPiece))
      tail <- genTail
    } yield pieces.mkString(" ") + tail
    forAll(Gen.oneOf(genSoup, blockSoup), 600) { s =>
      SqlBlocks.parse(s) match {
        case Left(why) => assert(why.nonEmpty)
        case Right(bs) =>
          // each batch's leaves are slices of it, left to right
          SqlText.splitBatches(s).zip(bs).foreach { case (batch, b) =>
            SqlBlocks.walk(b.body).collect { case l: SqlBlocks.Leaf => l.text }
              .foldLeft(0) { (from, t) =>
                val at = batch.indexOf(t, from)
                assert(at >= from, s"leaf <$t> out of text order in: $batch")
                at + t.length
              }
          }
      }
      ScriptedSqlExecutor.route(s) // never throws either
    }
  }
}
