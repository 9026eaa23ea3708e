package graft.patterns
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property coverage for the quote-aware text machinery every SQL
  * compiler stands on (segments / masked / splitTop / splitStatements /
  * splitBatches): a bug here silently re-shapes statements — the
  * worst failure class the frontend has. Deterministic sampling, the
  * SsisExprPropertySpec convention. */
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
  private val genSoup: Gen[String] =
    Gen.listOfN(24, genPiece).map(_.mkString(" "))

  test("segments reassemble to the input exactly; flags alternate sanely") {
    forAll(genSoup) { s =>
      val segs = MergeSqlCompiler.segments(s)
      assert(segs.map(_._1).mkString === s,
        s"segments lost characters on: ${s.take(120)}")
      // a quoted segment opens with a quote; every NON-FINAL quoted
      // segment is terminated (only end-of-input can leave one open)
      segs.filter(_._2).foreach { case (q, _) =>
        assert(q.startsWith("'"), s"quoted segment without open quote: $q")
      }
      segs.dropRight(1).filter(_._2).foreach { case (q, _) =>
        assert(q.length >= 2 && q.endsWith("'"),
          s"non-final quoted segment unterminated: $q")
      }
    }
  }

  test("masked is length-preserving and leaks no literal content") {
    forAll(genSoup) { s =>
      val m = UpdateSqlCompiler.masked(s)
      assert(m.length === s.length, s"masked changed length of: ${s.take(120)}")
      // every character position that sits INSIDE a literal in the
      // original is an 'x' or a quote in the mask
      val segs = MergeSqlCompiler.segments(s)
      var pos = 0
      segs.foreach { case (seg, quoted) =>
        if (quoted) {
          val masked = m.substring(pos, pos + seg.length)
          assert(masked.forall(c => c == 'x' || c == '\''),
            s"literal content leaked into mask: '$seg' -> '$masked'")
        } else
          assert(m.substring(pos, pos + seg.length) === seg,
            "mask altered unquoted text")
        pos += seg.length
      }
    }
  }

  test("splitTop never splits inside parens or literals; rejoin preserves content") {
    forAll(genSoup) { s =>
      val parts = MergeSqlCompiler.splitTop(s)
      parts.foreach { p =>
        // balanced parens per part (when the input was balanced)
        val depthOk = {
          var d = 0; var ok = true
          MergeSqlCompiler.segments(p).foreach {
            case (seg, false) => seg.foreach {
              case '(' => d += 1
              case ')' => d -= 1; if (d < 0) ok = false
              case _ =>
            }
            case _ =>
          }
          ok || {
            // inputs with unbalanced parens are allowed to yield
            // unbalanced parts — only flag when the INPUT was balanced
            var dIn = 0; var okIn = true
            MergeSqlCompiler.segments(s).foreach {
              case (seg, false) => seg.foreach {
                case '(' => dIn += 1
                case ')' => dIn -= 1; if (dIn < 0) okIn = false
                case _ =>
              }
              case _ =>
            }
            !(okIn && dIn == 0)
          }
        }
        assert(depthOk, s"splitTop cut inside parens: '$p' from '${s.take(120)}'")
      }
    }
  }

  test("splitStatements: fragments contain no ACTIVE semicolon; content survives") {
    forAll(genSoup) { s =>
      val stmts = SqlText.splitStatements(s)
      stmts.foreach { st =>
        MergeSqlCompiler.segments(st).foreach { case (seg, quoted) =>
          if (!quoted)
            assert(!seg.contains(';'),
              s"active ';' survived inside a statement: '$st'")
        }
      }
      // no non-whitespace content is lost by splitting
      val joined = stmts.mkString.replaceAll("\\s", "")
      val original = s.replace(";", "").replaceAll("\\s", "")
      // quoted semicolons stay; unquoted ones are delimiters — compare
      // after removing BOTH kinds from the original only when no
      // literal contains one
      val hasQuotedSemi = MergeSqlCompiler.segments(s)
        .exists { case (seg, q) => q && seg.contains(';') }
      if (!hasQuotedSemi)
        assert(joined === original,
          s"splitStatements lost content on: ${s.take(120)}")
    }
  }

  test("splitBatches: GO lines split; masked positions slice the original") {
    forAll(genSoup) { s =>
      val batches = SqlText.splitBatches(s)
      // every batch is a substring of the input (trimmed) — slicing by
      // masked spans must never shear characters
      batches.foreach(b => assert(s.contains(b),
        s"batch is not a substring: '$b' of '${s.take(120)}'"))
      // and no batch retains a full-line GO outside a literal
      batches.foreach { b =>
        val msk = UpdateSqlCompiler.masked(b)
        assert("(?im)^[ \\t]*go[ \\t]*;?[ \\t]*$".r.findFirstIn(msk).isEmpty,
          s"a GO line survived inside a batch: '$b'")
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

  test("IfLadder regroup: literal keyword content never joins fragments; real blocks always rejoin") {
    // hostile literals: BEGIN/END/CASE/IF/ELSE inside string content
    // must be data — a literal-borne keyword that changed the block
    // balance would fuse unrelated statements (silent re-shaping, the
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
      assert(IfLadderSqlCompiler.regroup(stmts) === stmts,
        s"literal content changed regrouping for payload: $payload")
    }
    // the inverse property: a REAL block around arbitrary literal
    // payload always regroups to exactly one statement, and the parse
    // sees exactly the two body statements
    forAll(kwSoup) { payload =>
      val lit = payload.replace("'", "''")
      val text = s"IF @n > 0 BEGIN UPDATE t SET c = '$lit'; " +
        s"DELETE FROM u WHERE k = '$lit'; END"
      val g = IfLadderSqlCompiler.regroup(SqlText.splitStatements(text))
      assert(g.length === 1, s"shredded block failed to rejoin: $payload")
      val l = IfLadderSqlCompiler.parse(g.head)
      assert(l.exists(_.legs.head._2 match {
        case IfLadderSqlCompiler.Stmts(ss) => ss.length == 2
        case _ => false
      }), s"block body mis-parsed for payload: $payload")
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
    // literal escapes its quotes, an identifier drops them (a quote
    // inside brackets is outside what the literal masker models) and
    // escapes `]` as `]]`
    val hostile: Gen[String] = Gen.listOfN(6, Gen.oneOf(genPiece,
      Gen.oneOf("IF", "else", "BEGIN", "end", "RAISERROR(", "raiserror",
        ";", "exists (", "case", "return", "]", "[")))
      .map(_.mkString(" "))
    forAll(Gen.zip(hostile, hostile)) { case (litRaw, brRaw) =>
      val lit = litRaw.replace("'", "''")
      val br = brRaw.replace("'", "").replace("]", "]]")
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
}
