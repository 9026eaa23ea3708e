package graft.patterns

/** Comment stripping that survives XML attribute-value normalization.
  *
  * A dtsx stores `SqlStatementSource` as an XML ATTRIBUTE; per the XML
  * spec a compliant parser replaces literal newlines in attribute values
  * with spaces (only `&#xA;` references survive). A statement written as
  * `-- description\nSELECT …` therefore arrives as ONE line whose leading
  * `--` would swallow the entire statement under line-based stripping —
  * silently classifying every commented task as unconvertible.
  *
  * With real newlines present, `--` comments strip to end-of-line as
  * usual. In the normalized (newline-free) case the end of a comment is
  * unrecoverable in general, so a documented heuristic applies: the
  * comment ends at the first UPPERCASE SQL statement keyword after the
  * `--` (comment prose is typically mixed-case, statements start with a
  * capitalized keyword). A lowercase-keyword statement behind a
  * normalized leading comment stays conservative: it strips to nothing
  * and classifies as manual-review rather than executing half a comment.
  * `/* … */` comments strip in both forms. Which characters start or
  * sit in a comment is [[SqlLex]]'s call: a `--` inside a literal, a
  * `[bracketed]` identifier or a block comment is not a comment start.
  */
object SqlText {

  private val stmtKeyword =
    ("\\b(DECLARE|SELECT|INSERT|UPDATE|DELETE|MERGE|TRUNCATE|IF|WITH|" +
      "CREATE|ALTER|DROP|EXEC|EXECUTE|BEGIN|SET|RAISERROR|GRANT|USE)\\b").r

  def stripComments(sql: String): String =
    (if (sql.contains('\n')) dropComments(sql, SqlLex.kinds(sql))
     else stripNormalized(sql)).trim

  /** Typed SQL literal for a driver-evaluated scalar binding back into
    * statement text — the WHILE unroll, guard block, and script
    * @variable binders all share this one. None = the value has no
    * literal form this engine vouches for (binary, arrays, exotic JDBC
    * types…) and the caller must DECLINE the statement: `toString`
    * splicing is never safe (an unquoted `2024-01-08` evaluates as
    * integer subtraction = 2010, silently wrong). Date/time values
    * cover both the java.sql and the java.time (datetime.java8API)
    * spellings. */
  def sqlLit(v: Any): Option[String] = v match {
    case null => Some("NULL")
    case s: String => Some("'" + s.replace("'", "''") + "'")
    // instant-typed values bind ZONE-FREE as epoch micros:
    // `TIMESTAMP '<Timestamp.toString>'` would render in the JVM
    // default zone and re-parse in the SESSION zone — every bound
    // watermark would drift by the zone offset whenever the two
    // differ. timestamp_micros() is exact at Spark's TIMESTAMP
    // precision and involves no wall-clock text at all.
    case ts: java.sql.Timestamp =>
      val i = ts.toInstant
      Some(s"timestamp_micros(${i.getEpochSecond * 1000000L + i.getNano / 1000})")
    case t: java.time.Instant =>
      Some(s"timestamp_micros(${t.getEpochSecond * 1000000L + t.getNano / 1000})")
    case d: java.sql.Date => Some(s"DATE '$d'")
    case d: java.time.LocalDate => Some(s"DATE '$d'")
    // LocalDateTime is wall-clock by TYPE: both its toString and the
    // TIMESTAMP literal are zone-free, so the text form is exact
    case t: java.time.LocalDateTime =>
      Some(s"TIMESTAMP '${java.sql.Timestamp.valueOf(t)}'")
    case b: Boolean => Some(b.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    case bd: java.math.BigDecimal =>
      // precision from the plain rendering (covers the leading zero),
      // scale clamped non-negative (1E+2 renders plain as 100, scale 0)
      val p = bd.toPlainString.count(_.isDigit)
      val s = math.max(bd.scale, 0)
      if (p > 38) None
      else Some(s"CAST(${bd.toPlainString} AS DECIMAL($p, $s))")
    case bd: scala.math.BigDecimal => sqlLit(bd.underlying)
    case d: Double if !d.isNaN && !d.isInfinite =>
      Some(s"CAST('$d' AS DOUBLE)") // exact: Spark parses the shortest
    case f: Float if !f.isNaN && !f.isInfinite =>
      Some(s"CAST('$f' AS FLOAT)") // round-trip rendering back
    case _ => None
  }

  /** Thrown by the shared binder call sites when [[sqlLit]] has no
    * literal form — each compiler catches it and declines the statement
    * to manual review (never a toString splice). */
  private[patterns] final class UnbindableLiteral(val v: Any)
    extends RuntimeException(s"no SQL literal form for $v", null, false, false)

  private[patterns] def sqlLitOrDecline(v: Any): String =
    sqlLit(v).getOrElse(throw new UnbindableLiteral(v))

  /** Truncate to `n` UTF-16 code units without splitting a surrogate
    * pair — the shared char(n) assignment-truncation primitive (capVal,
    * sp_executesql argument binding, CAST fragment folding). A naive
    * `s.take(n)` landing between a high and low surrogate yields an
    * invalid string that round-trips differently through parquet/UTF-8;
    * when unit n would split a pair the whole pair is dropped instead.
    * T-SQL semantics approximated: NVARCHAR(n) counts UTF-16 units
    * exactly (SQL Server may keep the orphaned half; this engine
    * prefers a valid string one unit short); VARCHAR(n) is a BYTE cap
    * under the column collation's code page — character-count is exact
    * for single-byte data (the entire gate corpus is ASCII) and
    * diverges on multi-byte codepages, a documented boundary rather
    * than a modeled one. */
  private[patterns] def charTrunc(s: String, n: Int): String =
    if (n <= 0) ""
    else if (s.length <= n) s
    else if (Character.isHighSurrogate(s.charAt(n - 1))) s.substring(0, n - 1)
    else s.substring(0, n)

  /** T-SQL `GO` batch separators: a line holding only `GO` (optionally
    * `;`-terminated) splits the script exactly like a `;` — SSMS-style
    * batch authoring is everywhere in real estates. Positions are found
    * on the literal-MASKED twin (a multi-line string literal containing
    * a lone `go` line is data) and sliced from the original. Only
    * meaningful when real newlines survived the dtsx attribute
    * normalization — in the newline-free form `GO` is indistinguishable
    * from an identifier, so the text passes through untouched. */
  private val goLineRe = "(?im)^[ \\t]*go[ \\t]*;?[ \\t]*$".r

  def splitBatches(sql: String): List[String] =
    if (!sql.contains('\n')) List(sql)
    else SqlLex.pieces(sql, goLineRe, top = false).map(_.trim).filter(_.nonEmpty)

  /** Split a script into its `;`-separated statements: only a code
    * `;` splits (never one inside a literal, a `[bracketed]` identifier
    * or a comment). Empty fragments (trailing `;`, `;;`) are dropped. */
  def splitStatements(sql: String): List[String] =
    SqlLex.pieces(sql, ";".r, top = false).map(_.trim).filter(_.nonEmpty)

  /** T-SQL `CONVERT(type, expr [, style])` → Spark — the other
    * cast-spelling half of real estates' SQL beside `CAST` (the
    * reference's LLM expression-mapper lists CONVERT in its contract,
    * ssis-to-dbt `src/agents/llm/prompts.py`). Char targets with a
    * DATE STYLE code translate to `date_format(expr, fmt)` for the
    * styles below; everything else becomes `CAST(expr AS sparkType)`
    * (T-SQL ignores styles on non-char targets). Nested CONVERTs
    * translate innermost-first; an unmapped type or unknown style is
    * LEFT IN PLACE so `spark.sql` fails loudly rather than guessing a
    * format (the TOP-in-subquery precedent). Scans run on the masked
    * twin — 'CONVERT(...)' inside a string literal is data. */
  private val convertHeadRe = "(?i)\\bconvert\\s*\\(".r
  private val charTypeRe = "(?i)^\\s*n?(?:var)?char\\b".r
  private val dateStyleFmt: Map[Int, String] = Map(
    1 -> "MM/dd/yy", 101 -> "MM/dd/yyyy",
    3 -> "dd/MM/yy", 103 -> "dd/MM/yyyy",
    4 -> "dd.MM.yy", 104 -> "dd.MM.yyyy",
    12 -> "yyMMdd", 112 -> "yyyyMMdd",
    23 -> "yyyy-MM-dd",
    120 -> "yyyy-MM-dd HH:mm:ss",
    121 -> "yyyy-MM-dd HH:mm:ss.SSS",
    126 -> "yyyy-MM-dd'T'HH:mm:ss")

  def translateConvert(sql: String): String = {
    var cur = sql
    var rounds = 0
    while (rounds < 64) { // nesting bound; each round rewrites one call
      rounds += 1
      val msk = SqlLex.mask(cur)
      val heads = convertHeadRe.findAllMatchIn(msk).toList
      // a LEAF call's argument span contains no other CONVERT head —
      // walking right-to-left finds one whenever any call is left
      val rewritten = heads.reverseIterator.map { h =>
        val close = SqlLex.close(msk, h.end)
        if (close < 0) None // unbalanced — leave for spark.sql to reject
        else {
          val inner = cur.substring(h.end, close)
          if (convertHeadRe.findFirstIn(msk.substring(h.end, close)).isDefined)
            None // not a leaf this round
          else SqlLex.splitTop(inner) match {
            case tpe :: args if args.nonEmpty && args.length <= 2 =>
              val style = args.lift(1).flatMap(_.trim.toIntOption)
              val repl =
                if (charTypeRe.findFirstIn(tpe).isDefined && style.isDefined)
                  style.flatMap(dateStyleFmt.get)
                    .map(f => s"date_format(${args.head}, '$f')")
                else ScriptedSqlExecutor.sparkDdlType(tpe)
                  .map(t => s"CAST(${args.head} AS $t)")
              repl.map(r =>
                cur.substring(0, h.start) + r + cur.substring(close + 1))
            case _ => None
          }
        }
      }.collectFirst { case Some(next) => next }
      rewritten match {
        case Some(next) => cur = next
        case None => return cur
      }
    }
    cur
  }

  /** `GETDATE()` → `current_timestamp()` in unquoted segments — the
    * [[InsertValuesSqlCompiler]] mapping, shared with the SELECT path. */
  private val getDateRe = "(?i)\\bgetdate\\s*\\(\\s*\\)".r
  def translateGetdate(sql: String): String =
    SqlLex.mapCode(sql)(getDateRe.replaceAllIn(_, "current_timestamp()"))

  /** `text` without its comments (`kinds` covers at least `text`): a
    * line comment goes (its newline stays), a block comment leaves one
    * space, since it separates the tokens around it. */
  private def dropComments(text: String, kinds: Array[Int]): String = {
    val sb = new StringBuilder(text.length)
    for (i <- text.indices) kinds(i) match {
      case SqlLex.LineComment =>
      case SqlLex.BlockComment =>
        if (i == 0 || kinds(i - 1) != SqlLex.BlockComment) sb += ' '
      case _ => sb += text.charAt(i)
    }
    sb.result()
  }

  /** Normalized (newline-free) case: a `--` the lexer reads as a comment
    * start ends at the first statement keyword after it (the heuristic
    * above); lexing resumes there. */
  private def stripNormalized(sql: String): String = {
    val out = new StringBuilder
    var rest = sql
    while (rest.nonEmpty) {
      val kinds = SqlLex.kinds(rest)
      val c = kinds.indexOf(SqlLex.LineComment)
      out ++= dropComments(if (c < 0) rest else rest.substring(0, c), kinds)
      rest = if (c < 0) "" else stmtKeyword.findFirstMatchIn(rest.substring(c + 2))
        .fold("")(m => rest.substring(c + 2 + m.start))
    }
    out.result()
  }
}
