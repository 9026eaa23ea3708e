package graft.patterns

import java.math.{BigDecimal => JBigDecimal, BigInteger, MathContext, RoundingMode}

/** Constant-folds a T-SQL `'…' + CAST(… AS VARCHAR(n)) + …` string
  * concatenation to the exact text T-SQL produces, or None (manual
  * review). This is the static half of the concatenated-dynamic-SQL
  * idiom (`EXEC('DELETE FROM t WHERE k = ' + CAST(@id AS VARCHAR(10)))`
  * and `SET @sql = '…' + …; EXEC(@sql)`): by the time a script
  * statement reaches the fold, [[ScriptedSqlExecutor]]'s bindVars has
  * already replaced declared @variables with typed literals, so every
  * ownable fragment is a compile-time constant. The reference's
  * analyzer sends every EXEC to manual review
  * (ssis-to-dbt `src/parser/sql_analyzer.py` treats EXEC as opaque).
  *
  * Fragment grammar (anything else → None — bare numerics in a concat
  * are a T-SQL implicit-conversion ERROR, not a concatenation; NULL
  * propagates NULL and is not a statement):
  *   - `N?'…'` string literal
  *   - `CAST(<inner> AS [N][VAR]CHAR[(n|MAX)])`
  *   - `CONVERT([N][VAR]CHAR[(n|MAX)], <inner>)` with NO style argument
  *     (styles change date/float text forms this fold does not model)
  * where `<inner>` is a string literal, an integer or decimal literal,
  * or one level of the executor's own decimal binding
  * `CAST(<numeric literal> AS DECIMAL(p,s))` (rescaled HALF_UP — T-SQL
  * rounds away from zero — and declined on precision overflow).
  *
  * T-SQL text-rendering contracts folded exactly:
  *   - a missing char length in CAST/CONVERT is length **30** (T-SQL's
  *     documented default for these forms), `MAX` is unbounded;
  *   - a STRING source silently TRUNCATES to the target length
  *     (explicit CAST/CONVERT never raises 8152);
  *   - a NUMERIC rendering longer than the target length is T-SQL
  *     error 8115 (insufficient result space) → the fold declines;
  *   - integer literals render canonically (`007` → `7`, `+5` → `5`);
  *   - decimal literals render at their OWN scale (`1.50` → "1.50",
  *     `.5` → "0.5"), and a DECIMAL(p,s) cast re-scales first.
  */
object TsqlConcatFold {

  private val strLitRe = "(?is)^N?'.*'$".r
  private val castRe =
    ("(?is)^cast\\s*\\((.+)\\s+as\\s+(n?(?:var)?char)" +
      "(?:\\s*\\(\\s*(\\d+|max)\\s*\\))?\\s*\\)$").r
  private val convertRe =
    ("(?is)^convert\\s*\\(\\s*(n?(?:var)?char)" +
      "(?:\\s*\\(\\s*(\\d+|max)\\s*\\))?\\s*,\\s*(.+)\\)$").r
  private val intLitRe = "(?s)^[+-]?\\d+$".r
  private val decLitRe = "(?s)^[+-]?(?:\\d+\\.\\d*|\\.\\d+)$".r
  private val decCastRe =
    ("(?is)^cast\\s*\\(\\s*([+-]?(?:\\d+(?:\\.\\d*)?|\\.\\d+))\\s+as\\s+" +
      "(?:decimal|numeric)\\s*\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)\\s*\\)$").r

  private def unescape(lit: String): String = {
    val body = lit.trim.replaceFirst("(?is)^N", "")
    body.substring(1, body.length - 1).replace("''", "'")
  }

  /** Render `<inner>` as T-SQL text → (text, cameFromString). */
  private def renderInner(raw: String): Option[(String, Boolean)] = {
    val t = raw.trim
    val msk = SqlLex.mask(t)
    if (strLitRe.findFirstIn(msk).isDefined &&
        !msk.substring(msk.indexOf('\'') + 1, msk.lastIndexOf('\''))
          .contains('\''))
      Some((unescape(t), true))
    else if (intLitRe.findFirstIn(t).isDefined)
      Some((new BigInteger(t.stripPrefix("+")).toString, false))
    else if (decLitRe.findFirstIn(t).isDefined)
      Some((new JBigDecimal(t.stripPrefix("+")).toPlainString, false))
    else decCastRe.findFirstMatchIn(t) match {
      case Some(m) =>
        val p = m.group(2).toInt
        val s = m.group(3).toInt
        val scaled = new JBigDecimal(m.group(1).stripPrefix("+"), MathContext.UNLIMITED)
          .setScale(s, RoundingMode.HALF_UP)
        // T-SQL 8115 on integer-digit overflow: decline, never clip
        if (scaled.precision - scaled.scale > p - s ||
            scaled.precision > 38) None
        else Some((scaled.toPlainString, false))
      case None => None
    }
  }

  /** One fragment → its folded text, or None. */
  private def foldFragment(raw: String): Option[String] = {
    val t = raw.trim
    val msk = SqlLex.mask(t)
    def toChar(inner: String, lenSpec: Option[String]): Option[String] =
      renderInner(inner).flatMap { case (txt, fromString) =>
        lenSpec.map(_.toLowerCase) match {
          case Some("max") => Some(txt)
          case other =>
            val n = other.map(_.toInt).getOrElse(30) // T-SQL CAST default
            // silent truncation, surrogate-pair-safe ([[SqlText.charTrunc]])
            if (fromString) Some(SqlText.charTrunc(txt, n))
            else if (txt.length > n) None // 8115 insufficient space
            else Some(txt)
        }
      }
    if (strLitRe.findFirstIn(msk).isDefined &&
        !msk.substring(msk.indexOf('\'') + 1, msk.lastIndexOf('\''))
          .contains('\''))
      Some(unescape(t))
    else castRe.findFirstMatchIn(msk) match {
      case Some(m) =>
        toChar(t.substring(m.start(1), m.end(1)), Option(m.group(3)))
      case None => convertRe.findFirstMatchIn(msk) match {
        case Some(m) =>
          val inner = t.substring(m.start(3), m.end(3))
          // a top-level comma in the value slot is a STYLE argument
          if (SqlLex.splitTop(inner).size != 1) None
          else toChar(inner, Option(m.group(2)))
        case None => None
      }
    }
  }

  /** Fold a top-level `+` concatenation (TWO or more fragments — a
    * single literal is [[ExecLiteralSqlCompiler]]'s existing class) to
    * the exact T-SQL result text, or None. */
  def fold(raw: String): Option[String] = {
    // top-level `+` cuts (outside literals and parens)
    val parts = SqlLex.pieces(raw, "\\+".r)
    if (parts.size < 2) return None
    // a unary `+`/empty slice means the `+` was arithmetic, not concat
    if (parts.exists(_.trim.isEmpty)) return None
    val folded = parts.map(foldFragment)
    if (folded.exists(_.isEmpty)) None else Some(folded.flatten.mkString)
  }
}
