package graft.patterns

import scala.util.matching.Regex

/** The one T-SQL lexer: which characters of a statement are code.
  *
  * One state machine over six states: code, a `'…'` string literal
  * (`''` escapes a quote; `N'…'` is the code char `N`, then a literal),
  * a `[…]` identifier (`]]` escapes a bracket), a `"…"` identifier (`""`
  * escapes a quote: QUOTED_IDENTIFIER ON, the T-SQL default), a `--` line
  * comment (the newline that ends it is code) and a `/* … */` block
  * comment, nested as T-SQL nests them. An unterminated literal,
  * identifier or comment runs to the end of the text. Both identifier
  * forms keep their delimiters in the mask
  * ([[MergeSqlCompiler.hasQuotedIdentifier]] declines on them).
  *
  * Compilers scan the [[mask]] for keywords and structure and slice the
  * original text by the same spans; paren depth is counted only here,
  * over a mask. */
object SqlLex {

  final val Code = 0
  final val Lit = 1
  final val Ident = 2
  final val LineComment = 3
  final val BlockComment = 4
  final val QuotedIdent = 5

  /** A character an identifier keeps visible in the mask: name
    * lookups (`[#t]`, a cursor's `[main].[ord]`) read it there. */
  private def nameChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '#'

  /** The state of every character, and the mask, in one pass. */
  private def scan(text: String): (Array[Int], String) = {
    val n = text.length
    val k = new Array[Int](n)
    val m = new Array[Char](n)
    var st = Code; var nest = 0; var i = 0
    def at(j: Int, c: Char) = j < n && text.charAt(j) == c
    def put(ch: Char, w: Int = 1): Unit = {
      val end = i + w
      while (i < end) { k(i) = st; m(i) = ch; i += 1 }
    }
    while (i < n) {
      val c = text.charAt(i)
      st match {
        case Code =>
          if (c == '\'') { st = Lit; put(c) }
          else if (c == '[') { st = Ident; put(c) }
          else if (c == '"') { st = QuotedIdent; put(c) }
          else if (c == '-' && at(i + 1, '-')) { st = LineComment; put(' ', 2) }
          else if (c == '/' && at(i + 1, '*')) { st = BlockComment; nest = 1; put(' ', 2) }
          else put(c)
        case Lit | Ident | QuotedIdent =>
          val q = st match { case Lit => '\'' case Ident => ']' case _ => '"' }
          if (c != q) put(if (st != Lit && nameChar(c)) c else 'x')
          else if (at(i + 1, q)) put('x', 2)
          else { put(c); st = Code }
        case LineComment =>
          if (c == '\n') st = Code
          put(if (st == Code) c else ' ')
        case _ =>
          if (c == '*' && at(i + 1, '/')) {
            put(' ', 2); nest -= 1; if (nest == 0) st = Code
          } else if (c == '/' && at(i + 1, '*')) { put(' ', 2); nest += 1 }
          else put(' ')
      }
    }
    (k, new String(m))
  }

  /** The state (Code, Lit, Ident, LineComment, BlockComment, QuotedIdent)
    * of every character of `text`. */
  def kinds(text: String): Array[Int] = scan(text)._1

  /** `text` with the content of every literal replaced by `x`s, every
    * identifier's non-name characters (`;`, `-`, `?`, `(`, space, …) by
    * `x`s (delimiters kept) and every comment by spaces: the same
    * length, so a match span on the mask slices the original. A bracketed
    * keyword shows only as a whole `[word]`; a scan that must not read
    * it as a keyword rules out the `[` before it. */
  def mask(text: String): String = scan(text)._2

  /** Paren depth of a mask before each position (`length + 1` entries;
    * 0 = top level). */
  def depths(msk: String): Array[Int] = {
    val d = new Array[Int](msk.length + 1)
    for (i <- msk.indices)
      d(i + 1) = d(i) + (msk.charAt(i) match { case '(' => 1 case ')' => -1 case _ => 0 })
    d
  }

  /** Index of the `)` closing the paren opened just before `from` in a
    * mask, or -1 when it never closes. */
  def close(msk: String, from: Int): Int = walk(msk, from, 1, '(', ')')

  /** Index of the `(` opening the paren that `close` (a `)` of a mask)
    * closes, or -1. */
  def open(msk: String, close: Int): Int = walk(msk, close - 1, -1, ')', '(')

  /** The text enclosed by the paren opened just before `from` (`msk` is
    * the mask of `text`), and the index just past its close paren; None
    * when it never closes. */
  def enclosed(text: String, msk: String, from: Int): Option[(String, Int)] =
    Some(close(msk, from)).filter(_ >= 0)
      .map(c => (text.substring(from, c), c + 1))

  private def walk(msk: String, from: Int, step: Int, in: Char, out: Char): Int = {
    var d = 1; var i = from
    while (i >= 0 && i < msk.length) {
      val c = msk.charAt(i)
      if (c == in) d += 1
      else if (c == out) { d -= 1; if (d == 0) return i }
      i += step
    }
    -1
  }

  private val comma = ",".r

  /** The pieces of `text` between the matches of `sep` on its mask,
    * untrimmed (a separator at either end, or two in a row, leaves an
    * empty piece); with `top`, only matches at paren depth 0 cut. */
  def pieces(text: String, sep: Regex, top: Boolean = true): List[String] = {
    val msk = mask(text)
    lazy val d = depths(msk)
    val cuts = sep.findAllMatchIn(msk).filter(m => !top || d(m.start) == 0)
      .flatMap(m => List(m.start, m.end)).toList
    (0 :: cuts ::: List(text.length)).grouped(2)
      .map(ab => text.substring(ab(0), ab(1))).toList
  }

  /** Split on depth-0 separators (commas by default): trimmed, blank
    * pieces dropped. */
  def splitTop(text: String, sep: Regex = comma): List[String] =
    pieces(text, sep).map(_.trim).filter(_.nonEmpty)

  /** `text` with `f` applied to every maximal run outside string
    * literals (literals pass through; identifiers and comments ride in
    * the runs, so `f` may rewrite a `[name]`). */
  def mapCode(text: String)(f: String => String): String = {
    val k = kinds(text)
    val sb = new StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val lit = k(i) == Lit
      var j = i + 1
      while (j < text.length && (k(j) == Lit) == lit) j += 1
      sb ++= (if (lit) text.substring(i, j) else f(text.substring(i, j)))
      i = j
    }
    sb.result()
  }
}
