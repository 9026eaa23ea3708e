package graft.patterns

/** The T-SQL group-concat idiom —
  * `STUFF((SELECT '<sep>' + <expr> FROM … [WHERE …] ORDER BY <key>
  * FOR XML PATH('')), 1, <len(sep)>, '')` — pre-2017 T-SQL's only
  * string aggregation spelling, everywhere in estate reporting SQL
  * (STRING_AGG arrived in SQL Server 2017; the reference's estates
  * predate it). The correlated subquery builds "sep+item" per row and
  * STUFF strips the leading separator.
  *
  * Translation: the whole STUFF span becomes a correlated scalar
  * subquery Spark executes natively —
  * `(SELECT array_join(transform(array_sort(collect_list(struct(<key>
  * AS __gxo, <expr> AS __gxe))), s -> s.__gxe), '<sep>') FROM …)` —
  * the collect is per correlation group, the struct sort realizes the
  * ORDER BY with `<expr>` as the deterministic tiebreak (T-SQL leaves
  * tie order unspecified; the oracle orders `key, expr` to match).
  *
  * Owned only when the shape is exactly canonical: a string-literal
  * separator whose LENGTH equals the STUFF start-strip argument (that
  * equality is what makes STUFF "strip the first separator" — any
  * other arithmetic changes the semantics), a single `+` joining
  * separator and item (a multi-`+` item is T-SQL string concat Spark
  * would evaluate arithmetically), a mandatory single-key ascending
  * ORDER BY (without it the concatenation order — and therefore the
  * RESULT — is undefined in T-SQL), `FOR XML PATH('')` with the empty
  * path, and `''` as the STUFF replacement. Any other FOR XML
  * (AUTO/RAW/non-empty PATH, TYPE/.value(), no STUFF wrapper,
  * DESC order) is genuine XML shaping → Left, manual review. */
object XmlPathAgg {

  private val forXmlRe = "(?i)\\bfor\\s+xml\\b".r
  private val stuffHeadRe = "(?is)\\bstuff\\s*\\(".r
  private val innerRe =
    ("(?is)^\\(\\s*select\\s+(N?'[^']*')\\s*\\+\\s*(.+?)\\s+from\\s+" +
      "(.+?)\\s+order\\s+by\\s+(.+?)(?:\\s+asc)?\\s+for\\s+xml\\s+" +
      "path\\s*\\(\\s*''\\s*\\)\\s*\\)\\s*,\\s*1\\s*,\\s*(\\d+)\\s*," +
      "\\s*N?''\\s*$").r

  /** None = no FOR XML anywhere (text untouched); Right = every FOR
    * XML was the canonical STUFF group-concat, translated; Left = an
    * off-shape FOR XML survives → the statement must decline. */
  def translate(sqlRaw: String): Option[Either[Unit, String]] = {
    var cur = sqlRaw
    if (forXmlRe.findFirstIn(SqlLex.mask(cur)).isEmpty)
      return None
    var rounds = 0
    var changed = true
    while (changed && rounds < 16) {
      rounds += 1
      changed = false
      val msk = SqlLex.mask(cur)
      // innermost-first: walk heads right-to-left; a head whose span
      // still contains another STUFF is skipped this round
      val heads = stuffHeadRe.findAllMatchIn(msk).toList.reverseIterator
      for (h <- heads if !changed) {
        // balanced span of STUFF's argument list on the masked twin
        val close = SqlLex.close(msk, h.end)
        if (close >= 0) {
          val argsMsk = msk.substring(h.end, close)
          val argsRaw = cur.substring(h.end, close)
          innerRe.findFirstMatchIn(argsMsk).foreach { m =>
            def g(k: Int): String =
              argsRaw.substring(m.start(k), m.end(k)).trim
            val sepLit = g(1).replaceFirst("(?is)^N", "")
            val sep = sepLit.substring(1, sepLit.length - 1).replace("''", "'")
            val expr = g(2)
            val fromWhere = g(3)
            val ord = g(4)
            val strip = m.group(5).toInt
            // the strip length must equal the separator's — that
            // equality IS the idiom; a single ORDER BY key; the item
            // expression must carry no further top-level '+' (T-SQL
            // concat Spark would read as arithmetic)
            val exprMsk = argsMsk.substring(m.start(2), m.end(2))
            val ordMsk = argsMsk.substring(m.start(4), m.end(4))
            def plusFree(s: String): Boolean = SqlLex.pieces(s, "\\+".r).size == 1
            if (strip == sep.length && sep.nonEmpty &&
                plusFree(exprMsk) && plusFree(ordMsk) &&
                !ordMsk.contains(",") &&
                "(?i)\\bdesc\\b".r.findFirstIn(ordMsk).isEmpty) {
              val sepSpark = "'" + sep.replace("\\", "\\\\")
                .replace("'", "\\'") + "'"
              val repl = s"(SELECT array_join(transform(array_sort(" +
                s"collect_list(struct($ord AS __gxo, $expr AS __gxe)))," +
                s" s -> s.__gxe), $sepSpark) FROM $fromWhere)"
              cur = cur.substring(0, h.start) + repl + cur.substring(close + 1)
              changed = true
            }
          }
        }
      }
    }
    if (forXmlRe.findFirstIn(SqlLex.mask(cur)).isDefined)
      Some(Left(()))
    else Some(Right(cur))
  }
}
