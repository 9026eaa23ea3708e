package graft.patterns

/** T-SQL `CROSS APPLY` / `OUTER APPLY` with a TOP-n correlated body —
  * the "latest row per key" source idiom (latest order per customer,
  * newest reading per sensor) that real SSIS source SELECTs lean on:
  *
  * {{{
  * SELECT a.c1, x.c2, ...
  * FROM <A> [AS] a {CROSS|OUTER} APPLY (
  *   SELECT TOP [(]n[)] <list>
  *   FROM <B> [AS] b
  *   WHERE b.k = a.k [AND ...]
  *   ORDER BY <ord>
  * ) [AS] x
  * [WHERE ... / GROUP BY ... — preserved verbatim]
  * }}}
  *
  * Translated to the ranked-join form Spark executes in parallel —
  * B ranked per correlation key by `ROW_NUMBER()` inside a derived
  * table, then joined (`JOIN` for CROSS, `LEFT JOIN` for OUTER) on the
  * correlation equalities plus `__graft_rn <= n`:
  *
  * {{{
  * ... FROM <A> AS a JOIN (
  *   SELECT <list>, b.k AS __graft_k0, ROW_NUMBER() OVER (
  *     PARTITION BY b.k ORDER BY <ord>) AS __graft_rn
  *   FROM <B> AS b [WHERE <local conjuncts>]
  * ) AS x ON x.__graft_k0 = a.k AND x.__graft_rn <= n ...
  * }}}
  *
  * The partition key is the correlation key — corpus-cardinality, so
  * the window parallelizes by construction (the low-cardinality
  * single-task hazard cannot arise: every APPLY correlates on the
  * outer row's key). The correlation columns ride the derived table
  * under synthetic names so the body's projection list stays exactly
  * the author's.
  *
  * Declined to manual review (never half-translated): more than one
  * APPLY, a body that is not `SELECT TOP n … FROM <one table> WHERE …
  * ORDER BY …` (no TOP = T-SQL would allow it, but the ranked-join
  * needs the bound; no ORDER BY = a nondeterministic top-1), a
  * correlated predicate that is not a two-side-qualified simple equality,
  * an outer-alias reference outside the WHERE (T-SQL allows correlated
  * projections; this translation does not), `*` / `x.*` in the outer
  * select list (they would leak the synthetic columns), quoted
  * identifiers, and subquery/join keywords inside clause bodies. */
object ApplySql {

  private val applyKwRe = "(?i)\\b(?:cross|outer)\\s+apply\\b".r
  private val fromApplyRe =
    ("(?is)\\bfrom\\s+([^\\s;()]+)\\s+(?:as\\s+)?(\\w+)\\s+" +
      "(cross|outer)\\s+apply\\s*\\(").r
  private val bodyRe =
    ("(?is)^\\s*select\\s+top\\s*\\(?\\s*(\\d+)\\s*\\)?\\s+(.+?)\\s+" +
      "from\\s+([^\\s;()]+)\\s+(?:as\\s+)?(\\w+)\\s+where\\s+(.+?)\\s+" +
      "order\\s+by\\s+(.+?)\\s*$").r
  private val aliasRe = "(?is)^\\s*(?:as\\s+)?(\\w+)".r
  private val eqRe = "(?is)^\\s*(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)\\s*$".r
  private val bodyKeywordRe =
    "(?i)\\b(select|insert|update|delete|merge|join|union|group|having)\\b".r

  /** `None` — no APPLY in the text, use it as-is. `Some(Right(t))` —
    * canonical, `t` is the translated SQL. `Some(Left(reason))` — an
    * APPLY is present but off-shape: the CALLER must decline the task
    * (compiling the raw text would hand Spark syntax it cannot parse). */
  def translate(select: String): Option[Either[String, String]] = {
    val msk = SqlLex.mask(select)
    if (applyKwRe.findFirstIn(msk).isEmpty) None
    else Some(doTranslate(select, msk))
  }

  private def doTranslate(sql: String, msk: String): Either[String, String] = {
    if (applyKwRe.findAllMatchIn(msk).size > 1)
      return Left("more than one APPLY")
    val m = fromApplyRe.findFirstMatchIn(msk).getOrElse(
      return Left("APPLY outside the canonical FROM <table> <alias> APPLY (…) shape"))
    val (aTbl, aA, dir) =
      (sql.substring(m.start(1), m.end(1)), sql.substring(m.start(2), m.end(2)),
        msk.substring(m.start(3), m.end(3)).toLowerCase)
    val close = SqlLex.close(msk, m.end)
    if (close < 0) return Left("unbalanced APPLY body")
    val (bodyRaw, after) = (sql.substring(m.end, close), close + 1)
    val bodyMsk = msk.substring(m.end, close)
    val bm = bodyRe.findFirstMatchIn(bodyMsk).getOrElse(
      return Left("APPLY body is not SELECT TOP n … FROM <one table> " +
        "<alias> WHERE … ORDER BY …"))
    def bg(i: Int): String = bodyRaw.substring(bm.start(i), bm.end(i))
    val (n, list, bTbl, bA, whereB, ordB) =
      (bg(1), bg(2), bg(3), bg(4), bg(5), bg(6))
    val am = aliasRe.findFirstMatchIn(msk.substring(after)).getOrElse(
      return Left("the APPLY body needs an alias"))
    val xA = sql.substring(after + am.start(1), after + am.end(1))
    val suffix = sql.substring(after + am.end)

    val q = java.util.regex.Pattern.quote _
    val outerRef = ("(?i)\\b" + q(aA) + "\\.").r
    def refsOuter(s: String): Boolean =
      outerRef.findFirstIn(SqlLex.mask(s)).isDefined
    // classify WHERE conjuncts: correlated equalities become join keys,
    // b-local predicates stay inside the derived table
    val corr = List.newBuilder[(String, String)] // (bCol, aCol)
    val locals = List.newBuilder[String]
    // conjuncts: split on top-level AND (outside parens and literals)
    SqlLex.splitTop(whereB, "(?i)\\band\\b".r).foreach { c =>
      if (!refsOuter(c)) locals += c
      else c match {
        case eqRe(la, lc, ra, rc)
            if la.equalsIgnoreCase(bA) && ra.equalsIgnoreCase(aA) =>
          corr += ((lc, rc))
        case eqRe(la, lc, ra, rc)
            if la.equalsIgnoreCase(aA) && ra.equalsIgnoreCase(bA) =>
          corr += ((rc, lc))
        case _ =>
          return Left(s"correlated predicate is not a simple " +
            s"two-side-qualified equality: $c")
      }
    }
    val corrL = corr.result()
    val localL = locals.result()
    if (corrL.isEmpty) return Left("no correlated equality in the APPLY WHERE")
    if (refsOuter(list) || refsOuter(ordB) || localL.exists(refsOuter))
      return Left("outer-alias reference outside the APPLY WHERE")
    if (Seq(list, whereB, ordB).exists(
        MergeSqlCompiler.bodyDisqualified(_, bodyKeywordRe)))
      return Left("APPLY clause bodies must stay expression-only")
    // the outer select list may not be * / x.* — they would leak the
    // synthetic rank/key columns into the output
    val head = SqlLex.mask(sql.substring(0, m.start))
    if (("(?i)(?:^|[\\s,(])\\*".r.findFirstIn(head).isDefined) ||
      ("(?i)\\b" + q(xA) + "\\s*\\.\\s*\\*").r.findFirstIn(head).isDefined)
      return Left("star select with APPLY would leak synthetic columns")

    val keyCols = corrL.zipWithIndex
      .map { case ((bc, _), i) => s"$bA.$bc AS __graft_k$i" }
    val partCols = corrL.map { case (bc, _) => s"$bA.$bc" }
    val localWhere =
      if (localL.isEmpty) "" else localL.mkString(" WHERE ", " AND ", "")
    val derived =
      s"(SELECT $list, ${keyCols.mkString(", ")}, ROW_NUMBER() OVER (" +
        s"PARTITION BY ${partCols.mkString(", ")} ORDER BY $ordB) AS " +
        s"__graft_rn FROM $bTbl AS $bA$localWhere) AS $xA"
    val onCond = (corrL.zipWithIndex.map { case ((_, ac), i) =>
      s"$xA.__graft_k$i = $aA.$ac"
    } :+ s"$xA.__graft_rn <= $n").mkString(" AND ")
    val joinKw = if (dir == "outer") "LEFT JOIN" else "JOIN"
    Right(sql.substring(0, m.start) +
      s"FROM $aTbl AS $aA $joinKw $derived ON $onCond" + suffix)
  }
}
