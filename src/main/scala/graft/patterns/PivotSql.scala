package graft.patterns

/** T-SQL `PIVOT` → Spark `PIVOT` surface translation. The relational
  * operation is identical in both dialects; only the IN-list spelling
  * differs — T-SQL names each pivoted value as a (bracketed)
  * IDENTIFIER that doubles as the output column name
  * (`PIVOT (SUM(v) FOR c IN ([O], [F])) p`), Spark takes typed value
  * literals with aliases (`PIVOT (SUM(v) FOR c IN ('O' AS O, 'F' AS
  * F))`) and no result alias. The translation rewrites each `[X]` /
  * bare `X` item to `'X' AS X`, strips the T-SQL result alias, and
  * rewrites `[X]` references to the pivoted columns in the rest of
  * the statement (backtick-quoted when `X` is not a plain
  * identifier).
  *
  * Two T-SQL comparison contracts ride along (r15):
  *
  * '''Collation.''' T-SQL compares the pivot column to each IN name
  * under the column collation — case-INsensitive in default estates —
  * while Spark literals compare case-sensitively. When any IN value
  * carries a letter, the pivot SOURCE is wrapped as
  * `(SELECT * EXCEPT (c), upper(c) AS c FROM <source>)` and the
  * value literals upper-case, so `'o'` rows land in the `[O]` column
  * exactly as a default-collation estate folds them. The wrap
  * replaces the column in place (star-EXCEPT), so the implicit
  * group-by column set — everything but the agg arg and the pivot
  * column — is unchanged. Letter-bearing values whose source relation
  * the rewriter cannot isolate (a join before PIVOT, a qualified
  * pivot column) decline rather than ship the case-sensitive
  * divergence.
  *
  * '''Typed values.''' A non-identifier IN name like `[1995]` or
  * `[US-West]` compares by the pivot COLUMN's type in T-SQL (the
  * identifier text converts to it). Spark's pivot casts the value
  * literal to the column type the same way, so each such name emits
  * as a STRING literal with a backtick-quoted alias — `'1995' AS
  * \`1995\`` matches an INT year column and a VARCHAR code column
  * alike, exactly the T-SQL conversion direction.
  *
  * Owned only when: exactly ONE PIVOT, exactly one UNPIVOT (see
  * [[translateUnpivot]]), or (r16) exactly one of EACH chained as
  * postfix table operators — Spark's FROM clause accepts the same
  * chain, so the two legs rewrite sequentially in source order. */
object PivotSql {

  private val pivotHeadRe = "(?is)\\bpivot\\s*\\(".r
  private val unpivotRe = "(?i)\\bunpivot\\b".r
  private val innerRe =
    "(?is)^\\s*(\\w+\\s*\\(.+\\))\\s+for\\s+([\\w.\\[\\]]+)\\s+in\\s*\\((.+)\\)\\s*$".r
  private val itemRe = "(?s)^(?:\\[([^\\]]+)\\]|([A-Za-z_]\\w*))$".r
  private val plainIdentRe = "(?s)^[A-Za-z_]\\w*$".r
  private val stopWords = Set("where", "group", "order", "having", "union",
    "limit", "on", "join", "inner", "left", "right", "full", "cross",
    "pivot", "unpivot", "for", "except", "intersect", "option", "select",
    "from", "top", "offset", "fetch")

  /** The value's output-column spelling: bare when a plain
    * identifier, backtick-quoted otherwise; None when unquotable. */
  private def aliasOf(v: String): Option[String] =
    if (plainIdentRe.findFirstIn(v).isDefined) Some(v)
    else if (v.contains("`")) None
    else Some(s"`$v`")

  /** Rewrite a `[X]` reference outside string literals. */
  private def deref(seg: String, v: String): String =
    aliasOf(v).map(a => seg.replace(s"[$v]", a)).getOrElse(seg)

  /** True iff the relation introduced at `introStart` by token
    * `introTok` is the statement's SOLE top-level relation: introduced
    * by FROM (never a join tail) with no other FROM/JOIN/APPLY token at
    * paren depth zero before it. Wrapping the TAIL of a join
    * (`FROM t CROSS JOIN u PIVOT …` matches `JOIN u`) would upper-case
    * only u while the pivot column may live on t — SQL the ledger
    * already classified 'converted' would then fail at Spark analysis;
    * the scaladoc promises joins decline, so classification and
    * execution must stay aligned. CTE bodies and select-list subqueries
    * sit inside parens (depth > 0 on the masked text) and don't count. */
  private def soleTopLevelRelation(preMsk: String, introStart: Int,
      introTok: String): Boolean = {
    if (!introTok.equalsIgnoreCase("from")) return false
    val depth = SqlLex.depths(preMsk)
    "(?i)\\b(from|join|apply)\\b".r.findAllMatchIn(preMsk)
      .forall(tk => tk.start >= introStart || depth(tk.start) > 0)
  }

  /** Wrap the relation immediately before the PIVOT head in the
    * upper-casing projection (collation fold — see scaladoc). Owned
    * source shapes: `FROM (sub) [AS] alias`, `FROM (sub)`,
    * `FROM table [AS] alias`, `FROM table` — and (r17) any of those
    * carrying a postfix UNPIVOT, the already-translated leg of the
    * owned chain, in which case the wrap subsumes the WHOLE
    * `<rel> UNPIVOT (…)` span (the pivot column may exist only AFTER
    * the unpivot — its name column, or a pass-through — so wrapping
    * less would re-case the wrong relation). Every shape only when
    * the relation is the statement's sole top-level one
    * ([[soleTopLevelRelation]]); anything else (a join tail, an
    * APPLY, …) returns None. */
  private def wrapSource(pre: String, preMsk: String,
      pcol: String): Option[String] = {
    val subTailRe = "(?is)\\)\\s*(?:as\\s+)?([A-Za-z_]\\w*)?\\s*$".r
    val tblTailRe =
      ("(?is)\\b(from|join)\\s+([\\w.\\[\\]]+)" +
        "(?:\\s+(?:as\\s+)?([A-Za-z_]\\w*))?\\s*$").r
    def wrapped(rel: String, alias: Option[String]): String = {
      val inner = s"SELECT * EXCEPT ($pcol), upper($pcol) AS $pcol " +
        s"FROM $rel${alias.fold("")(" " + _)}"
      s"($inner)${alias.fold("")(" " + _)} "
    }
    // the chained case: the pre ends with the Spark-spelled UNPIVOT
    // leg (its result alias already stripped by translateUnpivot).
    // Find the relation the UNPIVOT postfixes with the same two tail
    // shapes, then wrap the whole chain as one derived table:
    // `(SELECT * EXCEPT (c), upper(c) AS c FROM
    //    (SELECT * FROM <rel> UNPIVOT (…))) `
    // (an UNPIVOT that is NOT the pre's tail — e.g. inside a derived
    // table — is not the chain; fall through to the plain shapes)
    unpivotHeadRe.findFirstMatchIn(preMsk)
      .map(um => (um, SqlLex.close(preMsk, um.end) + 1))
      .filter { case (_, close) => close > 0 && preMsk.substring(close).trim.isEmpty } match {
      case Some((um, close)) =>
        val prefix = preMsk.substring(0, um.start)
        val relStart = subTailRe.findFirstMatchIn(prefix) match {
          case Some(tm) =>
            if (Option(tm.group(1)).exists(a => stopWords(a.toLowerCase)))
              return None
            val openIdx = SqlLex.open(prefix, tm.start)
            if (openIdx < 0) return None
            val intro = "(?is)\\b(from|join)\\s*$".r
              .findFirstMatchIn(prefix.substring(0, openIdx))
              .getOrElse(return None)
            if (!soleTopLevelRelation(preMsk, intro.start, intro.group(1)))
              return None
            openIdx
          case None =>
            val tm = tblTailRe.findFirstMatchIn(prefix).getOrElse(return None)
            if (!soleTopLevelRelation(preMsk, tm.start, tm.group(1)))
              return None
            tm.start(2)
        }
        val chain = pre.substring(relStart, close)
        return Some(pre.substring(0, relStart) +
          s"(SELECT * EXCEPT ($pcol), upper($pcol) AS $pcol " +
          s"FROM (SELECT * FROM $chain)) ")
      case None => ()
    }
    subTailRe.findFirstMatchIn(preMsk) match {
      case Some(tm) =>
        val alias = Option(tm.group(1))
        if (alias.exists(a => stopWords(a.toLowerCase))) return None
        val openIdx = SqlLex.open(preMsk, tm.start)
        if (openIdx < 0) return None
        // the derived table must sit directly in the statement's sole
        // top-level FROM slot (never a join tail)
        val intro = "(?is)\\b(from|join)\\s*$".r
          .findFirstMatchIn(preMsk.substring(0, openIdx))
          .getOrElse(return None)
        if (!soleTopLevelRelation(preMsk, intro.start, intro.group(1)))
          return None
        val rel = pre.substring(openIdx, tm.start + 1)
        Some(pre.substring(0, openIdx) + wrapped(rel, alias))
      case None =>
        tblTailRe.findFirstMatchIn(preMsk).flatMap { tm =>
          if (!soleTopLevelRelation(preMsk, tm.start, tm.group(1))) None
          else {
            val alias = Option(tm.group(3)).filterNot(a =>
              stopWords(a.toLowerCase))
            val rel = pre.substring(tm.start(2), tm.end(2))
            Some(pre.substring(0, tm.start(2)) + wrapped(rel, alias))
          }
        }
    }
  }

  /** None = no PIVOT (text untouched); Right = translated; Left = a
    * PIVOT/UNPIVOT this translation does not own. */
  private val unpivotHeadRe = "(?is)\\bunpivot\\s*\\(".r
  private val unpivotInnerRe =
    "(?is)^\\s*(\\[?\\w+\\]?)\\s+for\\s+(\\[?\\w+\\]?)\\s+in\\s*\\((.+)\\)\\s*$".r

  /** T-SQL `UNPIVOT (v FOR s IN ([c1], [c2])) u` → Spark's
    * `UNPIVOT ((v) FOR s IN ((c1), (c2)))` — the same operator with
    * the same NULL-dropping default (T-SQL always drops NULL measure
    * values; Spark's UNPIVOT excludes them unless INCLUDE NULLS); the
    * name column takes the column text as written in both dialects. */
  private def translateUnpivot(sqlRaw: String,
      msk0: String): Either[Unit, String] = {
    val heads = unpivotHeadRe.findAllMatchIn(msk0).toList
    if (heads.length != 1) return Left(())
    val h = heads.head
    val i = SqlLex.close(msk0, h.end) + 1
    if (i == 0) return Left(())
    val argsRaw = sqlRaw.substring(h.end, i - 1)
    val m = unpivotInnerRe.findFirstMatchIn(
      msk0.substring(h.end, i - 1)).getOrElse(return Left(()))
    def g(k: Int): String =
      argsRaw.substring(m.start(k), m.end(k)).trim.replaceAll("[\\[\\]]", "")
    val (vcol, ncol) = (g(1), g(2))
    // the mask shows `[a b]` as `[axb]`: check the names as written
    if (!Seq(vcol, ncol).forall(_.matches("\\w+"))) return Left(())
    val items = SqlLex.splitTop(g(3)).map(_.trim)
    val cols = items.map(it => itemRe.findFirstMatchIn(it)
      .map(im => Option(im.group(1)).getOrElse(im.group(2)))
      .filter(c => plainIdentRe.findFirstIn(c).isDefined))
    if (cols.isEmpty || cols.exists(_.isEmpty)) return Left(())
    val inList = cols.flatten.map(c => s"($c)").mkString(", ")
    val after0 = sqlRaw.substring(i)
    val afterMsk = msk0.substring(i)
    val aliasRe = "(?is)^\\s*(?:as\\s+)?([A-Za-z_]\\w*)".r
    val after = aliasRe.findFirstMatchIn(afterMsk) match {
      case Some(am) if !stopWords(am.group(1).toLowerCase) =>
        after0.substring(am.end)
      case _ => after0
    }
    val out = sqlRaw.substring(0, h.start) +
      s"UNPIVOT (($vcol) FOR $ncol IN ($inList))" + after
    // debracket [X] references to the unpivoted names elsewhere
    val names = cols.flatten ++ Seq(vcol, ncol)
    Right(SqlLex.mapCode(out)(seg =>
      names.foldLeft(seg)((s, v) => s.replace(s"[$v]", v))))
  }

  /** None = no PIVOT and no UNPIVOT (text untouched); Right =
    * translated; Left = a shape this translation does not own. One
    * PIVOT alone, one UNPIVOT alone, or (r16) exactly ONE of each
    * chained as postfix table operators — the two legs rewrite
    * SEQUENTIALLY in source order (each leg's own gates still apply;
    * both aliasRe stop-word lists already refuse to eat the other
    * operator's keyword as a result alias, and a collation fold whose
    * pivot source is the chained UNPIVOT wraps the WHOLE
    * `<rel> UNPIVOT (…)` span — r17; wrapSource's chained case). */
  def translate(sqlRaw: String): Option[Either[Unit, String]] = {
    val msk0 = SqlLex.mask(sqlRaw)
    val unpivotHeads = unpivotHeadRe.findAllMatchIn(msk0).toList
    val hasUnpivot = unpivotRe.findFirstIn(msk0).isDefined
    val heads = pivotHeadRe.findAllMatchIn(msk0).toList
    if (heads.isEmpty && !hasUnpivot) return None
    if (heads.length > 1) return Some(Left(()))
    if (!hasUnpivot) return Some(translatePivot(sqlRaw, msk0, heads.head))
    if (heads.isEmpty) return Some(translateUnpivot(sqlRaw, msk0))
    // exactly one PIVOT and one UNPIVOT (r16): owned ONLY as a true
    // chain — the second operator directly follows the first's close
    // (result alias alone may sit between), and after the second close
    // only a result alias and an ordinary clause follow. Anything
    // looser (the operators in sibling relations of a join, a join
    // after the chain) keeps the decline: T-SQL binds a postfix
    // operator to its preceding relation while Spark's FROM clause
    // attaches the operator to the WHOLE join tree, so rewriting a
    // non-chain would silently change the grouping input.
    if (unpivotHeads.length != 1) return Some(Left(()))
    val (p, u) = (heads.head, unpivotHeads.head)
    val (first, second) = if (u.start > p.start) (p, u) else (u, p)
    val firstClose = SqlLex.close(msk0, first.end) + 1
    if (firstClose == 0 ||
        !chainGapRe.matches(msk0.substring(firstClose, second.start)))
      return Some(Left(()))
    val secondClose = SqlLex.close(msk0, second.end) + 1
    if (secondClose == 0 ||
        !chainTailRe.matches(msk0.substring(secondClose)))
      return Some(Left(()))
    Some(if (u.start > p.start)
      translatePivot(sqlRaw, msk0, p).flatMap(t1 =>
        translateUnpivot(t1, SqlLex.mask(t1)))
    else
      translateUnpivot(sqlRaw, msk0).flatMap { t1 =>
        val m1 = SqlLex.mask(t1)
        pivotHeadRe.findAllMatchIn(m1).toList match {
          case h1 :: Nil => translatePivot(t1, m1, h1)
          case _ => Left(())
        }
      })
  }

  // between the chain's two operators: at most the first's result alias
  private val chainGapRe = "(?is)^\\s*(?:as\\s+)?(?:[A-Za-z_]\\w*)?\\s*$".r
  // after the second operator: alias, then an ordinary clause or end
  private val chainTailRe =
    ("(?is)^\\s*(?:as\\s+)?(?:[A-Za-z_]\\w*)?\\s*" +
      "(?:(?:where|group|order|having|union|except|intersect|option|" +
      "limit|offset|fetch)\\b.*)?$").r

  private def translatePivot(sqlRaw: String, msk0: String,
      h: scala.util.matching.Regex.Match): Either[Unit, String] = {
    // balanced span of the PIVOT argument list
    val i = SqlLex.close(msk0, h.end) + 1
    if (i == 0) return Left(())
    val argsRaw = sqlRaw.substring(h.end, i - 1)
    val argsMsk = msk0.substring(h.end, i - 1)
    val m = innerRe.findFirstMatchIn(argsMsk).getOrElse(return Left(()))
    def g(k: Int): String = argsRaw.substring(m.start(k), m.end(k)).trim
    val agg = g(1)
    val pcol = g(2).replaceAll("[\\[\\]]", "")
    if (!pcol.matches("[\\w.]+")) return Left(()) // `[a b]`: not a plain name
    val items = SqlLex.splitTop(g(3)).map(_.trim)
    val names = items.map(it => itemRe.findFirstMatchIn(it)
      .map(im => Option(im.group(1)).getOrElse(im.group(2)))
      .filter(v => aliasOf(v).isDefined))
    if (names.isEmpty || names.exists(_.isEmpty)) return Left(())
    val vals = names.flatten
    // collation fold (see scaladoc): letter-bearing values compare
    // case-insensitively in default T-SQL estates, so the source
    // wraps in an upper() projection and the literals upper-case;
    // letterless (numeric/code) values have no case to fold
    val fold = vals.exists(_.exists(_.isLetter))
    val pre0 = sqlRaw.substring(0, h.start)
    val pre =
      if (!fold) pre0
      else {
        if (pcol.contains(".")) return Left(()) // qualified: see doc
        wrapSource(pre0, msk0.substring(0, h.start), pcol)
          .getOrElse(return Left(()))
      }
    def esc(s: String): String = s.replace("'", "''")
    val inList = vals.map { v =>
      val litV = if (fold) v.toUpperCase else v
      s"'${esc(litV)}' AS ${aliasOf(v).get}"
    }.mkString(", ")
    // the T-SQL result alias after the PIVOT close paren — strip it
    val after0 = sqlRaw.substring(i)
    val afterMsk = msk0.substring(i)
    val aliasRe = "(?is)^\\s*(?:as\\s+)?([A-Za-z_]\\w*)".r
    val after = aliasRe.findFirstMatchIn(afterMsk) match {
      case Some(am) if !stopWords(am.group(1).toLowerCase) =>
        after0.substring(am.end)
      case _ => after0
    }
    // rewrite [X] references to the pivoted columns elsewhere
    Right(SqlLex.mapCode(pre + s"PIVOT ($agg FOR $pcol IN ($inList))" + after)(
      vals.foldLeft(_)(deref)))
  }
}
