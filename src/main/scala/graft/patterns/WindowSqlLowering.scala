package graft.patterns

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Scale-safe lowering for rank windows in frontend-EXECUTED SQL.
  *
  * The dtsx frontend runs user-authored analytic statements (the q83
  * `ROW_NUMBER() OVER (PARTITION BY segment ...)` reporting idiom)
  * through `spark.sql`, where a raw window serializes each partition
  * key into one task — fine for a 5-segment dimension, a single-task
  * sort of ~N/5 rows the moment a user points the same package at a
  * fact table. When the executed SELECT carries exactly one top-level
  * `ROW_NUMBER() | RANK() | DENSE_RANK() | NTILE(k) OVER (...) AS
  * alias` item, this rewrites it through [[graft.ops.RankLowering]]
  * (order-aligned range buckets + two-phase offsets — bounded tasks at
  * ANY partition-key cardinality; NTILE adds one partition-count
  * aggregate and a narrow integer-arithmetic projection).
  *
  * Anything off-shape returns None and the caller executes the
  * original SQL unchanged — the lowering must never change WHAT is
  * computed, only how it is scheduled. Declined shapes: several
  * windows; a window inside a subquery or expression; no alias;
  * DISTINCT (dedups AFTER the window in SQL); a top-level LIMIT
  * (bounds the ranked output, not the rank's input) or ORDER BY (the
  * two-phase join destroys row order); `*` select items (column
  * expansion breaks item-position accounting); OVER references that
  * either do not resolve against the window-free remainder or are
  * SHADOWED by a select alias bound to a different expression (SQL
  * resolves window references against the select's INPUT — re-reading
  * the alias would silently change the rank order). When an OVER item
  * is textually the same expression as an aliased select item, the
  * lowering reuses that output column directly — same expression over
  * the same input rows, the exact value the raw window ordered by.
  *
  * RANK()/DENSE_RANK() lower through
  * [[graft.ops.RankLowering.rankLike]]: the two-phase bucket
  * decomposition alone would be wrong for tie-group functions (a tie
  * group split across a range-bucket boundary takes two values), so the
  * rank is computed over the DISTINCT key frame — one map-side-combined
  * groupBy collapses ties to single rows, the key frame ranks with the
  * same bounded-task machinery, and a null-safe full-key join lands the
  * value back on every corpus row. Exact at any tie distribution. */
object WindowSqlLowering {

  private val rankFnOpenRe =
    ("(?i)\\b(?:(row_number|dense_rank|rank)\\s*\\(\\s*\\)" +
      "|(ntile)\\s*\\(\\s*(\\d+)\\s*\\))\\s+over\\s*\\(").r
  private val asAliasRe = "(?is)^\\s+as\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val overBodyRe =
    "(?is)^\\s*(?:partition\\s+by\\s+(.+?))?\\s*order\\s+by\\s+(.+)$".r
  private val dirSuffixRe = "(?is)\\s+(asc|desc)\\s*$".r
  private val distinctRe = "(?is)^\\s*select\\s+distinct\\b".r
  private val limitOrOrderRe = "(?i)\\b(limit|order\\s+by)\\b".r
  private val itemAliasRe = "(?is)^(.+?)\\s+as\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
  private val identRe = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Case-fold and space-collapse UNQUOTED segments only: two items
    * differing solely inside a string literal (`coalesce(seg,'A')` vs
    * `coalesce(seg,'a')`) are DIFFERENT expressions — folding literal
    * content would alias one to the other and silently change the rank
    * order the lowering must preserve. */
  private def norm(s: String): String =
    SqlLex.mapCode(s)(_.toLowerCase.replaceAll("\\s+", " ")).trim

  def lower(spark: SparkSession, select: String): Option[DataFrame] = {
    // ALL keyword/position scans run on a literal-MASKED twin of the
    // statement (same length, every quoted literal's content x'd out):
    // a ' from ' or ';' or 'order by' INSIDE a string literal must
    // never count as structure. Content is always sliced from the
    // ORIGINAL text by the masked match's span.
    val msk = SqlLex.mask(select)
    val depth = SqlLex.depths(msk)
    if (distinctRe.findFirstIn(msk).isDefined) return None
    // LIMIT bounds the ranked output, not the rank's input; a top-level
    // ORDER BY's row order would be destroyed by the offsets join. The
    // OVER clause's own ORDER BY sits inside parens (depth >= 1), so a
    // depth-0 hit is always the outer statement's.
    if (limitOrOrderRe.findAllMatchIn(msk)
        .exists(m => depth(m.start) == 0)) return None
    val matches = rankFnOpenRe.findAllMatchIn(msk).toList
    matches match {
      case m :: Nil if depth(m.start) == 0 =>
        val fn = Option(m.group(1)).getOrElse(m.group(2)).toLowerCase
        val fnArg = Option(m.group(3)).map(_.toInt)
        for {
          (overBody, afterOver) <- SqlLex.enclosed(select, msk, m.end)
          am <- asAliasRe.findPrefixMatchOf(msk.substring(afterOver))
          alias = am.group(1)
          itemEnd = afterOver + am.end
          ob <- overBodyRe.findFirstMatchIn(
            SqlLex.mask(overBody))
          // the window expr must be a WHOLE select-list item: preceded by
          // a top-level comma (or the SELECT keyword), followed by one
          // (or the FROM clause)
          before = select.substring(0, m.start)
          after = select.substring(itemEnd)
          if msk.substring(0, m.start).trim.toLowerCase.endsWith(",") ||
            "(?is)^\\s*select\\s*$".r
              .findFirstIn(msk.substring(0, m.start)).isDefined
          if "(?is)^\\s*,".r.findFirstIn(msk.substring(itemEnd)).isDefined ||
            "(?is)^\\s*from\\b".r.findFirstIn(msk.substring(itemEnd)).isDefined
          // group SPANS come from the masked body; CONTENT from original
          partList = Option(ob.group(1))
            .map(_ => overBody.substring(ob.start(1), ob.end(1)))
          orderList = overBody.substring(ob.start(2), ob.end(2))
          df <- lowerParsed(spark, fn, fnArg, before, after, alias, partList,
            orderList)
        } yield df
      case _ => None
    }
  }

  /** Select-list items of `baseText` (between SELECT and the top-level
    * FROM), or None when the list can't be delimited. Keyword positions
    * are found on the masked twin; items slice the original. */
  private def selectItems(baseText: String): Option[List[String]] = {
    val msk = SqlLex.mask(baseText)
    val depth = SqlLex.depths(msk)
    for {
      sel <- "(?is)^\\s*select\\s+".r.findFirstMatchIn(msk)
      from <- "(?i)\\bfrom\\b".r.findAllMatchIn(msk)
        .find(m => m.start >= sel.end && depth(m.start) == 0)
    } yield SqlLex.splitTop(baseText.substring(sel.end, from.start))
  }

  private def lowerParsed(spark: SparkSession, fn: String,
      fnArg: Option[Int], before: String,
      after: String, alias: String, partList: Option[String],
      orderList: String): Option[DataFrame] = {
    // base select = the statement with the window item (and its comma)
    // removed; the item's index in the list = where the rank column goes
    val (baseText, itemIdx) =
      if (before.trim.toLowerCase.endsWith(",")) {
        val b = before.substring(0, before.lastIndexOf(','))
        (b + after, selectItems(b + " FROM x").map(_.length).getOrElse(-1))
      } else {
        // item is first: drop the comma that FOLLOWS it
        (before + after.replaceFirst("^\\s*,", " "), 0)
      }
    if (itemIdx < 0) return None
    val items = selectItems(baseText).getOrElse(return None)
    // `*` / `t.*` expand to several columns and break item-position
    // accounting — decline
    if (items.exists(it => it == "*" || it.endsWith(".*"))) return None
    // alias map of the window-free select: OVER references resolve
    // against the select's INPUT in SQL, so an alias shadowing an input
    // name must either be reused verbatim (same expression text — same
    // value) or force a decline
    val aliased = items.flatMap {
      case itemAliasRe(e, a) => Some(norm(e) -> a)
      case _ => None
    }
    val exprToAlias = aliased.toMap
    val aliasOf = aliased.map { case (e, a) => a.toLowerCase -> e }.toMap
    def compileItem(t: String): Option[Column] =
      exprToAlias.get(norm(t)) match {
        case Some(a) => Some(col(a))
        case None =>
          val shadowed = identRe.findAllIn(t).exists { tok =>
            aliasOf.get(tok.toLowerCase).exists(_ != tok.toLowerCase)
          }
          if (shadowed) None else Some(expr(t))
      }
    val partItems = partList.toList.flatMap(SqlLex.splitTop(_))
    val orderItems = SqlLex.splitTop(orderList)
    def split(it: String): (String, Boolean) =
      dirSuffixRe.findFirstMatchIn(it) match {
        case Some(dm) =>
          (it.substring(0, dm.start), dm.group(1).equalsIgnoreCase("desc"))
        case None => (it, false)
      }
    val pCols = partItems.map(t => compileItem(t.trim))
    // compile each order item ONCE; direction applies to the compiled
    // column afterwards (the plain form feeds the resolution check)
    val oCompiled = orderItems.map { it =>
      val (t, desc) = split(it.trim)
      (compileItem(t.trim), desc)
    }
    val oPlain = oCompiled.map(_._1)
    val oCols = oCompiled.map { case (c, desc) =>
      c.map(cc => if (desc) cc.desc else cc.asc)
    }
    if ((pCols ++ oPlain).exists(_.isEmpty)) return None
    scala.util.Try {
      val base = spark.sql(baseText)
      if (base.columns.map(_.toLowerCase).contains(alias.toLowerCase))
        throw new IllegalArgumentException(s"alias $alias collides")
      // resolution check: every OVER reference must bind against the
      // window-free output — analysis failure falls back to raw SQL
      base.select((pCols ++ oPlain).flatten: _*).queryExecution.analyzed
      val ranked = fn match {
        case "row_number" =>
          graft.ops.RankLowering.rowNumber(base, pCols.flatten,
            oCols.flatten, alias)
        case "ntile" =>
          graft.ops.RankLowering.ntile(base, pCols.flatten,
            oCols.flatten, fnArg.get, alias)
        case _ =>
          graft.ops.RankLowering.rankLike(base, pCols.flatten,
            oPlain.flatten, oCompiled.map(_._2), alias,
            dense = fn == "dense_rank")
      }
      val ordered = {
        val bs = base.columns.toSeq
        (bs.take(itemIdx) :+ alias) ++ bs.drop(itemIdx)
      }
      ranked.select(ordered.map(col): _*)
    }.toOption
  }
}
