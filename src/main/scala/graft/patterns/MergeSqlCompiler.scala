package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Three-verb MERGE → Spark compile. The reference DETECTS the J5 MERGE
  * surface from package SQL text (ssis-to-dbt `src/agents/analyzer.py:
  * 147-156`) and hands it to manual review; here the canonical CDC shape
  * also EXECUTES, so a package-authored change-feed apply runs end-to-end
  * through parse → IR → runner (q80) exactly like dataflows do (q33):
  *
  * {{{
  * MERGE [INTO] <target> [AS] t
  * USING <source> | (SELECT list FROM tbl [WHERE pred]) [AS] s
  * ON t.k = s.k [...]
  * [WHEN MATCHED AND <delete-pred> THEN DELETE]
  * WHEN MATCHED [AND <update-pred>] THEN UPDATE SET col = expr, ...
  * WHEN NOT MATCHED [BY TARGET] THEN INSERT (cols) VALUES (exprs)
  * [WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN DELETE | UPDATE SET ...]
  * [OUTPUT $action | deleted.c | inserted.c [AS a], ... INTO <log> [(cols)]]
  * }}}
  *
  * The optional pieces admit the reference's OWN CustomerDataLoad merge
  * shape — the two-verb hash-guarded upsert (`MERGE dim.Customer AS
  * target … WHEN MATCHED AND <hash differs> THEN UPDATE … WHEN NOT
  * MATCHED BY TARGET THEN INSERT …`): a matched row failing the update
  * condition is kept untouched.
  *
  * Compiled to a state replacement — vanilla Spark has no mutable table,
  * so the post-merge target state is built from ONE target×source
  * full-outer join: each output row is exactly one of untouched (source
  * side null), matched (delete = filtered out, update = per-column
  * CASE), or inserted (target side null), written back with Overwrite.
  * The T-SQL 8672 multi-match guard is a window count on the SAME
  * joined frame, raised from the same action that materializes the
  * state — the merge-key shuffle happens once, not four times. Aliases
  * are required and clause order is fixed (the canonical CDC
  * authoring); any other MERGE returns None and stays a manual-review
  * skip — executing half a MERGE is worse than not converting it.
  */
object MergeSqlCompiler {

  /** Everything through `INSERT (` — the column and VALUES lists are
    * scanned by [[SqlLex.enclosed]] (paren-matched on the mask) instead of a
    * `[^)]*` regex so a VALUES list containing function calls
    * (`VALUES (UPPER(s.name), ...)`) still parses.
    *
    * Generalized grammar (the reference CustomerDataLoad merge is the
    * TWO-verb upsert form — `MERGE` without INTO, a CONDITIONED update,
    * `NOT MATCHED BY TARGET`):
    * {{{
    * MERGE [INTO] t [AS] ta USING s [AS] sa ON cond
    * [WHEN MATCHED AND del-pred THEN DELETE]
    * WHEN MATCHED [AND upd-pred] THEN UPDATE SET ...
    * WHEN NOT MATCHED [BY TARGET] THEN INSERT (cols) VALUES (vals)
    * }}}
    * groups: 1 target, 2 tAlias, 3 source, 4 sAlias, 5 on,
    * 6 delete-pred (opt), 7 update-pred (opt), 8 SET list. */
  private val mergePrefixRe =
    ("(?is)^\\s*merge\\s+(?:into\\s+)?(\\S+)\\s+(?:as\\s+)?(\\w+)\\s+" +
      "using\\s+(\\S+)\\s+(?:as\\s+)?(\\w+)\\s+on\\s+(.+?)\\s+" +
      "(?:when\\s+matched\\s+and\\s+(.+?)\\s+then\\s+delete\\s+)?" +
      "when\\s+matched\\s+(?:and\\s+(.+?)\\s+)?then\\s+update\\s+set\\s+(.+?)\\s+" +
      "when\\s+not\\s+matched\\s+(?:by\\s+target\\s+)?then\\s+insert\\s*\\(").r

  private val valuesOpenRe = "(?is)\\s*values\\s*\\(".r

  /** `WHEN NOT MATCHED BY SOURCE [AND pred] THEN DELETE | UPDATE SET …`
    * after the VALUES list — the full-sync dimension idiom: target rows
    * the feed no longer carries are retired (DELETE) or flagged
    * (`UPDATE SET is_current = 0`). On the one full-outer frame these
    * rows ARE the null-source leg, so both verbs are a filter / CASE
    * branch away — no extra join, no extra shuffle. */
  private val bySourceRe =
    ("(?is)^\\s*when\\s+not\\s+matched\\s+by\\s+source\\s+" +
      "(?:and\\s+(.+?)\\s+)?then\\s+(?:(delete)|update\\s+set\\s+(.+?))" +
      "\\s*(?=\\boutput\\b|;|$)").r

  private val bySourceOpenRe =
    "(?is)^\\s*when\\s+not\\s+matched\\s+by\\s+source\\b".r

  /** pred = optional extra condition; set = UPDATE assignments, None
    * for the DELETE verb. */
  private final case class BySourceSpec(pred: Option[String],
      set: Option[String])

  /** Parse the optional BY SOURCE clause starting at `from`:
    * `Some((None, from))` = no clause there; `Some((Some(spec), end))`
    * = one canonical clause; `None` = a BY SOURCE clause is present but
    * off-shape (a second clause, a CASE/WHEN or nested query in its
    * bodies…) — the whole MERGE declines, half a clause never runs.
    * Matching runs on the literal-masked twin; bodies slice from the
    * original text. */
  private def bySourceClause(sql: String, from: Int)
      : Option[(Option[BySourceSpec], Int)] = {
    val tail = sql.substring(from)
    val msk = SqlLex.mask(tail)
    if (bySourceOpenRe.findPrefixMatchOf(msk).isEmpty) return Some((None, from))
    bySourceRe.findPrefixMatchOf(msk).flatMap { m =>
      def g(i: Int): Option[String] =
        Option(m.group(i)).map(_ => tail.substring(m.start(i), m.end(i)))
      val spec = BySourceSpec(g(1), g(3))
      // a WHEN inside a body is either a swallowed second clause or a
      // CASE expression — both outside the canonical contract
      val ok = !(spec.pred.toList ++ spec.set).exists(
        bodyDisqualified(_, "(?i)\\bwhen\\b|\\bselect\\b".r))
      if (ok) Some((Some(spec), from + m.end)) else None
    }
  }

  /** Optional `OUTPUT … INTO` tail after the VALUES list — the T-SQL
    * MERGE change-feed idiom (`$action` plus deleted/inserted images
    * appended to a change log from the same atomic statement). */
  private val outputTailRe =
    ("(?is)^\\s*output\\s+(.+?)\\s+into\\s+([^\\s;(]+)\\s*" +
      "(?:\\(([^)]*)\\))?\\s*;?\\s*$").r

  private[patterns] val SrcPrefix = "__src_"

  /** Synthetic source name spliced in for a `USING (SELECT …)` leg. */
  private[patterns] val SyntheticSrc = "__graft_using_src"

  private val usingOpenRe =
    "(?is)^(\\s*merge\\s+(?:into\\s+)?\\S+\\s+(?:as\\s+)?\\w+\\s+using\\s*)\\(".r

  /** The one canonical subquery shape: a projection/filter of ONE
    * table. Joins/unions/nested selects stay manual review — they are
    * authored staging logic, not a source leg this compiler owns. */
  private val simpleSelectRe =
    "(?is)^\\s*select\\s+(.+?)\\s+from\\s+([^\\s;()]+)\\s*(?:\\s+where\\s+(.+?))?\\s*$".r

  private val subqueryKeywordRe =
    "(?i)\\b(select|from|join|union|group|having|order)\\b".r

  /** `MERGE … USING (SELECT list FROM tbl [WHERE pred]) AS s …` — the
    * most common authored MERGE form (the change feed filtered or
    * projected inline instead of staged). Splice a synthetic source
    * name into the text so the canonical parser sees a table MERGE,
    * and hand back the subquery parts for frame compilation through
    * `resolve` — NOT the catalog, so a script-staged state is
    * respected. A non-simple subquery leaves the text untouched (the
    * prefix regex then fails on the `(` and the statement declines).
    * All keyword scans run on the literal-masked twin; parts are
    * extracted from the ORIGINAL text (masking is length-exact). */
  private def spliceUsingSubquery(sql: String)
      : (String, Option[(String, String, Option[String])]) = {
    val msk = SqlLex.mask(sql)
    usingOpenRe.findPrefixMatchOf(msk) match {
      case Some(pm) => SqlLex.enclosed(sql, msk, pm.end) match {
        case Some((sub, after)) =>
          val mskSub = msk.substring(pm.end, after - 1)
          simpleSelectRe.findFirstMatchIn(mskSub) match {
            case Some(sm) =>
              def g(i: Int): Option[String] = Option(sm.group(i))
                .map(_ => sub.substring(sm.start(i), sm.end(i)))
              val (list, tbl, whereOpt) = (g(1).get, g(2).get, g(3))
              val ok = !bodyDisqualified(list, subqueryKeywordRe) &&
                !whereOpt.exists(bodyDisqualified(_, subqueryKeywordRe)) &&
                SqlLex.splitTop(list).nonEmpty
              if (ok)
                (sql.substring(0, pm.end - 1) + " " + SyntheticSrc + " " +
                  sql.substring(after), Some((list, tbl, whereOpt)))
              else (sql, None)
            case None => (sql, None)
          }
        case None => (sql, None)
      }
      case None => (sql, None)
    }
  }

  /** Classify the statement tail past the VALUES list: `Some(None)` =
    * bare terminator, `Some(Some(spec))` = a canonical OUTPUT…INTO
    * change feed, `None` = anything else (the whole MERGE declines —
    * executing a MERGE while dropping its OUTPUT rows would silently
    * lose the change feed). The keyword scan runs on a literal-masked
    * twin; item/column text is extracted from the ORIGINAL tail.
    * T-SQL forbids the INTO table being a table of the statement —
    * audit = target or source declines. */
  private def outputTail(sql: String, from: Int, tgtName: String,
      srcName: String): Option[Option[(String, String, Option[String])]] = {
    val tail = sql.substring(from)
    if (tail.matches("(?s)\\s*;?\\s*")) Some(None)
    else outputTailRe.findFirstMatchIn(SqlLex.mask(tail))
      .flatMap { m =>
        def g(i: Int): Option[String] =
          Option(m.group(i)).map(_ => tail.substring(m.start(i), m.end(i)))
        val (items, audit, colList) = (g(1).get, g(2).get, g(3))
        val ok = OutputIntoSqlCompiler
            .parseItems(items, allowAction = true).isDefined &&
          !audit.equalsIgnoreCase(tgtName) &&
          !audit.equalsIgnoreCase(srcName) &&
          colList.forall(cl =>
            SqlLex.splitTop(cl).forall(_.matches("[A-Za-z_]\\w*")))
        if (ok) Some(Some((items, audit, colList))) else None
      }
  }

  /** Parse-only twin for the migration ledger: does this statement
    * carry a canonical MERGE OUTPUT…INTO change feed? */
  private[graft] def outputShape(sqlRaw: String): Boolean = {
    val sql = spliceUsingSubquery(SqlText.stripComments(sqlRaw))._1
    val msk = SqlLex.mask(sql)
    (for {
      m <- mergePrefixRe.findFirstMatchIn(sql)
      (_, afterCols) <- SqlLex.enclosed(sql, msk, m.end)
      vm <- valuesOpenRe.findPrefixMatchOf(sql.substring(afterCols))
      (_, afterVals) <- SqlLex.enclosed(sql, msk, afterCols + vm.end)
      (_, afterBySrc) <- bySourceClause(sql, afterVals)
      spec <- outputTail(sql, afterBySrc, m.group(1), m.group(3))
    } yield spec.isDefined).getOrElse(false)
  }

  /** Parse-only twin for the migration ledger: does this statement
    * carry a canonical `WHEN NOT MATCHED BY SOURCE` clause? */
  private[graft] def bySourceShape(sqlRaw: String): Boolean = {
    val sql = spliceUsingSubquery(SqlText.stripComments(sqlRaw))._1
    val msk = SqlLex.mask(sql)
    (for {
      m <- mergePrefixRe.findFirstMatchIn(sql)
      (_, afterCols) <- SqlLex.enclosed(sql, msk, m.end)
      vm <- valuesOpenRe.findPrefixMatchOf(sql.substring(afterCols))
      (_, afterVals) <- SqlLex.enclosed(sql, msk, afterCols + vm.end)
      (spec, _) <- bySourceClause(sql, afterVals)
    } yield spec.isDefined).getOrElse(false)
  }

  /** T-SQL QUOTED_IDENTIFIER forms (`[s].[name]`, `"s.name"`) are
    * opaque to [[xlate]] — an alias occurrence inside one would be
    * rewritten (or left untranslated) into a confusing `expr()` failure.
    * A clause body containing one outside a string literal makes the
    * whole statement a clean manual-review skip instead. */
  private[patterns] def hasQuotedIdentifier(e: String): Boolean = {
    val msk = SqlLex.mask(e)
    msk.contains('[') || msk.contains('"')
  }

  /** Shared clause-body disqualifier for the sibling DML compilers: a
    * bracketed/double-quoted identifier, a top-level `;` (a trailing
    * script statement — the script executor owns multi-statement text),
    * or any keyword from `keywordRe` — all matched OUTSIDE string
    * literals only. One implementation so quote/segment fixes never
    * have to land three times. */
  private[patterns] def bodyDisqualified(body: String,
      keywordRe: scala.util.matching.Regex): Boolean =
    hasQuotedIdentifier(body) || {
      val msk = SqlLex.mask(body)
      msk.contains(';') || keywordRe.findFirstIn(msk).isDefined
    }

  /** Translate alias-qualified references: `s.col` → `__src_col` (the
    * renamed source frame), `t.col` → `col` (the target frame). String
    * literals pass through untouched. */
  private[patterns] def xlate(e: String, tgtAlias: String, srcAlias: String): String = {
    val q = java.util.regex.Pattern.quote _
    SqlLex.mapCode(e)(
      _.replaceAll("(?i)\\b" + q(srcAlias) + "\\.", SrcPrefix)
        .replaceAll("(?i)\\b" + q(tgtAlias) + "\\.", ""))
  }

  /** Compile the statement if it is the canonical three-verb shape.
    * `resolve` maps a statement-level table name to its current frame
    * (the runner's written-state map backed by the warehouse). */
  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val (sql, subSpec) = spliceUsingSubquery(SqlText.stripComments(task.sqlStatement))
    // the subquery's frame compiles through `resolve` (projection +
    // filter of one table), NEVER the catalog: a script-staged state
    // or the runner's written-state map stays authoritative
    def resolveSrc(name: String): DataFrame =
      if (subSpec.isDefined && name == SyntheticSrc) {
        val (list, tbl, whereOpt) = subSpec.get
        val base = resolve(tbl)
        whereOpt.map(w => base.filter(expr(w))).getOrElse(base)
          .selectExpr(SqlLex.splitTop(list): _*)
      } else resolve(name)
    val msk = SqlLex.mask(sql)
    val parsed = for {
      m <- mergePrefixRe.findFirstMatchIn(sql)
      (colsStr, afterCols) <- SqlLex.enclosed(sql, msk, m.end)
      vm <- valuesOpenRe.findPrefixMatchOf(sql.substring(afterCols))
      (valsStr, afterVals) <- SqlLex.enclosed(sql, msk, afterCols + vm.end)
      // optional full-sync clause; an off-shape BY SOURCE declines
      (bySrcOpt, afterBySrc) <- bySourceClause(sql, afterVals)
      // T-SQL forbids source references inside BY SOURCE bodies (the
      // source side IS null there) — a package carrying one never
      // compiled on SQL Server; decline rather than bind NULLs
      if bySrcOpt.forall(bs => !(bs.pred.toList ++ bs.set).exists(b =>
        ("(?i)\\b" + java.util.regex.Pattern.quote(m.group(4)) + "\\.").r
          .findFirstIn(SqlLex.mask(b)).isDefined))
      // the tail must be a bare terminator or a canonical OUTPUT…INTO
      // change feed — anything else declines the whole statement
      outSpec <- outputTail(sql, afterBySrc, m.group(1), m.group(3))
      // with a subquery source, the change log may not be the
      // subquery's base table either (a table of the statement)
      if subSpec.forall { case (_, tbl, _) =>
        outSpec.forall { case (_, audit, _) => !audit.equalsIgnoreCase(tbl) } }
      // clause bodies with bracketed/double-quoted identifiers are
      // outside the canonical contract: skip, never half-translate
      // (groups 6/7 — delete-pred / update-pred — are optional)
      if !(Seq(m.group(5), m.group(8), colsStr, valsStr) ++
        Option(m.group(6)) ++ Option(m.group(7)))
        .exists(hasQuotedIdentifier)
    } yield (m, colsStr, valsStr, bySrcOpt, outSpec)
    parsed.map { case (m, colsStr, valsStr, bySrcOpt, outSpec) =>
      val (tgtName, tA) = (m.group(1), m.group(2))
      val (srcName, sA) = (m.group(3), m.group(4))
      val tgt = resolve(tgtName)
      val src = resolveSrc(srcName)
      val srcP = src.columns
        .foldLeft(src)((d, c) => d.withColumnRenamed(c, SrcPrefix + c))
      val joinCond = expr(xlate(m.group(5), tA, sA))
      // optional verbs/conditions: no DELETE clause = nothing deletes;
      // no UPDATE condition = every surviving match updates
      val deletePredOpt = Option(m.group(6)).map(t => expr(xlate(t, tA, sA)))
      val updatePredOpt = Option(m.group(7)).map(t => expr(xlate(t, tA, sA)))
      val setMap = SqlLex.splitTop(m.group(8)).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"MERGE SET assignment has no '=': $a")
        xlate(a.take(i).trim, tA, sA) -> expr(xlate(a.drop(i + 1).trim, tA, sA))
      }.toMap
      val insertCols = SqlLex.splitTop(colsStr).map(c => xlate(c, tA, sA))
      val insertVals = SqlLex.splitTop(valsStr).map(v => expr(xlate(v, tA, sA)))
      require(insertCols.length == insertVals.length,
        s"MERGE INSERT arity mismatch: ${insertCols.length} cols, " +
          s"${insertVals.length} values")
      val insertMap = insertCols.zip(insertVals).toMap
      // a misspelled SET target or INSERT column would otherwise be
      // silently ignored (the value dropped, the column NULLed) — half a
      // MERGE, the exact failure the canonical-shape contract forbids
      val tgtCols = tgt.columns.map(_.toLowerCase).toSet
      val badSet = setMap.keys.filterNot(c => tgtCols(c.toLowerCase))
      require(badSet.isEmpty,
        s"MERGE SET names column(s) absent from target ${tgtName}: " +
          badSet.mkString(", "))
      val badIns = insertCols.filterNot(c => tgtCols(c.toLowerCase))
      require(badIns.isEmpty,
        s"MERGE INSERT names column(s) absent from target ${tgtName}: " +
          badIns.mkString(", "))
      // T-SQL also aborts on a column assigned twice ("specified more
      // than once") — after case-folding, a duplicate would silently
      // collapse to one assignment here
      val dupSet = setMap.keys.groupBy(_.toLowerCase).filter(_._2.size > 1)
      require(dupSet.isEmpty,
        s"MERGE SET assigns column(s) more than once: " +
          dupSet.keys.mkString(", "))
      val dupIns = insertCols.groupBy(_.toLowerCase).filter(_._2.size > 1)
      require(dupIns.isEmpty,
        s"MERGE INSERT names column(s) more than once: " +
          dupIns.keys.mkString(", "))
      // BY SOURCE UPDATE assignments validate exactly like SET: absent
      // or duplicated target columns abort, never silently no-op
      val bsSetMapLc: Map[String, Column] =
        bySrcOpt.flatMap(_.set).map { sl =>
          val pairs = SqlLex.splitTop(sl).map { a =>
            val i = a.indexOf('=')
            require(i > 0, s"MERGE BY SOURCE SET assignment has no '=': $a")
            xlate(a.take(i).trim, tA, sA) -> expr(xlate(a.drop(i + 1).trim, tA, sA))
          }
          val badBs = pairs.map(_._1).filterNot(c => tgtCols(c.toLowerCase))
          require(badBs.isEmpty,
            s"MERGE BY SOURCE SET names column(s) absent from target " +
              s"${tgtName}: ${badBs.mkString(", ")}")
          val dupBs = pairs.map(_._1).groupBy(_.toLowerCase)
            .filter(_._2.size > 1)
          require(dupBs.isEmpty,
            s"MERGE BY SOURCE SET assigns column(s) more than once: " +
              dupBs.keys.mkString(", "))
          pairs.map { case (k, v) => k.toLowerCase -> v }.toMap
        }.getOrElse(Map.empty)

      // ONE full-outer join computes all three MERGE legs — untouched
      // (source side null), matched (both present), inserted (target
      // side null) — where the previous shape ran FOUR target×source
      // joins (an eager multi-match guard, the matched inner, and two
      // anti joins). At 100 TB the merge-key shuffle is the dominant
      // cost of a MERGE; it must happen once.
      val tgtWithId = tgt.withColumn("__graft_tid",
        monotonically_increasing_id())
      val srcWithId = srcP.withColumn("__graft_sid",
        monotonically_increasing_id())
      val full = tgtWithId.join(srcWithId, joinCond, "full_outer")
      val isMatched = col("__graft_tid").isNotNull &&
        col("__graft_sid").isNotNull
      val isInsert = col("__graft_tid").isNull
      // T-SQL MERGE aborts (error 8672) when one target row matches
      // several source rows — a state replacement would instead silently
      // DUPLICATE the row. The guard is a match count per target row on
      // the SAME joined frame, raised from the same action that
      // materializes the state (writes in this engine are lazy frames,
      // so nothing commits when the guard trips). Insert rows (null tid)
      // get a per-source-row window key — a shared null partition would
      // funnel every insert into one task.
      val wGuard = Window.partitionBy(col("__graft_tid"),
        when(col("__graft_tid").isNull, col("__graft_sid")))
      val guarded = full.withColumn("__graft_mcnt",
        count(when(isMatched, lit(1))).over(wGuard))
      // NULL predicates (e.g. a NULL op column) must mean "not fired" —
      // a bare !pred filter would drop the row from BOTH legs; lookups
      // are case-insensitive like the validation above (T-SQL
      // identifiers): key both maps by lower-cased name
      val setMapLc = setMap.map { case (k, v) => k.toLowerCase -> v }
      val insertMapLc = insertMap.map { case (k, v) => k.toLowerCase -> v }
      val delPred = deletePredOpt
        .map(coalesce(_, lit(false))).getOrElse(lit(false))
      val updPred = updatePredOpt
        .map(coalesce(_, lit(false))).getOrElse(lit(true))
      // the BY SOURCE leg on the one joined frame: target rows the
      // source does not carry (null source side) whose optional AND
      // predicate holds (target-column-only by the parse guard; NULL
      // predicate = not fired, like the other verbs)
      val isBySource = col("__graft_sid").isNull
      val bsDelete = bySrcOpt.exists(_.set.isEmpty)
      val bsFire = bySrcOpt.map { bs =>
        isBySource && bs.pred.map(t =>
          coalesce(expr(xlate(t, tA, sA)), lit(false))).getOrElse(lit(true))
      }.getOrElse(lit(false))
      // a single CASE filter (not a conjunction Catalyst could split and
      // short-circuit) so EVERY row evaluates the guard before the
      // delete verb can drop it — a multi-matched row that is deleted
      // still aborts, exactly like SQL Server
      val guardAbort =
        raise_error(lit(s"MERGE into ${tgtName}: a target row is " +
          "matched by multiple source rows (T-SQL error 8672) — " +
          "compact the source feed to one row per merge key first"))
          .cast("boolean")
      val kept = guarded.filter(
        when(col("__graft_mcnt") > 1, guardAbort)
          .otherwise(!(isMatched && delPred) &&
            (if (bsDelete) !bsFire else lit(true))))
      // per-column CASE over the one joined frame: insert rows take the
      // INSERT expression (absent columns = NULL), BY SOURCE UPDATE rows
      // take their SET expression (disjoint from the matched leg by
      // construction), matched rows take the SET expression only where
      // the update condition holds (the two-verb upsert's keep path),
      // untouched rows pass through. Every branch casts to the TARGET
      // column type — T-SQL column types win over expression types.
      val out = kept.select(tgt.schema.fields.toSeq.map { f =>
        val lc = f.name.toLowerCase
        val insertVal = insertMapLc.getOrElse(lc, lit(null))
        var branched = when(isInsert, insertVal)
        bsSetMapLc.get(lc).foreach(e => branched = branched.when(bsFire, e))
        setMapLc.get(lc).foreach(e =>
          branched = branched.when(isMatched && updPred, e))
        branched.otherwise(col(f.name)).cast(f.dataType).as(f.name)
      }: _*)
      // OUTPUT…INTO change feed: one row per AFFECTED row (untouched
      // matches emit nothing), built over the SAME joined frame — no
      // second join is ever PLANNED. With the warehouse runner's lazy
      // writes a single downstream action evaluates both frames (the
      // duplicate exchange subtrees are reuse candidates); a
      // materializing sink pays the join once per written table (2×,
      // the two-destination floor), never per MERGE leg. The side
      // append carries the 8672 guard too (side writes land before the
      // state write, so the abort fires from whichever action runs
      // first).
      // Image semantics are the atomic statement's: `deleted.c` = the
      // pre-image (NULL on insert), `inserted.c` = the post-image (the
      // SET/INSERT expression over the PRE-state row; NULL on delete),
      // `$action` = INSERT | UPDATE | DELETE. Every image casts to the
      // TARGET column's type before the audit-table cast — T-SQL OUTPUT
      // columns have the target's types.
      val side = outSpec.map { case (itemsStr, auditName, colListOpt) =>
        val items =
          OutputIntoSqlCompiler.parseItems(itemsStr, allowAction = true).get
        val firedBase = isInsert || (isMatched && (delPred || updPred))
        val firedPred =
          if (bySrcOpt.isEmpty) firedBase else firedBase || bsFire
        val auditRows = guarded.filter(
          when(col("__graft_mcnt") > 1, guardAbort).otherwise(firedPred))
        // a fired BY SOURCE row reports its own verb ($action); when no
        // BY SOURCE clause exists the plan stays byte-identical to the
        // two-leg form (untouched rows never pass firedPred anyway)
        val action0 = when(isInsert, lit("INSERT"))
        val action = (if (bySrcOpt.isEmpty) action0
          else action0.when(isBySource,
            lit(if (bsDelete) "DELETE" else "UPDATE")))
          .when(delPred, lit("DELETE"))
          .otherwise(lit("UPDATE"))
        def image(img: String, name: String): Column = {
          val f = tgt.schema.fields.find(_.name.equalsIgnoreCase(name)).get
          val lc = f.name.toLowerCase
          val c = img match {
            case "deleted" =>
              when(isInsert, lit(null)).otherwise(col(f.name))
            case _ =>
              val base = when(isInsert, insertMapLc.getOrElse(lc, lit(null)))
              (if (bySrcOpt.isEmpty) base
               else base.when(isBySource,
                 if (bsDelete) lit(null)
                 else bsSetMapLc.getOrElse(lc, col(f.name))))
                .when(delPred, lit(null))
                .otherwise(setMapLc.getOrElse(lc, col(f.name)))
          }
          c.cast(f.dataType)
        }
        val itemCols: List[(Column, String)] = items.flatMap {
          case OutputIntoSqlCompiler.Item("action", _, al) =>
            List(action -> al.getOrElse("$action"))
          case OutputIntoSqlCompiler.Item(img, "*", _) =>
            tgt.columns.toList.map(c => image(img, c) -> c)
          case OutputIntoSqlCompiler.Item(img, c, al) =>
            require(tgtCols(c.toLowerCase),
              s"OUTPUT $img.$c: column absent from target $tgtName")
            List(image(img, c) -> al.getOrElse(c))
        }
        val audit = OutputIntoSqlCompiler.auditFrame(auditRows, itemCols,
          resolve(auditName), auditName, colListOpt)
        (auditName, audit, SaveMode.Append)
      }
      SqlOutcome(Some(out), Some(tgtName), SaveMode.Overwrite,
        side = side.toList)
    }
  }
}
