package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Correlated UPDATE…FROM (the T-SQL join-update) → Spark compile — the
  * single most common T-SQL mutation idiom after the canonical forms the
  * engine already executes. The reference's analyzer classifies UPDATE
  * statements for exactly this manual-review reason (ssis-to-dbt
  * `src/agents/analyzer.py:137-156`); here the canonical two-table shape
  * also EXECUTES through the runner:
  *
  * {{{
  * UPDATE <t-alias> SET col = s.expr, ...
  * [OUTPUT deleted.c | inserted.c [AS a], ... INTO <audit> [(cols)]]
  * FROM <target> [AS] t [INNER | LEFT [OUTER]] JOIN <source> [AS] s
  *   ON t.k = s.k [WHERE <pred>]
  * }}}
  *
  * The UPDATE clause must name the FROM leg's target (alias or table
  * name). The LEFT form (owned since r13 — the backfill-with-default
  * idiom) updates EVERY target row the WHERE admits: unmatched rows
  * see NULL source columns in both SET and WHERE, T-SQL's own
  * result-set semantics, carried by the same left_outer frame the
  * inner form already builds. Declined to manual review
  * ([[UpdateSqlCompiler]] already declines any FROM — this compiler
  * owns the join form): RIGHT/FULL/CROSS joins (a right join can
  * produce rows with no target identity), more than one JOIN,
  * comma-style FROM lists, subqueries, quoted identifiers, trailing
  * statements.
  *
  * Compiled as a state replacement over ONE target×source LEFT join —
  * the merge-key shuffle happens once: matched rows take
  * `CASE WHEN pred THEN expr ELSE old END` (every SET expression sees
  * the PRE-update row, and a NULL WHERE means "not updated" — SQL's
  * WHERE-is-TRUE rule), unmatched target rows pass through, and every
  * branch casts to the TARGET column type (T-SQL column types win).
  *
  * Multi-match: T-SQL leaves an UPDATE…FROM whose target row matches
  * several source rows UNDEFINED (one arbitrary source row wins — a
  * silent wrong answer at any scale). This engine refuses to choose: a
  * window match-count on the same joined frame raises from the action
  * that materializes the state, exactly like [[MergeSqlCompiler]]'s
  * 8672 guard (writes are lazy frames, so nothing commits). */
object UpdateFromSqlCompiler {

  /** Groups: 1 update token, 2 SET list, 3/4/5 optional OUTPUT items /
    * audit table / column list (T-SQL puts OUTPUT between SET and
    * FROM), 6 target, 7 OPTIONAL tAlias, 8 optional join direction
    * (INNER / LEFT [OUTER]), 9 source, 10 OPTIONAL sAlias, 11 ON,
    * 12 WHERE. The alias tokens carry a negative lookahead over the
    * join-grammar keywords so an ALIAS-LESS `FROM t LEFT JOIN s` can
    * never parse with alias "LEFT" and silently run inner semantics
    * (the exact hazard the pre-r13 blanket LEFT decline guarded);
    * when absent, the table name itself is the reference alias. */
  private val aliasBan =
    "(?!(?:inner|left|right|full|cross|outer|join|on|where|output)\\b)"
  private val updateFromRe =
    ("(?is)^\\s*update\\s+([^\\s;]+)\\s+set\\s+(.+?)\\s+" +
      "(?:output\\s+(.+?)\\s+into\\s+([^\\s;(]+)\\s*(?:\\(([^)]*)\\))?\\s+)?" +
      "from\\s+([^\\s;]+)(?:\\s+(?:as\\s+)?(" + aliasBan + "\\w+))?\\s+" +
      "(?:(inner|left(?:\\s+outer)?)\\s+)?join\\s+" +
      "([^\\s;]+)(?:\\s+(?:as\\s+)?(" + aliasBan + "\\w+))?\\s+on\\s+(.+?)" +
      "(?:\\s+where\\s+(.+?))?\\s*;?\\s*$").r

  /** RIGHT/FULL/CROSS joins stay a different semantics class (a RIGHT
    * join can INSERT-shape rows with no target identity; CROSS has no
    * ON). LEFT is owned since r13: every target row survives into the
    * joined frame, unmatched rows see NULL source columns — exactly
    * the left_outer frame this compiler already builds, with the fire
    * predicate no longer requiring a match. The decline must run
    * before the permissive alias token could swallow the direction
    * keyword (`FROM t RIGHT JOIN s` would otherwise parse with alias
    * "RIGHT" and silently run inner semantics). */
  private val offShapeJoinRe =
    "(?i)\\b(right|full|cross)\\s+join\\b".r

  /** Clause bodies must stay expression-only: any verb keyword, a
    * second join, or a FROM (a subquery leg) leaves the canonical
    * contract. */
  private val bodyKeywordRe =
    "(?i)\\b(select|insert|update|delete|merge|from|join|output)\\b".r

  /** Shared shape predicate over the matched groups: the UPDATE token
    * must name the FROM target, aliases distinct, clause bodies
    * expression-only, and an OUTPUT clause (when present) must parse
    * with its audit table distinct from both statement tables. */
  private def groupsOk(sql: String, m: scala.util.matching.Regex.Match): Boolean = {
    def g(i: Int): String = sql.substring(m.start(i), m.end(i))
    def gOpt(i: Int): Option[String] =
      if (m.group(i) == null) None else Some(g(i))
    val tA = gOpt(7).getOrElse(g(6))
    val sA = gOpt(10).getOrElse(g(9))
    val bodies = g(2) :: g(11) :: gOpt(12).toList
    val namesTarget = g(1).equalsIgnoreCase(tA) ||
      g(1).equalsIgnoreCase(g(6))
    val outputOk = gOpt(3) match {
      case None => true
      case Some(items) =>
        val audit = g(4)
        OutputIntoSqlCompiler.parseItems(items).isDefined &&
          !audit.equalsIgnoreCase(g(6)) && !audit.equalsIgnoreCase(g(9)) &&
          gOpt(5).forall(cl => SqlLex.splitTop(cl)
            .forall(_.matches("[A-Za-z_]\\w*")))
    }
    namesTarget && !tA.equalsIgnoreCase(sA) && outputOk &&
      !bodies.exists(MergeSqlCompiler.bodyDisqualified(_, bodyKeywordRe))
  }

  /** Parse-only classification twin of [[rewrite]] (no frames touched). */
  private[graft] def shapeMatches(sqlRaw: String): Boolean = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    if (offShapeJoinRe.findFirstIn(msk).isDefined) return false
    updateFromRe.findFirstMatchIn(msk).exists(groupsOk(sql, _))
  }

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val sql = SqlText.stripComments(task.sqlStatement)
    val msk = SqlLex.mask(sql)
    if (offShapeJoinRe.findFirstIn(msk).isDefined) return None
    updateFromRe.findFirstMatchIn(msk).flatMap { m =>
      // match on the masked twin, slice the ORIGINAL by group spans
      def g(i: Int): String = sql.substring(m.start(i), m.end(i))
      def gOpt(i: Int): Option[String] =
        if (m.group(i) == null) None else Some(g(i))
      val setList = g(2)
      val outSpec = gOpt(3).map(items => (items, g(4), gOpt(5)))
      // alias-less legs reference columns by the TABLE name — the
      // table name IS the alias for translation purposes
      val tgtName = g(6)
      val tA = gOpt(7).getOrElse(tgtName)
      val isLeft = gOpt(8).exists(_.toLowerCase.startsWith("left"))
      val srcName = g(9)
      val sA = gOpt(10).getOrElse(srcName)
      val onBody = g(11)
      val whereOpt = gOpt(12)
      if (!groupsOk(sql, m)) None
      else Some {
        val tgt = resolve(tgtName)
        val srcP = resolve(srcName).columns
          .foldLeft(resolve(srcName))((d, c) =>
            d.withColumnRenamed(c, MergeSqlCompiler.SrcPrefix + c))
          .withColumn("__graft_smatch", lit(true))
        val joinCond = expr(MergeSqlCompiler.xlate(onBody, tA, sA))
        val assignments = SqlLex.splitTop(setList).map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"UPDATE SET assignment has no '=': $a")
          MergeSqlCompiler.xlate(a.take(i).trim, tA, sA) ->
            expr(MergeSqlCompiler.xlate(a.drop(i + 1).trim, tA, sA))
        }
        // misspelled / duplicated SET columns abort, never silently
        // no-op — the UpdateSqlCompiler validation contract
        val tgtCols = tgt.columns.map(_.toLowerCase).toSet
        val bad = assignments.map(_._1).filterNot(c => tgtCols(c.toLowerCase))
        require(bad.isEmpty,
          s"UPDATE SET names column(s) absent from target ${tgtName}: " +
            bad.mkString(", "))
        val dup = assignments.map(_._1).groupBy(_.toLowerCase)
          .filter(_._2.size > 1)
        require(dup.isEmpty,
          s"UPDATE SET assigns column(s) more than once: " +
            dup.keys.mkString(", "))
        val setLc = assignments.map { case (k, v) => k.toLowerCase -> v }.toMap
        val wherePred = whereOpt
          .map(w => coalesce(expr(MergeSqlCompiler.xlate(w, tA, sA)), lit(false)))
          .getOrElse(lit(true))
        val tgtWithId = tgt.withColumn("__graft_tid",
          monotonically_increasing_id())
        val joined = tgtWithId.join(srcP, joinCond, "left_outer")
        val isMatched = col("__graft_smatch").isNotNull
        // every target row keeps its unique tid in a LEFT join, so the
        // guard window has no null-key funnel to salt around
        val guarded = joined.withColumn("__graft_mcnt",
          count(when(isMatched, lit(1)))
            .over(Window.partitionBy(col("__graft_tid"))))
        val kept = guarded.filter(
          when(col("__graft_mcnt") > 1,
            raise_error(lit(s"UPDATE ${tgtName} FROM: a target row is " +
              "matched by multiple source rows — T-SQL leaves which one " +
              "wins undefined; compact the source to one row per join " +
              "key first")).cast("boolean"))
            .otherwise(lit(true)))
        // INNER: only matched rows update. LEFT (T-SQL): EVERY target
        // row rides the result set — unmatched rows see NULL source
        // columns, so a source-referencing SET assigns NULL and a
        // source-referencing WHERE evaluates NULL → false (the same
        // WHERE-is-TRUE rule); the left_outer frame already models
        // both, so the only difference IS the fire predicate
        val fire = if (isLeft) wherePred else isMatched && wherePred
        val out = kept.select(tgt.schema.fields.toSeq.map { f =>
          setLc.get(f.name.toLowerCase) match {
            case Some(e) =>
              when(fire, e).otherwise(col(f.name)).cast(f.dataType).as(f.name)
            case None => col(f.name).as(f.name)
          }
        }: _*)
        // OUTPUT…INTO on the join-update: the audit frame is the FIRED
        // rows of the SAME guarded join (the multi-match abort rides it
        // too) projected through the deleted/inserted images — deleted =
        // the pre-image target column, inserted = the SET expression on
        // the PRE-update row (which may reference the source leg). No
        // second join is planned.
        val side = outSpec.map { case (itemsStr, auditName, colListOpt) =>
          val items = OutputIntoSqlCompiler.parseItems(itemsStr).get
          val fired = kept.filter(fire)
          val itemCols = OutputIntoSqlCompiler.itemColumns(items, tgt,
            tgtName, setLc)
          (auditName,
            OutputIntoSqlCompiler.auditFrame(fired, itemCols,
              resolve(auditName), auditName, colListOpt),
            SaveMode.Append)
        }
        SqlOutcome(Some(out), Some(tgtName), SaveMode.Overwrite,
          // @@ROWCOUNT after UPDATE…FROM = target rows where the join
          // matched AND the WHERE fired (the guarded frame reuses the
          // one join; a multi-match still aborts through raise_error)
          affected = Some(() => kept.filter(fire).count()),
          side = side.toList)
      }
    }
  }
}
