package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Correlated DELETE…FROM (the T-SQL join-delete) → Spark compile — the
  * deletion twin of [[UpdateFromSqlCompiler]], closing the correlated
  * DML pair a real SSIS estate uses to purge by reference data:
  *
  * {{{
  * DELETE <t-alias> FROM <target> [AS] t [INNER | LEFT [OUTER]] JOIN
  *   <source> [AS] s ON t.k = s.k [WHERE <pred>]
  * }}}
  *
  * The DELETE clause must name the FROM leg's target (alias or table
  * name). The LEFT form (owned since r13) is the orphan-purge idiom —
  * `… LEFT JOIN s ON t.k = s.k WHERE s.k IS NULL` deletes target rows
  * whose NULL-extended result row passes the WHERE; in general a
  * target row deletes iff ANY of its result rows fires, carried by a
  * per-identity window over one left_outer join. Declined to manual
  * review: RIGHT/FULL/CROSS joins, a second JOIN,
  * comma-style FROM lists, subqueries, quoted identifiers, trailing
  * statements, and T-SQL's doubled `DELETE FROM t FROM …` spelling
  * (the single-FROM alias form is the canonical authoring).
  * [[DeleteSqlCompiler]]'s single-table regex cannot match the join
  * form (its end anchor rejects a JOIN tail), so chain order is safe
  * in both directions.
  *
  * Compiled as a state replacement over ONE target×source LEFT-ANTI
  * join on `joinCond AND wherePred`: a target row is kept exactly when
  * NO source row both joins to it and satisfies the WHERE (a NULL
  * predicate means "not deleted" — SQL's WHERE-is-TRUE rule). Unlike
  * MERGE's 8672 and UPDATE…FROM's undefined-winner hazard, multi-match
  * needs no guard here: deletion is idempotent in T-SQL too, so the
  * anti-join is exactly the statement's semantics in one shuffle. */
object DeleteFromSqlCompiler {

  /** Groups: 1 delete token, 2 target, 3 OPTIONAL tAlias, 4 optional
    * direction (INNER / LEFT [OUTER]), 5 source, 6 OPTIONAL sAlias,
    * 7 ON, 8 WHERE. The alias lookahead keeps an alias-less
    * `FROM t LEFT JOIN s` from parsing with alias "LEFT" and running
    * inner semantics; absent aliases fall back to the table name. */
  private val aliasBan =
    "(?!(?:inner|left|right|full|cross|outer|join|on|where)\\b)"
  private val deleteFromRe =
    ("(?is)^\\s*delete\\s+([^\\s;]+)\\s+from\\s+([^\\s;]+)" +
      "(?:\\s+(?:as\\s+)?(" + aliasBan + "\\w+))?\\s+" +
      "(?:(inner|left(?:\\s+outer)?)\\s+)?join\\s+" +
      "([^\\s;]+)" +
      "(?:\\s+(?:as\\s+)?(" + aliasBan + "\\w+))?\\s+on\\s+(.+?)" +
      "(?:\\s+where\\s+(.+?))?\\s*;?\\s*$").r

  /** RIGHT/FULL/CROSS stay declined; LEFT is owned since r13 — the
    * orphan-purge idiom (`… LEFT JOIN s ON t.k = s.k WHERE s.k IS
    * NULL`) deletes target rows whose NULL-extended result row passes
    * the WHERE. */
  private val offShapeJoinRe =
    "(?i)\\b(right|full|cross)\\s+join\\b".r

  private val bodyKeywordRe =
    "(?i)\\b(select|insert|update|delete|merge|from|join|output)\\b".r

  /** Parse-only classification twin of [[rewrite]] (no frames touched). */
  private[graft] def shapeMatches(sqlRaw: String): Boolean = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    if (offShapeJoinRe.findFirstIn(msk).isDefined) return false
    deleteFromRe.findFirstMatchIn(msk).exists { m =>
      def g(i: Int): String = sql.substring(m.start(i), m.end(i))
      def gOpt(i: Int): Option[String] =
        if (m.group(i) == null) None else Some(g(i))
      val tA = gOpt(3).getOrElse(g(2))
      val sA = gOpt(6).getOrElse(g(5))
      val bodies = g(7) :: (if (m.group(8) == null) Nil else List(g(8)))
      val namesTarget = g(1).equalsIgnoreCase(tA) ||
        g(1).equalsIgnoreCase(g(2))
      namesTarget && !tA.equalsIgnoreCase(sA) &&
        !bodies.exists(MergeSqlCompiler.bodyDisqualified(_, bodyKeywordRe))
    }
  }

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val sql = SqlText.stripComments(task.sqlStatement)
    val msk = SqlLex.mask(sql)
    if (offShapeJoinRe.findFirstIn(msk).isDefined) return None
    deleteFromRe.findFirstMatchIn(msk).flatMap { m =>
      def g(i: Int): String = sql.substring(m.start(i), m.end(i))
      def gOpt(i: Int): Option[String] =
        if (m.group(i) == null) None else Some(g(i))
      val delTok = g(1)
      val tgtName = g(2)
      val tA = gOpt(3).getOrElse(tgtName)
      val isLeft = m.group(4) != null && g(4).toLowerCase.startsWith("left")
      val srcName = g(5)
      val sA = gOpt(6).getOrElse(srcName)
      val onBody = g(7)
      val whereOpt = gOpt(8)
      val bodies = onBody :: whereOpt.toList
      val namesTarget = delTok.equalsIgnoreCase(tA) ||
        delTok.equalsIgnoreCase(tgtName)
      if (!namesTarget || tA.equalsIgnoreCase(sA) ||
        bodies.exists(MergeSqlCompiler.bodyDisqualified(_, bodyKeywordRe)))
        None
      else Some {
        val tgt = resolve(tgtName)
        val srcP = resolve(srcName).columns
          .foldLeft(resolve(srcName))((d, c) =>
            d.withColumnRenamed(c, MergeSqlCompiler.SrcPrefix + c))
        val joinCond = expr(MergeSqlCompiler.xlate(onBody, tA, sA))
        val firePred = whereOpt
          .map(w => coalesce(expr(MergeSqlCompiler.xlate(w, tA, sA)), lit(false)))
          .getOrElse(lit(true))
        if (!isLeft) {
          val kept = tgt.join(srcP, joinCond && firePred, "left_anti")
          SqlOutcome(Some(kept), Some(tgtName), SaveMode.Overwrite,
            // @@ROWCOUNT after DELETE…FROM = target rows with a firing
            // match — the anti join's complement, one semi-join count
            affected = Some(() =>
              tgt.join(srcP, joinCond && firePred, "left_semi").count()))
        } else {
          // The canonical orphan purge — WHERE is EXACTLY `s.k IS
          // NULL` where k is the ON equality's source-side key —
          // needs no window: a MATCHED row's s.k can never be NULL
          // (NULL keys never join), so "some result row fires" ≡
          // "unmatched" ≡ the anti join, and "keep" ≡ the semi join.
          // One shuffle-free-on-the-probe-side join instead of the
          // general form's row-identity window shuffle. The key
          // restriction is load-bearing: `s.other IS NULL` on a
          // NULLABLE source column also fires on MATCHED rows in
          // T-SQL, which only the window form models.
          val onKeyRe =
            "(?is)^\\s*(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)\\s*$".r
          val whereNullRe = ("(?is)^\\s*" +
            java.util.regex.Pattern.quote(sA) +
            "\\.(\\w+)\\s+is\\s+null\\s*;?\\s*$").r
          val orphanKey = for {
            om <- onKeyRe.findFirstMatchIn(onBody)
            wm <- whereOpt.flatMap(whereNullRe.findFirstMatchIn(_))
            srcSide <- Seq((om.group(1), om.group(2)),
                (om.group(3), om.group(4)))
              .find(_._1.equalsIgnoreCase(sA)).map(_._2)
            if srcSide.equalsIgnoreCase(wm.group(1))
          } yield srcSide
          if (orphanKey.isDefined) {
            val kept = tgt.join(srcP, joinCond, "left_semi")
            SqlOutcome(Some(kept), Some(tgtName), SaveMode.Overwrite,
              affected = Some(() =>
                tgt.join(srcP, joinCond, "left_anti").count()))
          } else {
          // LEFT join, general form: a target row rides the result set
          // once per match, or once NULL-extended when unmatched — it
          // deletes iff ANY of those rows passes the WHERE. One
          // left_outer join on the ON condition alone; the WHERE
          // evaluates per joined row (NULL source columns on the
          // unmatched row, T-SQL's own semantics), then a
          // per-row-identity window keeps rows where NO result row
          // fired. Deletion is idempotent so no multi-match guard —
          // the window is the ANY, not an abort.
          val tgtWithId = tgt.withColumn("__graft_tid",
            monotonically_increasing_id())
          val joined = tgtWithId.join(srcP, joinCond, "left_outer")
          val fired = max(when(firePred, lit(1)).otherwise(lit(0)))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("__graft_tid")))
          val kept = joined.withColumn("__graft_any", fired)
            .filter(col("__graft_any") === 0)
            // one surviving row per target identity (unmatched rows are
            // already unique; matched-but-unfired rows may repeat)
            .withColumn("__graft_rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("__graft_tid"))
                .orderBy(col("__graft_tid"))))
            .filter(col("__graft_rn") === 1)
            .select(tgt.columns.map(col): _*)
          SqlOutcome(Some(kept), Some(tgtName), SaveMode.Overwrite,
            affected = Some(() => {
              val all = tgtWithId.join(srcP, joinCond, "left_outer")
              all.filter(coalesce(firePred, lit(false)))
                .select(col("__graft_tid")).distinct().count()
            }))
          }
        }
      }
    }
  }
}
