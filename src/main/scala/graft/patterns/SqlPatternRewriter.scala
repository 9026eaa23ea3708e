package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Execute-SQL → Spark rewrite (SURVEY.md §4's "side-effecting SQL → pure
  * select + write mode" compile-time rewrite, mirroring the reference's
  * `_clean_sql_for_dbt` at builder.py:348-368):
  *
  *  - `DELETE FROM t WHERE …; INSERT INTO t (…) SELECT …` (aggregate
  *    refresh, SalesFactETL.dtsx:293-306) → run the SELECT, overwrite `t`
  *  - `TRUNCATE TABLE t; INSERT INTO t SELECT …` (full reload) → same
  *  - `INSERT INTO t SELECT …` → run the SELECT, append to `t`
  *  - `SELECT …` (read-only, e.g. watermark fetch) → run, no write
  *  - guard blocks / MERGE / UPDATE → not rewritten here (None): MERGE
  *    compiles through [[ScdType2]], guards through the validation suite
  *
  * T-SQL → Spark SQL surface translation is intentionally minimal
  * (`@var` parameters must be bound by the caller via `params`); the
  * SELECT itself runs through `spark.sql` against registered views.
  */
object SqlPatternRewriter {

  // target stops at whitespace OR an attached column list's paren:
  // `INSERT INTO dbo.SyncLog(package_name,...)` must yield `dbo.SyncLog`,
  // never the parenthesized text
  private val insertSelectRe =
    "(?is)insert\\s+into\\s+([^\\s(]+)\\s*(?:\\([^)]*\\))?\\s*(select\\b.*?)(?:;|$)".r

  private val bareSelectRe = "(?is)^\\s*(select\\b.*?)(?:;|\\s*$)".r

  private val deleteTargetRe = "(?is)\\bdelete\\s+from\\s+([^\\s(;]+)".r
  private val truncateTargetRe = "(?is)\\btruncate\\s+table\\s+([^\\s(;]+)".r

  // a word-boundary UPDATE anywhere (an IF EXISTS … UPDATE … ELSE INSERT
  // upsert, not just a leading UPDATE) disqualifies the rewrite: executing
  // only the INSERT branch would silently drop the update half
  private val updateStmtRe = "(?i)\\bupdate\\b\\s".r

  /** Strip `-- comments`, surviving XML attribute normalization (a
    * dtsx-sourced statement arrives newline-free — see [[SqlText]]). */
  private def stripComments(sql: String): String = SqlText.stripComments(sql)

  /** Case/bracket-insensitive table-name comparison: `[dbo].[t]`,
    * `dbo.t`, `DBO.T` all name the same table. */
  private[patterns] def sameTable(a: String, b: String): Boolean = {
    def norm(t: String) = t.replace("[", "").replace("]", "").toLowerCase
    norm(a) == norm(b)
  }

  /** `SELECT TOP n …` / `SELECT TOP (n) …` → `SELECT … LIMIT n` — the
    * T-SQL row-cap spelling the reference's own watermark fetch uses
    * (`InventorySync.dtsx`'s `SELECT TOP 1 LastSyncTime … ORDER BY …`);
    * Spark's parser has no TOP, so without the translation the
    * statement class fails loud instead of executing. Only the LEADING
    * top-level TOP translates — a TOP inside a subquery still fails
    * loudly rather than silently capping the wrong query level. */
  private val topRe = "(?is)^(\\s*select)\\s+top\\s*\\(?\\s*(\\d+)\\s*\\)?\\s+".r
  private[patterns] def translateTop(select: String): String =
    topRe.findFirstMatchIn(select) match {
      case Some(m) =>
        select.substring(0, m.end(1)) + " " +
          select.substring(m.end) + s" LIMIT ${m.group(2)}"
      case None => select
    }

  /** Execute a rewritten SELECT — through the scale-safe rank lowering
    * when it is the single-ROW_NUMBER analytic shape
    * ([[WindowSqlLowering]]), raw `spark.sql` otherwise. The T-SQL
    * surface translates first: TOP → LIMIT (the lowering declines
    * LIMIT shapes by design, so a TOP'd select always takes the raw
    * path), CONVERT → CAST/date_format, GETDATE → current_timestamp
    * ([[SqlText.translateConvert]]/[[SqlText.translateGetdate]]). */
  private[patterns] def runSelect(spark: SparkSession, select: String): DataFrame = {
    val s = SqlText.translateGetdate(
      SqlText.translateConvert(translateTop(select)))
    WindowSqlLowering.lower(spark, s).getOrElse(spark.sql(s))
  }

  /** Fold a FROM-less T-SQL predicate on the driver ([[graft.expr.LocalEval]],
    * no job) with [[runSelect]]'s CONVERT/GETDATE translation. CASE folds
    * T-SQL's three-valued IF exactly: UNKNOWN is not-true. */
  private[patterns] def predicateHolds(spark: SparkSession, pred: String): Boolean =
    graft.expr.LocalEval.sql(spark, SqlText.translateGetdate(SqlText.translateConvert(
      s"CASE WHEN ($pred) THEN true ELSE false END"))) == true

  /** Resolve a T-SQL APPLY before compiling: `Some(text)` = use this
    * text (translated, or untouched when no APPLY), `None` = an APPLY
    * is present but off-shape — the task must decline (raw APPLY is
    * not Spark syntax; compiling it would fail loud instead of
    * landing in manual review). */
  private def applyResolved(select: String): Option[String] =
    (ApplySql.translate(select) match {
      case None => Some(select)
      case Some(Right(t)) => Some(t)
      case Some(Left(_)) => None
    }).flatMap { s =>
      // the STUFF(… FOR XML PATH('')) group-concat idiom translates to
      // a correlated collect_list scalar subquery; any OTHER FOR XML is
      // genuine XML shaping — decline, never hand spark.sql the text
      XmlPathAgg.translate(s) match {
        case None => Some(s)
        case Some(Right(t)) => Some(t)
        case Some(Left(_)) => None
      }
    }.flatMap { s =>
      // T-SQL PIVOT IN-lists name values as (bracketed) identifiers;
      // Spark takes aliased literals — same operator, different
      // spelling. Off-shape pivots (UNPIVOT, non-identifier values)
      // decline rather than reach spark.sql as unparseable text
      PivotSql.translate(s) match {
        case None => Some(s)
        case Some(Right(t)) => Some(t)
        case Some(Left(_)) => None
      }
    }

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      params: Map[String, String] = Map.empty): Option[SqlOutcome] = {
    var sql = stripComments(task.sqlStatement)
    // longest names first + a non-word-char guard: @Date must never eat
    // the prefix of @DateEnd (plain replace did, nondeterministically by
    // Map order)
    params.toSeq.sortBy { case (k, _) => -k.length }.foreach { case (k, v) =>
      sql = ("@" + java.util.regex.Pattern.quote(k) + "(?![A-Za-z0-9_])").r
        .replaceAllIn(sql, java.util.regex.Matcher.quoteReplacement(v))
    }
    if (sql.isEmpty) return None
    val upper = sql.toUpperCase
    if (upper.contains("MERGE ") || upper.contains("RAISERROR") ||
      updateStmtRe.findFirstIn(sql).isDefined) return None

    // a leading CTE prefix (`WITH c AS (…) INSERT INTO t SELECT … FROM c`
    // / `WITH … SELECT`) belongs to the SELECT the statement carries —
    // T-SQL's other staging spelling; without the re-attachment the
    // extracted select would reference CTE names that no longer exist
    val msk = graft.patterns.SqlLex.mask(sql)
    val withLead = "(?is)^\\s*with\\b".r.findFirstIn(msk).isDefined

    val inserts = insertSelectRe.findAllMatchIn(sql).toList
    inserts match {
      case m :: Nil =>
        val target = m.group(1)
        val ctePrefix =
          if (withLead && SqlLex.depths(msk)(m.start) == 0)
            sql.substring(0, m.start).trim + " "
          else ""
        val select0 = ctePrefix + m.group(2).trim
        // Overwrite ONLY when the DELETE/TRUNCATE names the SAME table
        // the INSERT refills — a cleanup of some other table must not
        // turn this task into an overwrite that destroys the target's
        // existing rows
        val cleared =
          deleteTargetRe.findAllMatchIn(sql).map(_.group(1)).toList ++
            truncateTargetRe.findAllMatchIn(sql).map(_.group(1)).toList
        val mode =
          if (cleared.exists(sameTable(_, target))) SaveMode.Overwrite
          else SaveMode.Append
        applyResolved(select0).map { select =>
          val selected = runSelect(spark, select)
          // @@ROWCOUNT after INSERT…SELECT = rows the SELECT produced
          SqlOutcome(Some(selected), Some(target), mode,
            affected = Some(() => selected.count()))
        }
      case _ :: _ =>
        // several INSERT…SELECT statements: executing only the first and
        // silently discarding the rest is worse than manual review
        None
      case Nil =>
        bareSelectRe.findFirstMatchIn(sql).flatMap { m =>
          applyResolved(m.group(1)).map { sel =>
            val selected = runSelect(spark, sel)
            // T-SQL sets @@ROWCOUNT after a SELECT too (rows returned)
            SqlOutcome(Some(selected), None,
              affected = Some(() => selected.count()))
          }
        }.orElse {
          // WITH-prefixed pure SELECT (read-only CTE statement): the
          // whole text is the query. DELETE/TRUNCATE alongside a
          // leading WITH is not a shape this rewrite owns
          if (withLead &&
            deleteTargetRe.findFirstIn(msk).isEmpty &&
            truncateTargetRe.findFirstIn(msk).isEmpty) {
            applyResolved(sql).map { sel =>
              val selected = runSelect(spark, sel)
              SqlOutcome(Some(selected), None,
                affected = Some(() => selected.count()))
            }
          } else None
        }
    }
  }
}
