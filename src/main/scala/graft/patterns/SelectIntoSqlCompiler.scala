package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** T-SQL `SELECT … INTO <target> FROM …` → Spark compile — the other
  * ubiquitous table-creation idiom beside `INSERT INTO … SELECT`
  * (which [[SqlPatternRewriter]] owns): the statement both RUNS a
  * query and CREATES its target. Compiled by excising the top-level
  * `INTO <target>` clause and executing the remaining pure SELECT
  * (through [[WindowSqlLowering]]'s scale-safe rank path when it is
  * that shape, raw `spark.sql` otherwise), written as the target's
  * FIRST generation.
  *
  * T-SQL errors when the target already exists (Msg 2714); this
  * compile replicates that loudly — a resolvable target aborts instead
  * of silently overwriting a table the author believed they were
  * creating. Declined to manual review: an INTO inside a subquery
  * (depth > 0 — that one belongs to the inner query), several INTOs,
  * bracketed/quoted targets, `#temp` / `@tablevar` targets (session
  * state this replay does not model). */
object SelectIntoSqlCompiler {

  private val selectHeadRe = "(?is)^\\s*select\\b".r
  private val intoRe = "(?i)\\binto\\s+([^\\s;,()]+)".r

  /** Parse-only classification twin of [[rewrite]] (no frames touched,
    * no 2714 probe): the mapping ledger reports target + strategy. */
  private[graft] def shapeTarget(sqlRaw: String): Option[String] = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    if (selectHeadRe.findFirstIn(msk).isEmpty) return None
    val depth = SqlLex.depths(msk)
    intoRe.findAllMatchIn(msk).filter(m => depth(m.start) == 0).toList match {
      case m :: Nil =>
        val target = sql.substring(m.start(1), m.end(1))
        if (MergeSqlCompiler.hasQuotedIdentifier(target) ||
          target.startsWith("#") || target.startsWith("@")) None
        else Some(target)
      case _ => None
    }
  }

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val sql = SqlText.stripComments(task.sqlStatement)
    val msk = SqlLex.mask(sql)
    if (selectHeadRe.findFirstIn(msk).isEmpty) return None
    val depth = SqlLex.depths(msk)
    val intos = intoRe.findAllMatchIn(msk).filter(m => depth(m.start) == 0).toList
    intos match {
      case m :: Nil =>
        val target = sql.substring(m.start(1), m.end(1))
        if (MergeSqlCompiler.hasQuotedIdentifier(target) ||
          target.startsWith("#") || target.startsWith("@")) None
        else Some {
          require(scala.util.Try(resolve(target)).isFailure,
            s"SELECT INTO ${target}: there is already an object named " +
              s"'${target}' (T-SQL error 2714) — SELECT INTO creates its " +
              "target; use INSERT INTO … SELECT to load an existing table")
          val pure = sql.substring(0, m.start) + " " + sql.substring(m.end)
          val selected = SqlPatternRewriter.runSelect(spark, pure)
          SqlOutcome(Some(selected), Some(target), SaveMode.Overwrite,
            affected = Some(() => selected.count()))
        }
      case _ => None
    }
  }
}
