package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Literal `INSERT INTO t [(cols)] VALUES (row), …` → Spark compile —
  * the audit/sync-log idiom the reference's own InventorySync package
  * carries (`Update Sync Log`: a VALUES insert into etl.SyncLog followed
  * by an UPDATE — with this compiler plus the script executor, that
  * whole statement class runs end-to-end):
  *
  *  - every row compiles through one `spark.sql(SELECT * FROM VALUES …)`
  *    (rows with function calls parse via [[MergeSqlCompiler.balanced]]);
  *  - T-SQL `GETDATE()` translates to `current_timestamp()` (the same
  *    mapping the SSIS expression surface uses for GETDATE);
  *  - with a column list, values align to the TARGET schema: named
  *    columns cast to the target type, absent columns become typed
  *    NULLs, unknown/duplicate names abort loudly (the MergeSqlCompiler
  *    validation contract);
  *  - without a column list the arity must match and values align
  *    positionally;
  *  - a target that does not exist yet (log-table bootstrap) requires a
  *    column list and is created by the Append write.
  *
  * Subqueries in VALUES and quoted identifiers decline (manual review).
  * `INSERT INTO … SELECT` never matches here — that statement class
  * stays with [[SqlPatternRewriter]]. */
object InsertValuesSqlCompiler {

  private val prefixRe =
    ("(?is)^\\s*insert\\s+into\\s+([^\\s(;]+)\\s*" +
      "(?:\\(([^)]*)\\))?\\s*values\\s*\\(").r

  private val nextRowRe = "(?s)^\\s*,\\s*\\(".r

  private val valuesKeywordRe = "(?i)\\bselect\\b".r
  private def disqualified(body: String): Boolean =
    MergeSqlCompiler.bodyDisqualified(body, valuesKeywordRe)

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    // translate GETDATE() in UNQUOTED segments only — the text
    // 'via GETDATE() nightly' inside a literal is data, not a call
    val sql = SqlText.translateGetdate(SqlText.stripComments(task.sqlStatement))
    prefixRe.findFirstMatchIn(sql).flatMap { m =>
      // collect every balanced (row) group: (a, b), (c, d), ... ;?
      val rows = scala.collection.mutable.ListBuffer.empty[String]
      val msk = SqlLex.mask(sql)
      var pos = m.end
      var ok = true
      var done = false
      while (ok && !done) {
        SqlLex.close(msk, pos) match {
          case c if c >= 0 =>
            rows += sql.substring(pos, c)
            val after = c + 1
            nextRowRe.findPrefixMatchOf(sql.substring(after)) match {
              case Some(nm) => pos = after + nm.end
              case None =>
                done = true
                ok = sql.substring(after).matches("(?s)\\s*;?\\s*")
            }
          case _ => ok = false; done = true
        }
      }
      val colList = Option(m.group(2))
        .map(SqlLex.splitTop(_).map(_.trim)).getOrElse(Nil)
      if (!ok || rows.isEmpty || rows.exists(disqualified) ||
        colList.exists(c => !c.matches("[A-Za-z_][A-Za-z0-9_]*"))) None
      else Some {
        val tgtName = m.group(1)
        val dup = colList.groupBy(_.toLowerCase).filter(_._2.size > 1)
        require(dup.isEmpty,
          s"INSERT names column(s) more than once: ${dup.keys.mkString(", ")}")
        colList.headOption.foreach { _ =>
          rows.foreach(r => require(
            SqlLex.splitTop(r).length == colList.length,
            s"INSERT arity mismatch: ${colList.length} columns, row ($r)"))
        }
        val alias =
          if (colList.nonEmpty) colList.mkString("__graft_v(", ", ", ")")
          else {
            val n = SqlLex.splitTop(rows.head).length
            (1 to n).map("c" + _).mkString("__graft_v(", ", ", ")")
          }
        val values = spark.sql("SELECT * FROM VALUES " +
          rows.map("(" + _ + ")").mkString(", ") + " AS " + alias)
        val tgtOpt = scala.util.Try(resolve(tgtName)).toOption
        val aligned = tgtOpt match {
          case Some(tgt) if colList.nonEmpty =>
            val tgtCols = tgt.columns.map(_.toLowerCase).toSet
            val bad = colList.filterNot(c => tgtCols(c.toLowerCase))
            require(bad.isEmpty,
              s"INSERT names column(s) absent from target ${tgtName}: " +
                bad.mkString(", "))
            val byLc = colList.map(c => c.toLowerCase -> c).toMap
            values.select(tgt.schema.fields.toSeq.map { f =>
              byLc.get(f.name.toLowerCase)
                .map(col(_).cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType)).as(f.name)
            }: _*)
          case Some(tgt) =>
            require(values.columns.length == tgt.columns.length,
              s"INSERT arity mismatch: target ${tgtName} has " +
                s"${tgt.columns.length} columns, VALUES rows carry " +
                s"${values.columns.length}")
            values.select(values.columns.toSeq.zip(tgt.schema.fields.toSeq)
              .map { case (v, f) => col(v).cast(f.dataType).as(f.name) }: _*)
          case None =>
            require(colList.nonEmpty,
              s"INSERT into absent table ${tgtName} needs a column list " +
                "to bootstrap it")
            values
        }
        // @@ROWCOUNT after INSERT…VALUES = the literal row count, known
        // at compile time — no Spark action needed
        SqlOutcome(Some(aligned), Some(tgtName), SaveMode.Append,
          affected = Some(() => rows.length.toLong))
      }
    }
  }
}
