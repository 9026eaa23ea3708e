package graft.expr

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Driver-local evaluation of one scalar expression — the single path
  * for every FROM-less answer the control flow needs (SSIS variable and
  * constraint expressions, T-SQL `SET @v = …`, WHILE/IF predicates).
  *
  * The expression is projected over a one-row, ZERO-column
  * `LocalRelation`. Catalyst's `ConvertToLocalRelation` folds the
  * literal-only projection at optimization time into a one-row
  * `LocalRelation`, whose value is read straight from the optimized plan:
  * no physical plan, no query execution, no Spark job. An error the fold
  * raises (`1/0`, a bad CAST) is the one the query would raise. A
  * projection the optimizer does not fold runs as a query (`head()`).
  * A FROM-less `spark.sql("SELECT <expr>")`
  * instead plans `OneRowRelation` as an RDD scan: one job, a closure
  * clean and a scheduler round trip per evaluation. The zero-column
  * frame leaves nothing for an unqualified identifier to bind to, so a
  * stray name still fails analysis exactly as it does FROM-less. A
  * scalar subquery is not foldable; it runs as the query it is, against
  * the catalog state of the moment. */
object LocalEval {

  def apply(spark: SparkSession, c: Column): Any = {
    val oneRow = spark.createDataFrame(
      java.util.Collections.singletonList(Row()), StructType(Nil))
    val projected = oneRow.select(c.as("v"))
    projected.queryExecution.optimizedPlan match {
      case LocalRelation(Seq(v), Seq(row), _, _) =>
        CatalystTypeConverters.convertToScala(row.get(0, v.dataType), v.dataType)
      case _ =>
        val row = projected.head()
        if (row.isNullAt(0)) null else row.get(0)
    }
  }

  /** One Spark SQL expression as text (the select-list item a FROM-less
    * `SELECT` would carry). */
  def sql(spark: SparkSession, expression: String): Any =
    apply(spark, expr(expression))
}
