package graft.expr

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Driver-local evaluation of one scalar expression — the single path
  * for every FROM-less answer the control flow needs (SSIS variable and
  * constraint expressions, T-SQL `SET @v = …`, WHILE/IF predicates).
  *
  * The expression is projected over a one-row, ZERO-column
  * `LocalRelation`. Catalyst's `ConvertToLocalRelation` folds the
  * literal-only projection at optimization time and
  * `LocalTableScanExec` returns the row on the driver, so an evaluation
  * launches no Spark job. A FROM-less `spark.sql("SELECT <expr>")`
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
    val row = oneRow.select(c.as("v")).head()
    if (row.isNullAt(0)) null else row.get(0)
  }

  /** One Spark SQL expression as text (the select-list item a FROM-less
    * `SELECT` would carry). */
  def sql(spark: SparkSession, expression: String): Any =
    apply(spark, expr(expression))
}
