package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed joins — the shuffle-elimination tool for repeated joins.
  *
  * A join between two tables bucketed into the same number of buckets on
  * the join key needs NO Exchange: each task reads bucket i of both sides
  * and merges. Pay the partitioning once at staging time ([[Staged.tables]]
  * writes and registers the bucketed tables), then every downstream join
  * on that key is co-located — the difference between one shuffle per run
  * and one shuffle per INGEST at 100 TB. (The reference's analog is the
  * indexed staging table its generated DDL creates before fact loads —
  * reference `src/validation/validator.py` staging compare; dbt
  * `{{ config(materialized='table') }}` + warehouse-side clustering.)
  */
object Bucketing {

  /** Inner equi-join of two staged bucketed tables. With equal bucket
    * counts on the join keys Spark plans a sort-merge join with ZERO
    * Exchange (asserted in PlanShapeSpec). */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
