package graft

import graft.dedup.DedupOps
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the r19-optimization fused Jaccard kernel: the native
  * graft_jaccard must be bit-identical to the intersect/union HOF
  * spelling it replaced —
  * `size(array_intersect(a,b))::DOUBLE / size(array_union(a,b))::DOUBLE`
  * — on real candidate-pair shingle sets AND on the set-semantics edges
  * (duplicates, NULL elements, NULL arrays, empty∪empty → NULL divide).
  * x06/x12/x14/x72/x98 ride this verify kernel; their oracle gates stay
  * the end-to-end check. */
class JaccardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("graft_jaccard equals the intersect/union HOF on real shingle pairs (n=2,3)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    for (n <- Seq(2, 3)) {
      // all same-bucket pairs — the x12-style blocked pair shape
      val d = docs.select(col("doc_id"), (col("doc_id") % 7).as("b"),
        DedupOps.shingles(col("text"), n).as("sh"))
      val pairs = d.join(
        d.toDF("id2", "b2", "sh2"),
        col("b") === col("b2") && col("doc_id") < col("id2"))
      val both = pairs.select(col("doc_id"), col("id2"),
        DedupOps.jaccard(col("sh"), col("sh2")).as("got"),
        ParityReferences.jaccardHof(col("sh"), col("sh2")).as("ref"))
        .as[(Long, Long, Option[Double], Option[Double])].collect()
      assert(both.nonEmpty)
      both.foreach { case (a, b, got, ref) =>
        assert(got === ref, s"jaccard drifted on pair ($a,$b), n=$n")
      }
      // the doubles must be BIT-identical, not approximately equal
      assert(both.forall { case (_, _, g, r) =>
        g.map(java.lang.Double.doubleToRawLongBits) ===
          r.map(java.lang.Double.doubleToRawLongBits)
      })
    }
  }

  test("graft_jaccard set-semantics edges equal the HOF (dups, NULL elements, empties)") {
    val at = ArrayType(StringType, containsNull = true)
    val rows = Seq(
      (1L, Seq("a", "b", "c"), Seq("b", "c", "d")),
      (2L, Seq("a", "a", "b"), Seq("a", "b", "b")),   // duplicates collapse
      (3L, Seq("a", null, "b"), Seq(null, "c")),      // NULL ∈ both sides
      (4L, Seq("a", null), Seq("b", "c")),            // NULL ∈ one side
      (5L, Seq.empty[String], Seq.empty[String]),     // 0/0 → NULL (Divide rule)
      (6L, Seq.empty[String], Seq("x")),
      (7L, Seq("x"), Seq("x")),
      (8L, null, Seq("x")),                           // NULL array → NULL
      (9L, Seq("x"), null))
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), col("a").cast(at).as("a"), col("b").cast(at).as("b"))
    val got = df.select(col("id"), DedupOps.jaccard(col("a"), col("b")))
      .as[(Long, Option[Double])].collect().toMap
    // reference = the HOF guarded on the 0-union edge: under ANSI (the
    // Spark 4 default) a bare 0/0 Divide THROWS; the native expression
    // yields NULL there — the non-ANSI Divide result, documented, and
    // unreachable in-tree (shinglesOf never yields an empty set, so the
    // union of any in-tree pair is ≥ 1)
    val union = size(array_union(col("a"), col("b")))
    val refExpr = when(union =!= 0,
      size(array_intersect(col("a"), col("b"))).cast("double") /
        union.cast("double"))
    val ref = df.select(col("id"), refExpr)
      .as[(Long, Option[Double])].collect().toMap
    assert(got === ref)
    assert(got(5L).isEmpty && got(8L).isEmpty && got(9L).isEmpty)
    assert(got(7L) === Some(1.0))
  }

  test("graft_jaccard runs inside whole-stage codegen (no interpreted fallback)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = docs.select(
      DedupOps.jaccard(
        DedupOps.shingles(col("text"), 3),
        TextOps.tokens(col("text"))).as("j"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_jaccard")),
      s"graft_jaccard not inside a codegen stage:\n$plan")
  }
}
