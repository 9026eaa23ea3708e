package graft

import graft.dedup.DedupOps
import graft.functions.NativeFunctions
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the r18-optimization fused hash expressions: the
  * native graft_hashed_shingles and graft_cdc_bounds must be
  * bit-identical to the interpreted HOF chains they replaced —
  * `hashedShingles(shinglesOf(toks, n))` and x52's
  * `filter(sequence(2, size), i -> stableHash64(pair) % 64 = 0)` — on
  * the real corpus AND on the edge shapes (short docs, empty text,
  * duplicate shingles). x06/x14/x52/x72/x98 ride these fronts; their
  * oracle gates stay the end-to-end check. */
class ShingleHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def realDocs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  private def edgeDocs = Seq(
    (1L, ""),                         // split("") = [""] → the "" shingle
    (2L, "one"),                      // below n: single truncated shingle
    (3L, "one two"),
    (4L, "a b c a b c a b c"),        // duplicate shingles → distinct set
    (5L, "x y z w v u t s r q p o")).toDF("doc_id", "text")

  test("graft_hashed_shingles equals hashedShingles∘shinglesOf (real + edge docs, n=3 and n=2)") {
    for (docs <- Seq(realDocs, edgeDocs); n <- Seq(2, 3)) {
      val toks = TextOps.tokens(col("text"))
      val ref = docs.select(col("doc_id"),
        DedupOps.hashedShingles(DedupOps.shinglesOf(toks, n)).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      val got = docs.select(col("doc_id"),
        DedupOps.hashedShinglesOf(toks, n).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(got === ref, s"fused shingle hash drifted (n=$n)")
      assert(got.values.exists(_.nonEmpty))
    }
  }

  test("graft_cdc_bounds equals the filter-over-sequence HOF (real + edge docs)") {
    for (docs <- Seq(realDocs, edgeDocs)) {
      val base = docs.select(col("doc_id"),
        TextOps.tokens(col("text")).as("toks"))
      val w = col("toks")
      val refExpr = filter(
        when(size(w) >= 2, sequence(lit(2), size(w)))
          .otherwise(array().cast(ArrayType(IntegerType))),
        i => TextOps.stableHash64(
          concat(element_at(w, i - 1), lit(" "), element_at(w, i))) % 64 === 0)
      val ref = base.select(col("doc_id"), refExpr.as("b"))
        .as[(Long, Seq[Int])].collect().toMap
      val got = base.select(col("doc_id"),
        NativeFunctions.cdcBounds(w, 64L).as("b"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(got === ref, "cdc bounds drifted from the HOF form")
    }
  }

  test("TextOps.ngrams (native) equals the HOF spelling (real + edge docs, n=2,5,8)") {
    for (docs <- Seq(realDocs, edgeDocs); n <- Seq(2, 5, 8)) {
      val toks = TextOps.tokens(col("text"))
      val ref = docs.select(col("doc_id"), ParityReferences.ngramsHof(toks, n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val got = docs.select(col("doc_id"), TextOps.ngrams(toks, n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got === ref, s"native ngrams drifted from the HOF form (n=$n)")
    }
    // NULL toks: the old `when` guard yielded [], the coalesce keeps that
    val out = Seq(1).toDF("one")
      .select(lit(null).cast("array<string>").as("toks"))
      .select(TextOps.ngrams(col("toks"), 2).as("g"))
      .as[Seq[String]].head()
    assert(out === Seq.empty)
  }

  test("DedupOps.shinglesOf (native) equals the HOF spelling (real + edge docs, n=2 and n=3)") {
    for (docs <- Seq(realDocs, edgeDocs); n <- Seq(2, 3)) {
      val toks = TextOps.tokens(col("text"))
      val ref = docs.select(col("doc_id"), ParityReferences.shinglesOfHof(toks, n).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      val got = docs.select(col("doc_id"), DedupOps.shinglesOf(toks, n).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got === ref, s"native shingles drifted from the HOF form (n=$n)")
    }
  }

  test("TextOps.languageIdOf (native) equals the fold spelling (real + adversarial docs)") {
    // adversarial: empty text, the es/fr-shared marker "la", exact ties
    // between two languages (tie must break alphabetically), und
    val tricky = Seq(
      (101L, ""), (102L, "la la la"), (103L, "the la of la und"),
      (104L, "el le"), (105L, "zzz qqq"), (106L, "的 的 the the"))
      .toDF("doc_id", "text")
    for (docs <- Seq(realDocs, tricky)) {
      val toks = TextOps.tokens(col("text"))
      val ref = docs.select(col("doc_id"), ParityReferences.languageIdOfHof(toks).as("l"))
        .as[(Long, String)].collect().toMap
      val got = docs.select(col("doc_id"), TextOps.languageIdOf(toks).as("l"))
        .as[(Long, String)].collect().toMap
      assert(got === ref, "native languageId drifted from the fold form")
    }
    // NULL toks: the fold yielded "und" (size(null) propagates to a
    // null-guarded when) — the coalesce keeps that
    val out = Seq(1).toDF("one")
      .select(lit(null).cast("array<string>").as("toks"))
      .select(TextOps.languageIdOf(col("toks")).as("l")).as[String].head()
    assert(out === "und")
  }

  test("graft_token_tuples equals the struct-transform HOF (pairs and triples)") {
    for ((n, hof) <- Seq(
      (2, "transform(sequence(1, size(toks) - 1), " +
        "i -> struct(toks[i-1] AS a, toks[i] AS b))"),
      (3, "transform(sequence(2, size(toks) - 1), " +
        "i -> struct(toks[i-2] AS a, toks[i-1] AS b, toks[i] AS c))"))) {
      val base = realDocs.unionByName(edgeDocs)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= n) // the callers' guard
      val ref = base.select(col("doc_id"), expr(hof).cast("array<string>").as("t"))
        .as[(Long, Seq[String])].collect().toMap
      val got = base.select(col("doc_id"),
        NativeFunctions.tokenTuples(col("toks"), n).cast("array<string>").as("t"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got === ref, s"native token tuples drifted (n=$n)")
      assert(got.values.exists(_.nonEmpty))
    }
  }

  test("hash60 kernel equals the SQL spelling conv(substring(md5, 1, 15), 16, 10)") {
    val strs = Seq("", " ", "a", "hello world", "üñïçödé", "0|x", "a b c")
    val df = strs.toDF("s")
    val sql = df.select(
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("bigint").as("h"))
      .as[Long].collect().toSeq
    val kernel = strs.map(s =>
      graft.functions.ShingleHashOps.hash60(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(kernel === sql)
  }

  test("NULL-toks contracts match the HOF chains; expressions stay codegen'd over a real scan") {
    val nulls = Seq(1).toDF("one")
      .select(lit(null).cast("array<string>").as("toks"))
    // the HOF chains never yield NULL for NULL toks: shinglesOf gives the
    // single "" shingle (greatest(size(null)−(n−1), 1) = 1), so the fused
    // wrappers must reproduce [hash60("")] / [""] — pinned against the
    // HOF spellings directly
    val out = nulls.select(
      DedupOps.hashedShinglesOf(col("toks"), 3).as("h"),
      DedupOps.shinglesOf(col("toks"), 3).as("s"),
      NativeFunctions.cdcBounds(col("toks"), 64L).as("b")).head()
    val refNull = nulls.select(
      DedupOps.hashedShingles(ParityReferences.shinglesOfHof(col("toks"), 3)).as("h"),
      ParityReferences.shinglesOfHof(col("toks"), 3).as("s")).head()
    assert(out.getSeq[Long](0) === refNull.getSeq[Long](0))
    assert(out.getSeq[String](1) === refNull.getSeq[String](1))
    assert(out.isNullAt(2)) // x52 wraps the bounds in its own coalesce
    val df = realDocs.select(
      DedupOps.hashedShinglesOf(TextOps.tokens(col("text")), 3).as("h"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_hashed_shingles")),
      s"graft_hashed_shingles not inside a codegen stage:\n$plan")
  }
}
