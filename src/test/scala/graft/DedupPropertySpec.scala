package graft

import graft.dedup.DedupOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the dedup/similarity signature algebra: Jaccard
  * bounds/symmetry, MinHash permutation-invariance and containment
  * monotonicity, SimHash range. One Spark job per property — the samples
  * ride as rows of a single DataFrame, not per-sample jobs. */
class DedupPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val word: Gen[String] = for {
    n <- Gen.choose(1, 8)
    cs <- Gen.listOfN(n, Gen.alphaLowerChar)
  } yield cs.mkString

  private val doc: Gen[String] = for {
    n <- Gen.choose(1, 40)
    ws <- Gen.listOfN(n, word)
  } yield ws.mkString(" ")

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L + i)))

  test("jaccard: bounded, reflexive on non-empty sets, symmetric") {
    val docs = sample(Gen.zip(doc, doc), 80)
    val df = docs.toDF("a", "b")
      .withColumn("sha", DedupOps.shingles(col("a"), 3))
      .withColumn("shb", DedupOps.shingles(col("b"), 3))
      .select(
        DedupOps.jaccard(col("sha"), col("shb")).as("jab"),
        DedupOps.jaccard(col("shb"), col("sha")).as("jba"),
        DedupOps.jaccard(col("sha"), col("sha")).as("jaa"))
    df.collect().foreach { r =>
      val (jab, jba, jaa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(jab >= 0.0 && jab <= 1.0)
      assert(jab === jba) // exact: same integer intersect/union both ways
      assert(jaa === 1.0)
    }
  }

  test("minhash signature: invariant under shingle order, monotone under containment") {
    val docs = sample(doc, 60)
    val df = docs.toDF("text")
      .withColumn("sh", DedupOps.shingles(col("text"), 3))
      // reversed shingle array = same SET, must give the same signature
      .withColumn("sig", DedupOps.minhashSignatureArray(
        DedupOps.hashedShingles(col("sh"))))
      .withColumn("sig_rev", DedupOps.minhashSignatureArray(
        DedupOps.hashedShingles(reverse(col("sh")))))
      // superset (extra shingle) can only lower or keep each min
      .withColumn("sig_sup", DedupOps.minhashSignatureArray(
        DedupOps.hashedShingles(array_union(col("sh"), array(lit("zz qq xx"))))))
    df.select("sig", "sig_rev", "sig_sup").collect().foreach { r =>
      val sig = r.getSeq[Long](0)
      val rev = r.getSeq[Long](1)
      val sup = r.getSeq[Long](2)
      assert(sig === rev)
      sig.zip(sup).foreach { case (s, sp) => assert(sp <= s) }
    }
  }

  test("native graft_minhash_sig matches the higher-order-function fold") {
    val docs = sample(doc, 80) ++ Seq("", "one", "a b", "a b c", "a b c d e")
    val df = docs.toDF("text")
      .withColumn("hs", DedupOps.hashedShingles(DedupOps.shingles(col("text"), 3)))
      .withColumn("native", DedupOps.minhashSignatureArray(col("hs")))
      .withColumn("hof", ParityReferences.minhashSignatureArrayHof(col("hs")))
    df.select("native", "hof").collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // null array -> null signature, both paths
    val nulls = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS hs")
      .select(DedupOps.minhashSignatureArray(col("hs")).as("native"),
        ParityReferences.minhashSignatureArrayHof(col("hs")).as("hof"))
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // null ELEMENTS are skipped like least() skips them
    val withNull = spark.sql("SELECT array(5L, CAST(NULL AS BIGINT), 9L) AS hs")
      .select(DedupOps.minhashSignatureArray(col("hs")).as("native"),
        ParityReferences.minhashSignatureArrayHof(col("hs")).as("hof"))
      .collect().head
    assert(withNull.getSeq[Long](0) === withNull.getSeq[Long](1))
  }

  test("connected components: chains close transitively, isolated vertices self-label") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 10-11,
    // isolated 20
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a", "b")
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val got = DedupOps.connectedComponents(edges, verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connected components: long chain converges through the shrinking frontier (r19)") {
    // an 8-node chain keyed so the min label enters at one END: every
    // round the frontier is exactly the wavefront (one vertex), the
    // adversarial case for changed-only propagation — a dropped resend
    // would freeze the wave and leave the tail self-labeled
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    val verts = (1L to 8L).toDF("id")
    val got = DedupOps.connectedComponents(edges, verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 8L).map(_ -> 1L).toMap)
    // and with the min in the MIDDLE (waves travel both directions)
    val edges2 = Seq((5L, 9L), (9L, 3L), (3L, 8L), (8L, 1L), (1L, 7L), (7L, 6L))
      .toDF("a", "b")
    val verts2 = Seq(5L, 9L, 3L, 8L, 1L, 7L, 6L).toDF("id")
    val got2 = DedupOps.connectedComponents(edges2, verts2, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.values.toSet === Set(1L))
  }

  test("simhash(8) stays in [0, 255] and is deterministic") {
    val docs = sample(doc, 60)
    val df = docs.toDF("text")
      .select(DedupOps.simhash(col("text"), 8).as("h1"),
        DedupOps.simhash(col("text"), 8).as("h2"))
    df.collect().foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 255)
      assert(r.getInt(0) === r.getInt(1))
    }
  }

  test("simhashLong ≡ simhash on shared widths; wide signatures exceed Int range") {
    val docs = sample(doc, 40)
    docs.toDF("text")
      .select(DedupOps.simhash(col("text"), 16).cast(org.apache.spark.sql.types.LongType).as("i"),
        DedupOps.simhashLong(col("text"), 16).as("l"))
      .collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // a 48-bit signature needs the Long fold; high bits must be reachable
    val wide = docs.toDF("text")
      .select(DedupOps.simhashLong(col("text"), 48).as("w"))
      .collect().map(_.getLong(0))
    assert(wide.forall(w => w >= 0 && w < (1L << 48)))
    assert(wide.exists(_ > Int.MaxValue.toLong), "no signature used bits past 31")
  }

  test("simhash single-pass fold ≡ naive per-bit aggregate (the oracle's form)") {
    // the production form hashes each token once and folds all bits in
    // one pass; the x07 DuckDB oracle (and the pre-optimization code)
    // computes one aggregate per bit — they must agree bit-for-bit
    def naive(text: org.apache.spark.sql.Column, bits: Int) = {
      val toks = array_distinct(graft.text.TextOps.tokens(text))
      val sums = (0 until bits).map { b =>
        aggregate(toks, lit(0), (acc, w) =>
          acc + (shiftright(graft.text.TextOps.stableHash64(w), b)
            .bitwiseAND(lit(1L)) * 2 - 1).cast(org.apache.spark.sql.types.IntegerType))
      }
      sums.zipWithIndex.map { case (s, b) =>
        when(s >= 0, lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _)
    }
    // includes NULL text: both forms must yield 0, never NULL — a NULL
    // signature would vanish from blocked joins via the pushed isnotnull
    val docs: Seq[Option[String]] =
      sample(doc, 80).map(Option(_)) ++
        Seq(None, Some(""), Some("one"), Some("a a a a"))
    val rows = docs.toDF("text")
      .select(DedupOps.simhash(col("text"), 8).as("fast"),
        naive(col("text"), 8).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0), "simhash must never be NULL")
      assert(r.getInt(0) === r.getInt(1))
    }
  }
}
