package graft

import graft.ops.RangeJoin
import graft.sim.SimilarityOps
import graft.text.CorpusOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 operators: binned interval join, snapshot diff, semantic
  * dedup. Planted inputs with hand-checked expectations. */
class RangeJoinAndDiffSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  // ------------------------------------------------------------ RangeJoin
  test("binnedIntervalJoin matches the naive range join, half-open bounds") {
    val points = (0L to 100L).map(i => (i, i * 7 % 97)).toDF("pid", "x")
    val ivs = Seq(
      (1L, 0L, 10L), (2L, 5L, 25L), (3L, 25L, 25L), // empty: matches nothing
      (4L, 90L, 97L), (5L, 40L, 41L)).toDF("iv", "s", "e")
    val binned = RangeJoin.binnedIntervalJoin(points, "x", ivs, "s", "e", 8L)
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    val naive = points.join(ivs, col("x") >= col("s") && col("x") < col("e"))
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    assert(binned === naive)
    // exactly-once: no post-join dedup needed even with overlapping intervals
    val cnt = RangeJoin.binnedIntervalJoin(points, "x", ivs, "s", "e", 8L).count()
    assert(cnt === binned.size)
    // boundary: x == s included, x == e excluded
    assert(binned.contains((0L, 1L)))        // x=0 at start of [0,10)
    assert(!naive.exists(_._2 === 3L))       // empty interval
  }

  test("binnedIntervalJoin handles negative domains (floorDiv, not truncate)") {
    val points = Seq((1L, -5L), (2L, -1L), (3L, 0L), (4L, 3L)).toDF("pid", "x")
    val ivs = Seq((10L, -6L, 1L)).toDF("iv", "s", "e")
    val got = RangeJoin.binnedIntervalJoin(points, "x", ivs, "s", "e", 4L)
      .select("pid").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L)) // -5, -1, 0 ∈ [-6, 1); 3 is not
  }

  test("binnedIntervalJoin plans an equi hash join on the bin, never BNLJ") {
    val points = (0L to 100L).map(i => (i, i)).toDF("pid", "x")
    val ivs = (0L to 20L).map(i => (i, i * 4, i * 4 + 9)).toDF("iv", "s", "e")
    val plan = RangeJoin.binnedIntervalJoin(points, "x", ivs, "s", "e", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ----------------------------------------------------------- snapshotDiff
  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val oldGen = Seq((1L, 11L), (2L, 22L), (3L, 33L)).toDF("id", "fp")
    val newGen = Seq((2L, 22L), (3L, 99L), (4L, 44L)).toDF("id", "fp")
    val got = CorpusOps.snapshotDiff(oldGen, newGen, "id", "fp")
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  // ------------------------------------------------------------- ZOrder
  test("zValue2 interleaves bits (hand-checked Morton codes)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L)).toDF("a", "b")
    val got = df.select(graft.ops.ZOrder.zValue2(col("a"), col("b"), 4))
      .as[Long].collect().toSeq
    // morton(3,5) : a=0011 -> bits 0,2 at even slots = 1+16; b=0101 ->
    // bits 0,2 at odd slots = 2+32 ... a bit0->1, a bit1->4; b bit0->2, b bit2->32
    assert(got === Seq(0L, 1L, 2L, 3L, 1L + 4L + 2L + 32L))
  }

  test("clusterByZ yields per-file locality in BOTH dims; single-dim sort does not") {
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    def spans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val r = df.withColumn("p", spark_partition_id())
        .groupBy(col("p"))
        .agg((max(col("a")) - min(col("a"))).as("sa"), (max(col("b")) - min(col("b"))).as("sb"))
        .agg(avg(col("sa")), avg(col("sb"))).as[(Double, Double)].collect()(0)
      r
    }
    val (za, zb) = spans(graft.ops.ZOrder.clusterByZ(grid, "a", "b", 6, 16))
    val (ra, rb) = spans(grid.repartitionByRange(16, col("a")))
    // single-dim layout: tight on a, FULL range on b
    assert(ra < 16 && rb > 60, s"single-dim baseline unexpected: $ra / $rb")
    // z layout: compact in both dims (each of 16 files ≈ a 16×16 z-cell)
    assert(za < 32 && zb < 32, s"z layout not local in both dims: $za / $zb")
  }

  // ------------------------------------------------------ incrementalDedup
  test("incrementalDedup classifies delta rows against the corpus index") {
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("id", "fp")
    val delta = Seq(
      (10L, "a"),              // key already in corpus
      (11L, "c"), (12L, "c"),  // new key duplicated within the delta
      (13L, "d")).toDF("id", "fp")
    val got = graft.dedup.DedupOps.incrementalDedup(corpus, delta, "id", "fp")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(got === Map(10L -> "dup_of_corpus", 11L -> "new",
      12L -> "dup_in_delta", 13L -> "new"))
  }

  // --------------------------------------------------------- semanticDedup
  test("semanticDedup drops the larger id of a planted duplicate pair") {
    // two tight clusters in 64-dim space; vecs 10/11 identical (dup),
    // vec 20 unrelated direction
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => if (i % 8 == seed % 8) 1.0f else 0.01f * ((i + seed) % 5))
    val rows = Seq(
      (10L, vec(0), 0), (11L, vec(0), 0), (12L, vec(0).map(v => v * 0.9f), 0),
      (20L, vec(3), 1), (21L, vec(4), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.semanticDedup(df, "vec_id", "embedding", "label", 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out.size === 5)                  // every vector gets a verdict
    assert(out(10L))                        // min id of the dup group survives
    assert(!out(11L))                       // identical copy dropped
    assert(!out(12L))                       // scaled copy: cosine is scale-invariant
    assert(out(20L) && out(21L))            // distinct directions survive
  }
}
