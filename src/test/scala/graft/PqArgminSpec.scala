package graft

import graft.functions.NativeFunctions
import graft.sim.PqIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the r18-optimization argmin rewrite of the PQ/IVF
  * quantization passes: the native graft_pq_argmin must be bit-identical
  * to the formulation it replaced — `min(struct(sqDist(sv, cv), cw))`
  * over a codebook-exploding broadcast join — on the real corpus AND on
  * adversarial tie/edge inputs. x108/x109/x110/x115/x124 all ride these
  * passes; their oracle gates stay the end-to-end check. */
class PqArgminSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  /** The PRE-r18 join+min-struct spelling, kept as the reference. */
  private def encodeViaJoin(sub: DataFrame, cb: DataFrame,
      idCol: String): DataFrame = {
    val d = aggregate(zip_with(col("sv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    sub.join(broadcast(cb), Seq("s"))
      .withColumn("d", d)
      .groupBy(col(idCol), col("s"))
      .agg(min(struct(col("d"), col("cw"))).as("mn"))
      .select(col(idCol), col("s"), col("mn.cw").as("code"))
  }

  test("encode (argmin path) equals the join+min-struct reference on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // both planes the shipped queries use: PQ (m=32 × 2-dim × 64 cw) and
    // coarse (1 × 64-dim × 8 cw)
    for ((m, subDim, nCw) <- Seq((32, 2, 64), (1, 64, 8))) {
      val sub = PqIndex.subspaces(emb, "vec_id", "embedding", m, subDim)
      val cb = PqIndex.trainCodebooks(sub, "vec_id", nCw = nCw, iters = 1)
      val got = PqIndex.encode(sub, cb, "vec_id")
        .as[(Long, Int, Long)].collect().toSet
      val ref = encodeViaJoin(sub, cb, "vec_id")
        .as[(Long, Int, Long)].collect().toSet
      assert(got === ref, s"argmin encode drifted from the join form (m=$m)")
      assert(got.nonEmpty)
    }
  }

  test("argmin ties break to the LOWER cw (the min(struct) order)") {
    // two codewords at identical distance from sv: (d, cw) min takes cw=3
    // over cw=7; entries deliberately UNSORTED to pin the explicit
    // tie-break (not an iteration-order accident)
    val df = Seq(1).toDF("one").select(
      typedlit(Seq(0L, 0L)).as("sv"),
      array(
        struct(lit(7L).as("cw"), typedlit(Seq(1L, 1L)).as("cv")),
        struct(lit(3L).as("cw"), typedlit(Seq(-1L, -1L)).as("cv")),
        struct(lit(5L).as("cw"), typedlit(Seq(9L, 9L)).as("cv"))).as("entries"))
    val out = df.select(
      NativeFunctions.pqArgmin(col("sv"), col("entries")).as("am")).head()
    assert(out.getSeq[Long](0) === Seq(2L, 3L))
  }

  test("NULL input and empty codebook yield NULL; codegen path compiles") {
    val prev = spark.conf.getAll.get("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val df = Seq(1).toDF("one").select(
        typedlit(Seq(1L, 2L)).as("sv"),
        typedlit(Seq.empty[(Long, Seq[Long])]).as("entries"))
      val emptyOut = df.select(
        NativeFunctions.pqArgmin(col("sv"),
          col("entries").cast("array<struct<cw:bigint,cv:array<bigint>>>"))
          .as("am")).head()
      assert(emptyOut.isNullAt(0), "empty codebook must yield NULL")
      val nullSv = Seq(1).toDF("one").select(
        lit(null).cast("array<bigint>").as("sv"),
        array(struct(lit(1L).as("cw"), typedlit(Seq(1L)).as("cv"))).as("entries"))
      assert(nullSv.select(
        NativeFunctions.pqArgmin(col("sv"), col("entries"))).head().isNullAt(0))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("graft_sq_dist equals the aggregate(zip_with) HOF on the real LUT shape (r19)") {
    // the LUT/probe legs: query subvectors × broadcast codebook, one
    // distance per (query, s, cw) row — the exact shape ivfPqTopK/adcTopK
    // build (the one place the interpreted HOF survived r18)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    for ((m, subDim, nCw) <- Seq((32, 2, 64), (1, 64, 8))) {
      val sub = PqIndex.subspaces(emb, "vec_id", "embedding", m, subDim)
      val cb = PqIndex.trainCodebooks(sub, "vec_id", nCw = nCw, iters = 1)
      val lut = sub.filter(col("vec_id") < 10)
        .toDF("query_id", "s", "qsv")
        .join(broadcast(cb), Seq("s"))
      val both = lut.select(col("query_id"), col("s"), col("cw"),
        NativeFunctions.sqDist(col("qsv"), col("cv")).as("got"),
        ParityReferences.sqDistHof(col("qsv"), col("cv")).as("ref"))
        .as[(Long, Int, Long, Option[Long], Option[Long])].collect()
      assert(both.nonEmpty)
      both.foreach { case (q, s, cw, got, ref) =>
        assert(got === ref, s"sq_dist drifted at (q=$q, s=$s, cw=$cw, m=$m)")
      }
    }
    // edges: NULL array → NULL (HOF: zip_with over NULL is NULL)
    val nulls = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]]),
      (Option.empty[Seq[Long]], Some(Seq(1L)))).toDF("a", "b")
    assert(nulls.select(NativeFunctions.sqDist(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
  }

  test("expression participates in whole-stage codegen over a real scan") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sub = PqIndex.subspaces(emb, "vec_id", "embedding", 1, 64)
    val cb = PqIndex.trainCodebooks(sub, "vec_id", nCw = 8, iters = 1)
    val df = PqIndex.encode(sub, cb, "vec_id")
    df.collect() // AQE: the codegen'd final plan exists only post-execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_pq_argmin")),
      s"graft_pq_argmin not inside a codegen stage:\n$plan")
    // and the explosion is gone: no hash aggregate re-grouping the
    // corpus-scaled frame sits between the scan and the codes
    assert(df.groupBy("vec_id").count().select(max("count")).head().getLong(0) === 1L)
  }
}
