package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) — the memory-compression half of a real
  * vector store (Jégou, Douze & Schmid 2011, "Product Quantization for
  * Nearest Neighbor Search"): each embedding splits into `m` subspaces,
  * each subspace maps to its nearest codeword in a small per-subspace
  * codebook, and a vector is stored as `m` small codes. Search is
  * ASYMMETRIC DISTANCE (ADC): the query builds one lookup table of
  * query-to-codeword distances per subspace (|queries| × m × |codebook|
  * rows — tiny, broadcast), and every stored vector's approximate
  * distance is a SUM OF m TABLE LOOKUPS — no float math per candidate.
  *
  * Everything here is EXACT INTEGER arithmetic on the repo's 1e-4
  * quantization grid ([[SimilarityOps.QuantScale]]), so the whole
  * machinery — training, encoding, ADC ranking — is DuckDB-replayable
  * and hash-gated (x108). Codebook training is k-means with
  * DETERMINISTIC seeds (the subvectors of the `nCw` lowest ids) and a
  * bounded number of Lloyd iterations, each one assign + floor(mean
  * + 0.5) averaging pass — the x93-BPE rule: bounded rounds keep the
  * recursive oracle replay honest; an MLlib fit ([[IvfIndex.build]])
  * drops in at deployment with the same dataflow.
  *
  * Config note (measured on the driver's synthetic embeddings): iid
  * near-uniform dims leave PQ nothing to exploit, so coarse subspaces
  * collapse — 8-dim subspaces × 16 codewords gave 0.14 top-5 recall
  * vs exact L2; the dial lands at FINE 2-dim subspaces × 64 codewords
  * (0.68 recall, 24 bytes/vector = 10.7× compression). Real embedding
  * tables have correlated dims and move the dial back toward 8-dim
  * subspaces. The recall audit in SourcesAndIvfSpec DECIDES per corpus
  * — the x77 rule: the audit, not the hope.
  *
  * Scale shape: training touches seeds × vectors per iteration with a
  * BROADCAST codebook; encoding is one narrow pass (m × |codebook|
  * distance evals per vector — the standard PQ encode cost); the ADC
  * scan scores |vectors| codes per query — the honest exhaustive-PQ
  * cost a deployment bounds by composing with [[IvfIndex]]'s cell
  * pruning (IVF-PQ: probe cells first, ADC-rank inside them). */
object PqIndex {

  /** (id, s, sv): the per-subspace views of each quantized vector. */
  private[graft] def subspaces(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    df.withColumn("qvec", SimilarityOps.quantize(col(vecCol)))
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), " +
          s"s -> slice(qvec, s * $subDim + 1, $subDim))"))
        .as(Seq("s", "sv")))

  /** Integer squared L2 between two equal-length quantized arrays —
    * the native codegen'd [[graft.functions.SqDistLong]] (the LUT/probe
    * legs were the one place the interpreted `aggregate(zip_with(...))`
    * HOF survived the r18 argmin rewrite; guide §4). PqArgminSpec pins
    * bit-parity against that fold on the real LUT shape. */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.sqDist(a, b)

  /** Codebook grouped per subspace — (s, entries = ARRAY<STRUCT<cw, cv>>),
    * ≤ |subspaces| rows: the broadcast side of every argmin pass. The
    * entries sort (by cw — the struct's first field) is not needed for
    * correctness ([[graft.functions.PqArgmin]] tie-breaks explicitly) but
    * keeps the tiny frame deterministic. */
  private[graft] def groupedCodebook(cb: DataFrame): DataFrame =
    cb.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("cw"), col("cv")))).as("entries"))

  /** `[d, cw]` of the nearest codeword via the native codegen'd argmin —
    * bit-identical to `min(struct(sqDist, cw))` over a codebook-exploding
    * join (PqArgminSpec), without the |codebook|× row explosion, the
    * interpreted per-element lambda, or the re-grouping shuffle on an
    * array key (optimization guide §2.3/§2.4: shuffle fewer bytes, remove
    * shuffles outright; §4: keep the hot loop inside codegen). */
  private def argminCode(sv: Column, entries: Column): Column =
    graft.functions.NativeFunctions.pqArgmin(sv, entries)

  /** Seeded k-means codebooks: init = the subvectors of the `nCw`
    * lowest ids; each Lloyd iteration assigns every subvector to its
    * nearest codeword (order-blind argmin, ties to the lower cw) and
    * re-averages on the integer grid (floor(mean + 0.5)). A codeword
    * that loses all members drops out — standard k-means attrition.
    *
    * NOT checkpointed here: single-consumer callers (x39/x110/x115's
    * coarse planes) would pay an extra eager job for nothing (measured
    * +0.2–0.5 s each, r18 opt). Multi-consumer callers checkpoint via
    * [[dedupedCodebook]]. */
  private[graft] def trainCodebooks(sub: DataFrame, idCol: String,
      nCw: Int, iters: Int): DataFrame = {
    var cb = sub.filter(col(idCol) < nCw)
      .select(col(idCol).as("cw"), col("s"), col("sv").as("cv"))
    for (_ <- 1 to iters) {
      val assigned = sub.join(broadcast(groupedCodebook(cb)), Seq("s"))
        .select(col("s"),
          element_at(argminCode(col("sv"), col("entries")), 2).as("cw"),
          col("sv"))
      cb = assigned
        .select(col("cw"), col("s"), posexplode(col("sv")).as(Seq("p", "v")))
        .groupBy(col("cw"), col("s"), col("p"))
        .agg(sum(col("v")).as("sm"), count(lit(1)).as("c"))
        .withColumn("cwv",
          floor(col("sm").cast(DoubleType) / col("c") + lit(0.5))
            .cast(LongType))
        .groupBy(col("cw"), col("s"))
        .agg(transform(sort_array(collect_list(struct(col("p"), col("cwv")))),
          e => e.getField("cwv")).as("cv"))
    }
    cb
  }

  /** Eagerly `localCheckpoint` a trained codebook in its GROUPED form
    * (`(s, entries)`, ≤ |subspaces| rows) — for call sites with
    * MULTIPLE consumers (x109's encode+LUT and cells+probes legs,
    * adcTopK's encode+LUT): the frame's lineage contains a full corpus
    * pass, and each consumer's broadcast build would otherwise re-run
    * it (guide §5: cache tiny, recompute-heavy frames). r19: the
    * checkpoint stores the grouped shape itself, so consumers broadcast
    * it directly instead of each re-running the groupBy/collect_list
    * aggregate (two stages per consumer × four consumers in ivfPqTopK).
    * Single-consumer callers skip all of this — the eager job costs
    * more than the one recompute it saves. */
  private def dedupedCodebook(cb: DataFrame): DataFrame =
    groupedCodebook(cb).localCheckpoint(true)

  /** Each (vector, subspace) → its nearest codeword id; the argmin is
    * the native codegen'd [[graft.functions.PqArgmin]] over the grouped
    * codebook (ties to the lower cw) — one narrow map, no explosion. */
  private[graft] def encode(sub: DataFrame, codebooks: DataFrame,
      idCol: String): DataFrame =
    encodeGrouped(sub, groupedCodebook(codebooks), idCol)

  /** [[encode]] over an ALREADY-GROUPED codebook (the checkpointed
    * multi-consumer shape) — broadcasts it as-is, no per-consumer
    * re-aggregation. */
  private[graft] def encodeGrouped(sub: DataFrame, grouped: DataFrame,
      idCol: String): DataFrame =
    sub.join(broadcast(grouped), Seq("s"))
      .select(col(idCol), col("s"),
        element_at(argminCode(col("sv"), col("entries")), 2).as("code"))

  /** Per-(query, subspace, codeword) distances from an ALREADY-GROUPED
    * codebook: one broadcast join on `s`, entries exploded back to
    * (cw, cv) rows — the identical row set the ungrouped join produced,
    * shared by the probe and LUT legs. */
  private def distsGrouped(subQ: DataFrame, grouped: DataFrame): DataFrame =
    subQ.join(broadcast(grouped), Seq("s"))
      .select(col("query_id"), col("s"), col("qsv"), explode(col("entries")).as("e"))
      .select(col("query_id"), col("s"), col("e.cw").as("cw"),
        sqDist(col("qsv"), col("e.cv")).as("qd"))

  /** IVF-PQ top-k — the composition the scaladoc above promises: a
    * coarse quantizer (this same machinery with ONE 64-dim "subspace"
    * and `nCells` codewords) assigns every vector to a cell, each
    * query probes only its `nProbe` nearest cells, and ADC ranking
    * runs over the PROBED candidates instead of the whole table. The
    * candidate volume drops by ~`nProbe / nCells` — the IVF dial —
    * while the stored bytes stay PQ's. Fully integer-exact and
    * DuckDB-replayable like [[adcTopK]] (x109 gates it); recall loss
    * vs exhaustive ADC is the nProbe trade, audited in
    * SourcesAndIvfSpec. Returns (query_id, rank, neighbor_id,
    * adc_dist). */
  /** The IVF coarse plane alone: train the `nCells` quantizer, assign
    * every vector to a cell, and return each query's probed candidate
    * set as (query_id, idCol) rows. Shared by [[ivfPqTopK]] (the ADC
    * ranking runs over exactly this set) and by the scale audit in
    * SourcesAndIvfSpec, which pins the production convention — nCells
    * ∝ √N keeps the candidate FRACTION shrinking as the corpus grows,
    * the sublinearity the fixed-cells oracle gate (x109) deliberately
    * gives up for replayability. */
  def coarseCandidates(emb: DataFrame, idCol: String,
      vecCol: String, queryPred: Column,
      nCells: Int, nProbe: Int, fullDim: Int, iters: Int): DataFrame = {
    // coarse plane: one subspace spanning the whole vector; the codebook
    // feeds TWO consumers (cells + probes) — checkpoint its corpus pass
    val subFull = subspaces(emb, idCol, vecCol, 1, fullDim)
    val coarseCb = dedupedCodebook(trainCodebooks(subFull, idCol, nCells, iters))
    coarseCandidatesFrom(subFull, coarseCb, idCol, queryPred, nProbe)
  }

  /** The coarse plane over an already-trained (grouped, checkpointed)
    * codebook — split out so [[ivfPqTopK]] can overlap the two
    * independent training jobs (guide §2.6). */
  private def coarseCandidatesFrom(subFull: DataFrame, coarseCb: DataFrame,
      idCol: String, queryPred: Column, nProbe: Int): DataFrame = {
    val cells = encodeGrouped(subFull, coarseCb, idCol)
      .select(col(idCol), col("code").as("cell"))
    val probes = distsGrouped(
        subFull.filter(queryPred).toDF("query_id", "s", "qsv"), coarseCb)
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qd"), col("cw"))))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cw").as("cell"))
    // the probe set is |queries| × nProbe rows — broadcast into cells
    cells.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col(idCol))
  }

  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int,
      nCells: Int = 8, nProbe: Int = 2,
      m: Int = 32, subDim: Int = 2, nCw: Int = 64, iters: Int = 1)
      : DataFrame = {
    // the two training checkpoints (coarse plane, PQ plane) are
    // INDEPENDENT eager jobs over different subspace views — submit them
    // from two driver threads so the second's tasks back-fill the
    // first's stragglers (guide §2.6 overlap independent jobs); failures
    // propagate through Await
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val subFull = subspaces(emb, idCol, vecCol, 1, m * subDim)
    val sub = subspaces(emb, idCol, vecCol, m, subDim)
    val coarseF = Future {
      dedupedCodebook(trainCodebooks(subFull, idCol, nCells, iters))
    }
    val pqF = Future {
      dedupedCodebook(trainCodebooks(sub, idCol, nCw, iters))
    }
    val coarseCb = Await.result(coarseF, Duration.Inf)
    val codebooks = Await.result(pqF, Duration.Inf)
    val cand = coarseCandidatesFrom(subFull, coarseCb, idCol, queryPred, nProbe)
    val codes = encodeGrouped(sub, codebooks, idCol)
    val lut = distsGrouped(
        sub.filter(queryPred).toDF("query_id", "s", "qsv"), codebooks)
      .select(col("query_id"), col("s"), col("cw").as("code"), col("qd"))
    val adc = codes.join(broadcast(cand), Seq(idCol))
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(sum(col("qd")).as("adc_dist"))
    adc.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  /** Exhaustive ADC top-k: queries selected by `queryPred` over the id
    * column. Returns (query_id, rank, neighbor_id, adc_dist). */
  def adcTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int,
      m: Int = 32, subDim: Int = 2, nCw: Int = 64, iters: Int = 1)
      : DataFrame = {
    val sub = subspaces(emb, idCol, vecCol, m, subDim)
    // TWO consumers (encode + LUT) — checkpoint the codebook's corpus pass
    val codebooks = dedupedCodebook(trainCodebooks(sub, idCol, nCw, iters))
    val codes = encodeGrouped(sub, codebooks, idCol)
    // the ADC lookup table: |queries| × m × nCw distances, broadcast
    val lut = distsGrouped(
        sub.filter(queryPred).toDF("query_id", "s", "qsv"), codebooks)
      .select(col("query_id"), col("s"), col("cw"), col("qd"))
    val adc = codes.join(broadcast(lut),
        codes("s") === lut("s") && codes("code") === lut("cw"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(sum(col("qd")).as("adc_dist"))
    adc.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), col("adc_dist"))
  }
}
