package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Numeric contract: embeddings are quantized to integers
  * (`round(x·10⁴)` as BIGINT) so dot products and norms are **exact
  * integer arithmetic** — the only floating-point steps are one final
  * `sqrt`/division, both correctly-rounded IEEE ops, making cosine scores
  * bit-reproducible across engines (the DuckDB oracle contract).
  *
  * Scale design: brute-force top-k is the correctness baseline; the scale
  * path blocks candidates on a coarse partition whose COUNT grows with the
  * corpus — sign-LSH buckets ([[knnLsh]], [[nearDupPairsLsh]]) or IVF
  * cells ([[graft.sim.IvfIndex]]) — which turns the O(n²) cross join into
  * a per-bucket shuffle join with linearly-growing total pair work (the
  * [[graft.dedup.Blocking]] contract).
  */
object SimilarityOps {

  val QuantScale = 10000

  /** `Array[Float]` → `Array[Long]` quantized at 1e-4 resolution. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast(DoubleType) * QuantScale).cast(LongType))

  /** Exact integer dot product of two quantized vectors. Uses the native
    * codegen'd expression when a session is active (the interpreted
    * higher-order-function fold is the hot cost in pair scoring); falls
    * back to `aggregate(zip_with(...))` — identical semantics, verified
    * in SimilaritySpec. */
  def qdot(a: Column, b: Column): Column =
    if (org.apache.spark.sql.SparkSession.getActiveSession.isDefined)
      graft.functions.NativeFunctions.qdot(a, b)
    else
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact integer squared norm. */
  def qnorm2(a: Column): Column = qdot(a, a)

  /** Cosine similarity of two quantized vectors, as DOUBLE:
    * dot / (sqrt(n2a)·sqrt(n2b)) — sqrt of an exact integer each side. */
  def cosineQ(a: Column, b: Column): Column =
    qdot(a, b).cast(DoubleType) /
      (sqrt(qnorm2(a).cast(DoubleType)) * sqrt(qnorm2(b).cast(DoubleType)))

  /** Adds `qvec` (quantized embedding) and `qn2` (its squared norm) so the
    * per-row work happens once, before any join fan-out. */
  def withQuantized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("qvec", quantize(col(vecCol)))
      .withColumn("qn2", qnorm2(col("qvec")))

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-similar candidates that carry a DIFFERENT label, with a
    * cosine ceiling excluding near-duplicates/mislabeled positives (the
    * "hard" band — similar enough to be informative, not so similar it
    * is the same content). Brute-force scoring here (the exact oracle
    * baseline, like [[knnBruteForce]]); at scale the identical band+label
    * rule composes with any candidate generator — the LSH buckets
    * ([[knnLsh]]) or the IVF cells ([[graft.sim.IvfIndex]]) — because it
    * is a per-pair filter, independent of how pairs were proposed. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, maxCosine: Double): DataFrame = {
    val q = withQuantized(queries, vecCol).select(
      col(idCol).as("query_id"), col(labelCol).as("qlabel"),
      col("qvec").as("qv"), col("qn2").as("qn"))
    val c = withQuantized(candidates, vecCol).select(
      col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
      col("qvec").as("cv"), col("qn2").as("cn"))
    val scored = q.join(c,
        col("query_id") =!= col("neighbor_id") &&
          col("qlabel") =!= col("neighbor_label"))
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) * sqrt(col("cn").cast(DoubleType))))
      .filter(col("cosine") < maxCosine)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "neighbor_label", "rank", "cosine")
  }

  /** Brute-force cosine top-k: every query row against every candidate row
    * (minus self), ranked per query with a deterministic (score desc, id
    * asc) tiebreak. The correctness baseline — O(|q|·|c|). */
  def knnBruteForce(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = withQuantized(queries, vecCol).select(
      col(idCol).as("query_id"), col("qvec").as("qv"), col("qn2").as("qn"))
    val c = withQuantized(candidates, vecCol).select(
      col(idCol).as("neighbor_id"), col("qvec").as("cv"), col("qn2").as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) * sqrt(col("cn").cast(DoubleType))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** IVF-style blocked variant: candidates are only compared within the
    * same coarse bucket (`blockCol` ≈ nearest-centroid assignment), so the
    * join shuffles on the bucket key instead of exploding the cross
    * product. Recall < 1.0 by construction; that's the ANN trade. */
  def knnBlocked(df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      k: Int): DataFrame = {
    val q = withQuantized(df, vecCol).select(
      col(idCol).as("query_id"), col(blockCol).as("blk"),
      col("qvec").as("qv"), col("qn2").as("qn"))
    val c = withQuantized(df, vecCol).select(
      col(idCol).as("neighbor_id"), col(blockCol).as("blk2"),
      col("qvec").as("cv"), col("qn2").as("cn"))
    val scored = q.join(c,
      col("blk") === col("blk2") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) * sqrt(col("cn").cast(DoubleType))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** K-means ASSIGNMENT step: map every vector to its nearest group
    * centroid by cosine. The centroid direction is the exact INTEGER SUM
    * vector of each group's quantized members — cosine is
    * scale-invariant, so sum ≡ mean with no floating-point averaging,
    * keeping the whole score bit-reproducible across engines (the same
    * contract as [[qdot]]). Shapes at scale: one partial-combining
    * per-(group, position) sum builds the k centroids, the k-row
    * centroid frame BROADCASTS into the scoring cross join (k ≪ n — the
    * per-row fan-out is k, never n), and the argmax is a per-vector
    * window with a deterministic (cosine desc, group asc) tiebreak. */
  def centroidAssign(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    val q = withQuantized(df, vecCol).select(
      col(idCol), col(groupCol), col("qvec"), col("qn2"))
    val cent = q
      .select(col(groupCol).as("c_label"), posexplode(col("qvec")).as(Seq("pos", "v")))
      .groupBy(col("c_label"), col("pos")).agg(sum(col("v")).as("s"))
      .groupBy(col("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("cv"))
      .withColumn("cn2", qnorm2(col("cv")))
    val scored = q.join(broadcast(cent))
      .withColumn("cosine", round(
        qdot(col("qvec"), col("cv")).cast(DoubleType) /
          (sqrt(col("qn2").cast(DoubleType)) * sqrt(col("cn2").cast(DoubleType))), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cosine").desc, col("c_label").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col(idCol), col(groupCol),
        col("c_label").as("assigned_label"), col("cosine"))
  }

  /** Deterministic md5-derived random hyperplanes for sign-LSH:
    * `h(b)(i) = (int64(md5(seed + "b|i")[0:15]) mod 2001) − 1000` ∈
    * [−1000, 1000]. md5-derived (not an RNG) so any engine reproduces the
    * exact planes — the DuckDB-oracle contract, same trick as
    * [[graft.text.TextOps.stableHash64]]. `seed` ("" for the primary
    * table, "tN|" for extra tables) decorrelates multi-table LSH draws. */
  def lshHyperplanes(bits: Int, dim: Int, seed: String = ""): Seq[Seq[Long]] = {
    def h64(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    (0 until bits).map(b => (0 until dim).map(i => h64(s"$seed$b|$i") % 2001 - 1000))
  }

  /** Sign-LSH bucket id of a quantized vector: bit b = sign(v · h_b). */
  def lshBucket(qvec: Column, planes: Seq[Seq[Long]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      when(qdot(qvec, array(p.map(lit): _*)) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: random-hyperplane sign buckets replace the learned
    * IVF cells — zero training, one narrow pass to bucket, then the same
    * per-bucket shuffle join as [[knnBlocked]]. Cosine-sign LSH puts
    * high-cosine vectors in the same bucket with high probability; recall
    * < 1.0 by construction (raise `bits`↓bucket size, or hash several
    * tables, to trade). */
  def knnLsh(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 0, dim: Int = 64,
      targetBucket: Double = 256.0): DataFrame = {
    // bits <= 0 → self-tuning default: derive the plane count from the
    // candidate-corpus count so a bucket holds ~targetBucket vectors
    // (2^bits ≈ n / targetBucket). Costs one count() action — plane
    // literals fix the plan structure, so this can't ride the broadcast-
    // count trick the pure-modulus blockers use. An explicit `bits`
    // skips the count and is the recall/cost override knob.
    val nBits =
      if (bits > 0) bits
      else graft.dedup.Blocking.scaledBits(candidates.count(), targetBucket, maxBits = 16)
    val planes = lshHyperplanes(nBits, dim)
    val q = withQuantized(queries, vecCol).select(
      col(idCol).as("query_id"), col("qvec").as("qv"), col("qn2").as("qn"),
      lshBucket(col("qvec"), planes).as("bkt"))
    val c = withQuantized(candidates, vecCol).select(
      col(idCol).as("neighbor_id"), col("qvec").as("cv"), col("qn2").as("cn"),
      lshBucket(col("qvec"), planes).as("bkt2"))
    val scored = q.join(c,
      col("bkt") === col("bkt2") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        qdot(col("qv"), col("cv")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) * sqrt(col("cn").cast(DoubleType))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Embedding near-dup pairs blocked on an embedding-DERIVED sign-LSH
    * bucket whose count SCALES with the corpus — the 100 TB shape.
    *
    * Why not a semantic block column (label/category): its cardinality
    * is bounded, so block membership grows O(n) and within-block pairs
    * O(n²). Here the block key is `lshBucket % Blocking.powTwoModulus(
    * ceil(n/targetBlock))`: the modulus grows with the corpus, membership
    * stays ~targetBlock, total pairs grow linearly. The low-bits modulus
    * of the `maxBits`-plane signature is exactly a coarser LSH (the first
    * log2(modulus) planes), so high-cosine pairs still collide with the
    * usual sign-LSH probability — recall < 1.0 by construction, like
    * [[knnLsh]]. Count rides a broadcast 1-row frame (no driver action),
    * planes are md5-derived → any engine reproduces the exact buckets. */
  def nearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, targetBlock: Double = 256.0, maxBits: Int = 16,
      dim: Int = 64, seed: String = ""): DataFrame = {
    import graft.dedup.Blocking
    val planes = lshHyperplanes(maxBits, dim, seed)
    val nb = Blocking.scaledBucketCount(df, targetBlock)
    // ONE hash exchange on the bucket materializes the 16-qdot signature;
    // both self-join sides read the SAME shuffle output (AQE
    // ReusedExchange — the x18 trick), so the signature is computed once
    // per vector, not once per side, and neither side is a whole-corpus
    // broadcast build
    val base = withQuantized(df, vecCol)
      .crossJoin(broadcast(nb))
      .select(col(idCol),
        (lshBucket(col("qvec"), planes).cast(LongType) %
          Blocking.powTwoModulus(col("nb"), maxBits)).as("lsh_blk"),
        col("qvec"), col("qn2"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("lsh_blk"))
    val a = base.select(col(idCol).as("id_a"), col("lsh_blk").as("blk"),
      col("qvec").as("va"), col("qn2").as("na"))
    val b = base.select(col(idCol).as("id_b"), col("lsh_blk").as("blk2"),
      col("qvec").as("vb"), col("qn2").as("nb2"))
    a.join(b, col("blk") === col("blk2") && col("id_a") < col("id_b"))
      .withColumn("cosine",
        qdot(col("va"), col("vb")).cast(DoubleType) /
          (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb2").cast(DoubleType))))
      .filter(col("cosine") > minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Multi-table LSH near-dup: the pair sets of `tables` independent
    * hyperplane draws, collapsed by one distinct. Single-table sign-LSH
    * misses a true near-dup pair whenever ONE of the sliced planes
    * happens to separate it; an independent second table catches most
    * of those misses (recall 1−(1−r)^T for per-table recall r), at T×
    * the candidate cost — the standard recall/cost dial for LSH
    * blocking at scale.
    *
    * r19 shape (the x98 tagged-pass rewrite, guide §2.4): ONE corpus
    * pass computes every table's signature from the shared quantized
    * scan, a (table, bucket) explode feeds ONE exchange, and a single
    * tagged self-join emits all tables' candidates — where the union
    * form ran the full quantize+signature+shuffle pipeline once PER
    * TABLE. Identical scored pairs across tables stay byte-identical
    * rows (cosine is deterministic), so the final distinct reproduces
    * the SQL UNION exactly (TrainingDataOpsSpec pins set-equality with
    * the union form). */
  def nearDupPairsLshMulti(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, tables: Int = 2, targetBlock: Double = 256.0,
      maxBits: Int = 16, dim: Int = 64): DataFrame = {
    import graft.dedup.Blocking
    val nb = Blocking.scaledBucketCount(df, targetBlock)
    val planeSets = (0 until tables).map(t =>
      lshHyperplanes(maxBits, dim, seed = if (t == 0) "" else s"t$t|"))
    val tagged = array(planeSets.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("t"),
        (lshBucket(col("qvec"), planes).cast(LongType) %
          Blocking.powTwoModulus(col("nb"), maxBits)).as("blk"))
    }: _*)
    val base = withQuantized(df, vecCol)
      .crossJoin(broadcast(nb))
      .select(col(idCol), explode(tagged).as("tb"), col("qvec"), col("qn2"))
      .select(col(idCol), col("tb.t").as("t"), col("tb.blk").as("lsh_blk"),
        col("qvec"), col("qn2"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("t"), col("lsh_blk"))
    val a = base.select(col(idCol).as("id_a"), col("t").as("t_a"),
      col("lsh_blk").as("blk"), col("qvec").as("va"), col("qn2").as("na"))
    val b = base.select(col(idCol).as("id_b"), col("t").as("t_b"),
      col("lsh_blk").as("blk2"), col("qvec").as("vb"), col("qn2").as("nb2"))
    a.join(b, col("t_a") === col("t_b") && col("blk") === col("blk2") &&
        col("id_a") < col("id_b"))
      .withColumn("cosine",
        qdot(col("va"), col("vb")).cast(DoubleType) /
          (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb2").cast(DoubleType))))
      .filter(col("cosine") > minCosine)
      .select("id_a", "id_b", "cosine")
      .distinct()
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus, prune
    * high-cosine pairs WITHIN clusters, keep one representative (the
    * min-id copy of each detected pair). Cluster-then-prune is the
    * published recipe for semantic dedup at web scale (SemDeDup,
    * Abbas et al. 2023): the cluster assignment confines the expensive
    * pairwise search to semantically coherent neighborhoods.
    *
    * Scale posture: the cluster id alone is NOT a valid block key — k is
    * bounded, so cluster membership grows O(n) and within-cluster pairs
    * O(n²) (the flaw x08 was cured of). The block key here is
    * (assigned cluster, sign-LSH bucket % corpus-scaled modulus): the
    * sub-bucket count grows with the corpus via [[graft.dedup.Blocking]],
    * so block membership stays ~targetBlock and pair work grows linearly.
    * Recall < 1.0 by construction (a near-dup pair can straddle
    * sub-buckets) — the standard LSH trade, dialed by `targetBlock`.
    *
    * Keep rule: a vector is dropped iff it is the LARGER id of some
    * over-threshold pair — every detected dup group keeps exactly its
    * min-id member (transitive closure is deliberately NOT taken; that is
    * [[graft.dedup.DedupOps.connectedComponents]]'s job when wanted).
    * Emits every vector with its cluster and a `kept` verdict, so the
    * caller can audit the drop set rather than just receive survivors. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, minCosine: Double, targetBlock: Double = 256.0,
      maxBits: Int = 16, dim: Int = 64, seed: String = ""): DataFrame = {
    import graft.dedup.Blocking
    val planes = lshHyperplanes(maxBits, dim, seed)
    val nb = Blocking.scaledBucketCount(df, targetBlock)
    val assigned = centroidAssign(df, idCol, vecCol, groupCol)
      .select(col(idCol), col("assigned_label"))
    // signature + sub-bucket are narrow over the quantized scan; the join
    // attaches the cluster id on idCol — both pair-join sides then read
    // one bucketed exchange (the nearDupPairsLsh shape)
    val base = withQuantized(df, vecCol)
      .crossJoin(broadcast(nb))
      .select(col(idCol),
        (lshBucket(col("qvec"), planes).cast(LongType) %
          Blocking.powTwoModulus(col("nb"), maxBits)).as("lsh_blk"),
        col("qvec"), col("qn2"))
      .join(assigned, Seq(idCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("assigned_label"), col("lsh_blk"))
    val a = base.select(col(idCol).as("id_a"), col("assigned_label").as("lab_a"),
      col("lsh_blk").as("blk_a"), col("qvec").as("va"), col("qn2").as("na"))
    val b = base.select(col(idCol).as("id_b"), col("assigned_label").as("lab_b"),
      col("lsh_blk").as("blk_b"), col("qvec").as("vb"), col("qn2").as("nb2"))
    val dropped = a.join(b,
        col("lab_a") === col("lab_b") && col("blk_a") === col("blk_b") &&
          col("id_a") < col("id_b"))
      .filter(
        qdot(col("va"), col("vb")).cast(DoubleType) /
          (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb2").cast(DoubleType)))
          > minCosine)
      .select(col("id_b").as(idCol)).distinct()
    base.select(col(idCol), col("assigned_label"))
      .join(dropped.withColumn("__graft_dup", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("assigned_label"),
        col("__graft_dup").isNull.as("kept"))
  }
}
