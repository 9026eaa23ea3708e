package graft.sim

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) approximate nearest neighbor index: k-means coarse
  * quantizer + per-cell candidate lists — the scale path past brute force.
  *
  * Build: one MLlib KMeans fit (sampled at scale) + one narrow pass
  * assigning each vector to its nearest centroid. Search: queries score
  * only the vectors inside their `nProbe` nearest cells — the join
  * shuffles on `cell`, never the cross product. Recall < 1.0 by
  * construction; raise `nProbe` to trade speed for recall (a full probe
  * is exact: the broadcast queries against the whole index).
  */
object IvfIndex {

  final case class Model(centroids: Array[(Int, Array[Double])], assigned: DataFrame)

  /** Fit the coarse quantizer and assign every row to a cell. A coarse
    * quantizer needs rough cells, not converged ones: few iterations and
    * random init keep the build cheap (recall comes from nProbe, not from
    * centroid quality). The fit runs on a bounded PARALLEL sample — the
    * classic IVF training recipe: at 100 TB you train the quantizer on
    * ~10⁵ vectors, never the full table, and only the cell *assignment*
    * (a narrow map with the broadcast model) touches every row. The
    * sample is a seeded Bernoulli draw sized from a count (metadata-cheap
    * on parquet) and spread over a few partitions — a `limit().coalesce(1)`
    * would funnel training onto one core. */
  def build(df: DataFrame, idCol: String, vecCol: String, k: Int,
      seed: Long = 42L, maxIter: Int = 2, maxTrainRows: Int = 100000): Model = {
    val withVec = df.withColumn("__v", array_to_vector(
      transform(col(vecCol), x => x.cast(DoubleType))))
    val n = df.count()
    val frac = math.min(1.0, maxTrainRows.toDouble / math.max(n, 1L).toDouble)
    val parts = math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4)
    val sampled =
      if (frac < 1.0) withVec.select("__v").sample(withReplacement = false, frac, seed)
      else withVec.select("__v")
    val train = sampled.repartition(parts)
    val km = new KMeans().setK(k).setSeed(seed).setFeaturesCol("__v")
      .setMaxIter(maxIter).setInitMode("random")
      .setPredictionCol("cell")
    val model = km.fit(train)
    val assigned = model.transform(withVec).drop("__v")
    Model(model.clusterCenters.zipWithIndex.map { case (c, i) => i -> c.toArray },
      assigned)
  }

  /** Persist a built index: the k-row centroid table plus the cell
    * assignments written PARTITIONED BY cell — so a probe that filters
    * on its nProbe cells prunes every other cell's files at planning
    * time (the on-disk analog of the inverted file: a 1%-probe search
    * opens ~1% of the index bytes). Train once, probe nightly — at
    * 100 TB the KMeans fit amortizes across every subsequent search.
    * The assignments are hash-partitioned on `cell` before the write, so
    * each cell dir holds one file, not one per writer task: a search
    * opens one file per probed cell. */
  def save(model: Model, dir: String): Unit = {
    val spark = model.assigned.sparkSession
    import spark.implicits._
    model.centroids.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    model.assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned")
  }

  /** Load a persisted index. The assignment frame keeps its
    * partition-discovered `cell` column, so filters on it reach
    * `PartitionFilters` (spec-asserted). */
  def load(spark: SparkSession, dir: String): Model = {
    val cents = graft.Tables.open(spark, s"$dir/centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    Model(cents, graft.Tables.open(spark, s"$dir/assigned")
      .withColumn("cell", col("cell").cast(IntegerType)))
  }

  /** Assign NEW vectors to an existing quantizer's nearest cell (min L2,
    * the KMeans assignment rule) — the incremental-append path: no
    * re-fit, one narrow codegen'd map over the delta with the k-row
    * centroid table unrolled as plan literals (distance per centroid via
    * `zip_with`+`aggregate`, argmin via `array_min` over (dist, cell)
    * structs — deterministic cell tie-break). At 100 TB the nightly
    * embedding delta joins a quantizer trained ONCE; re-clustering the
    * corpus per batch is the anti-pattern this avoids. */
  def assign(delta: DataFrame, vecCol: String, model: Model): DataFrame = {
    val cands = array(model.centroids.sortBy(_._1).map { case (i, arr) =>
      struct(
        aggregate(
          zip_with(col(vecCol), typedlit(arr.toSeq), (a, c) => {
            val d = a.cast(DoubleType) - c
            d * d
          }),
          lit(0.0), (acc, x) => acc + x).as("dist"),
        lit(i).as("cell"))
    }: _*)
    delta.withColumn("cell", array_min(cands).getField("cell"))
  }

  /** Top-k within the `nProbe` nearest cells of each query vector.
    * Output: query_id, neighbor_id, rank, cosine. */
  def search(spark: SparkSession, model: Model, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val q = SimilarityOps.withQuantized(queries, vecCol)
      .select(col(idCol).as("query_id"), col("qvec").as("qv"), col("qn2").as("qn"))
    val cands = SimilarityOps.withQuantized(model.assigned, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"),
        col("qvec").as("cv"), col("qn2").as("cn"))

    val pairs =
      // a full probe pairs every query with every vector of every cell:
      // nothing to rank and no cell join (nor the dynamic-pruning
      // subquery a cell-partitioned index adds to it), just the index
      // against the broadcast queries
      if (nProbe >= model.centroids.length)
        cands.filter(col("cell").isin(model.centroids.map(_._1): _*))
          .crossJoin(broadcast(q))
      else {
        // query → nProbe nearest cells by centroid dot product on the
        // quantized vectors (cosine ranking needs no exact centroid
        // metric); the centroid table is tiny → broadcast
        val cents = model.centroids.toSeq.toDF("cell", "centroid")
        q.crossJoin(broadcast(cents))
          .withColumn("cscore",
            aggregate(zip_with(col("qv"), col("centroid"),
              (a, c) => a.cast(DoubleType) * c), lit(0.0), (acc, x) => acc + x))
          .withColumn("crank", row_number().over(
            Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cell"))))
          .filter(col("crank") <= nProbe)
          .select(col("query_id"), col("qv"), col("qn"), col("cell"))
          .join(cands, Seq("cell"))
      }

    val scored = pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        SimilarityOps.qdot(col("qv"), col("cv")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) * sqrt(col("cn").cast(DoubleType))))
    scored.withColumn("rank", row_number().over(
      Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }
}
