package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver passes exactly (sfDir, outDir); extra args are a dev-only
    // query-name filter so one query can be re-checked without the sweep
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.build(cpus)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query caches must not accumulate across the full-gate sweep
      spark.sharedState.cacheManager.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.q(k)}: ${Json.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
