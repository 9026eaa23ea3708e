package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only plan dumper for the optimization rounds: writes
  * `.explain("formatted")` for named queries (or every query) to
  * `<outDir>/<query>_<tag>.txt`, with the same session config Bench
  * uses so the dumped plan is the plan the bench times. Not part of
  * the driver surface.
  *
  * Usage: `runMain graft.PlanDump <outDir> <tag> [queryName ...]`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val tag = if (args.length > 1) args(1) else "before"
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.build(cpus, "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(outDir))
    val selected =
      if (names.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => names.contains(n) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val txt =
        try fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"ERROR building $name: $e" }
      java.nio.file.Files.write(
        java.nio.file.Path.of(outDir, s"${name}_$tag.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
