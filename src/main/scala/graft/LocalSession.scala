package graft

import org.apache.spark.sql.SparkSession

/** The one local session conf shared by Bench, Verify, PlanDump and
  * DevProbe, so every dumped plan and probe timing is the plan the bench
  * times. */
object LocalSession {
  def build(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata tables are single small parquet files; without a small
      // split size every scan is one partition and the whole pipeline
      // runs on one core of the 32
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
