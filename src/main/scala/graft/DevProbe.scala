package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only stage profiler for the optimization rounds. Not part of the
  * library surface; run via
  * `runMain graft.DevProbe <sfDir> <cpus> <queryName ...>`.
  * Times each named query ITERS times under the exact Bench session conf
  * and prints per-run wall time plus aggregated task metrics (task count,
  * run time, deserialize, GC, result serialization, scheduler-side gap)
  * so per-task vs per-stage vs driver overhead is attributable. */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = if (args.length > 1) args(1) else "32"
    val names = args.drop(2)
    val iters = sys.env.get("SPARK_GRAFT_BENCH_ITERS")
      .flatMap(_.toIntOption).getOrElse(3)
    val spark = LocalSession.build(cpus)

    // aggregate task metrics between marks
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val deserMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val resSerMs = new java.util.concurrent.atomic.AtomicLong
    val wallMs = new java.util.concurrent.atomic.AtomicLong // sum task wall
    val nStages = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          nTasks.incrementAndGet()
          runMs.addAndGet(m.executorRunTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          gcMs.addAndGet(m.jvmGCTime)
          resSerMs.addAndGet(m.resultSerializationTime)
          wallMs.addAndGet(t.taskInfo.duration)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        nStages.incrementAndGet(): Unit
    })
    def resetM(): Unit = {
      nTasks.set(0); runMs.set(0); deserMs.set(0); gcMs.set(0)
      resSerMs.set(0); wallMs.set(0); nStages.set(0)
    }

    // warmup identical to Bench
    try {
      import org.apache.spark.sql.functions._
      Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
        "region", "events", "documents", "embeddings").foreach { t =>
        try spark.read.parquet(s"$dir/$t.parquet").count()
        catch { case _: Throwable => }
      }
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy("l_returnflag").agg(sum("l_quantity")).count()
    } catch { case _: Throwable => }

    val selected =
      if (names.isEmpty) Seq.empty
      else SparkEntry.queries.filter { case (n, _) => names.contains(n) }.toSeq
    selected.sortBy(_._1).foreach { case (name, fn) =>
      (1 to iters).foreach { it =>
        resetM()
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        // give the listener bus a beat to drain
        Thread.sleep(200)
        println(f"[probe] $name it=$it wall=$wall%.3f s rows=$n " +
          f"stages=${nStages.get} tasks=${nTasks.get} " +
          f"taskWall=${wallMs.get / 1e3}%.2f run=${runMs.get / 1e3}%.2f " +
          f"deser=${deserMs.get / 1e3}%.2f gc=${gcMs.get / 1e3}%.2f " +
          f"resSer=${resSerMs.get / 1e3}%.2f")
      }
    }
    spark.stop()
  }
}
