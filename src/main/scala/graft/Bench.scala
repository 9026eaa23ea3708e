package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.build(cpus)
    // box-weather instrumentation (r18): same-binary solo draws on this
    // box swing 1.5-3x at the 272-query-sum level (PERF.md r15-r17 all
    // paid probe protocols to re-conclude "coherent box state, not a
    // plan regression"). Record load average, CPU governor/frequency,
    // and memory temperature at sweep START and END into the DETAIL
    // JSON so a future swing adjudicates from the artifact. The final
    // driver-contract line stays lean (~200 B tail-truncation budget).
    def envProbe(): String = {
      def read(p: String): Option[String] =
        try Some(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Path.of(p)),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        catch { case scala.util.control.NonFatal(_) => None }
      val load = read("/proc/loadavg")
        .map(_.split("\\s+").take(3).mkString(",")).getOrElse("")
      val gov = read(
        "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor")
        .getOrElse("")
      val freq = read(
        "/sys/devices/system/cpu/cpu0/cpufreq/scaling_cur_freq")
        .getOrElse("")
      val mem = read("/proc/meminfo").map { mi =>
        def kb(k: String) = ("(?m)^" + k + ":\\s+(\\d+)").r
          .findFirstMatchIn(mi).map(_.group(1)).getOrElse("")
        s""""mem_free_kb":"${kb("MemFree")}","mem_cached_kb":"${kb("Cached")}""""
      }.getOrElse(""""mem_free_kb":"","mem_cached_kb":"""")
      s"""{"loadavg":"$load","governor":"$gov","cpu_khz":"$freq",$mem}"""
    }
    val envStart = envProbe()
    // untimed warmup so the first query per table doesn't absorb JVM/
    // codegen/shuffle startup or first-touch file I/O: count every table
    // (page cache + footer reads), then one small shuffling aggregate
    try {
      import org.apache.spark.sql.functions._
      Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
        "region", "events", "documents", "embeddings").foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => }
      }
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").agg(sum("l_quantity")).count()
    } catch { case _: Throwable => }
    // optional args = query-name filter (dev loop); driver passes none
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    // median-of-3 per query: single-iteration timings swing ±30% with
    // environment noise (PERF.md), which made the round-over-round 2×
    // regression gate untrustworthy; the median is the reported figure,
    // the min is the best-observed floor. Caveat for queries that read a
    // graft.ops.Staged artifact — q50, x45, x48, x85; the near-dup pair
    // consumers x38/x56/x70/x90/x96/x103 (stagedLshScoredPairs); the
    // word-frequency consumers x61/x65/x67/x84/x93/x100 (stagedWordFreq);
    // the bigram-tf consumers x53/x107/x113/x120 (stagedBigramTf); the PQ
    // consumers x108/x111/x113/x120/x121 (stagedAdcTopK, stagedExactTop5):
    // iteration 1 may pay the staging build,
    // iterations 2+ hit the session-catalog/on-disk reuse path, so the
    // MEDIAN reports the warm (reuse) cost — the steady-state figure;
    // the cold build cost shows up only in a fresh application's first
    // iteration. A malformed env value falls back to 3 rather than
    // crashing the whole sweep.
    val iterations = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_ITERS")
      .flatMap(_.toIntOption).getOrElse(3))
    // classes compiled by Spark's code generator, over the timed iterations
    val compileCount = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      var err: Option[String] = None
      val compiles0 = compileCount.getCount
      // processes launched over the timed iterations
      val (times, forks) = Forks.in((1 to iterations).flatMap { _ =>
        val t = if (err.isDefined) None else {
          val t0 = System.nanoTime()
          // a failed query must be VISIBLE: full trace to stderr, an "err"
          // marker in the JSON — and its recorded time is the time spent
          // until the failure, never a silently tiny 0.0 that would read
          // as the fleet's fastest query in a round-over-round compare
          try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] query $name FAILED")
              e.printStackTrace()
              err = Some(e.getClass.getSimpleName)
              Some((System.nanoTime() - t0) / 1e9)
          }
        }
        // operators free their own caches on return (x06/x12/x14
        // materialize + unpersist internally); this clear is belt-and-
        // braces so a future cache leak never skews the next iteration
        spark.sharedState.cacheManager.clearCache()
        t
      })
      val compiles = compileCount.getCount - compiles0
      val sorted = times.sorted
      val median = sorted(sorted.length / 2)
      val min = sorted.head
      (name, median, min, err, times.head, compiles, forks.size)
    }
    // timings rounded to 0.1ms — full-double precision is noise (PERF.md
    // records 1.3-2x environment drift). The FINAL stdout line is the lean
    // driver contract (~200 B: total + errors only — it must survive ANY
    // tail truncation; the 128-entry per-query map pushed it past the
    // driver's capture in BENCH_r07 AND r08). Per-query medians and mins
    // go on their OWN earlier lines and into /tmp/bench_queries.json for
    // the builder to copy into PERF.md.
    // Locale.ROOT: a comma-decimal default locale (de_DE …) would render
    // "1,2345" and break the driver's JSON parse
    def f(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _, _, _, _, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, v, _, _, _, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // the first iteration of each query: the cold figure the median hides
    val cold = Json.obj(results.map { case (k, _, _, _, v, _, _) => k -> f(v) }: _*)
    val compiles = Json.obj(results.map { case (k, _, _, _, _, n, _) => k -> n.toString }: _*)
    val forks = Json.obj(results.map { case (k, _, _, _, _, _, n) => k -> n.toString }: _*)
    val errs = results.collect { case (k, _, _, Some(e), _, _, _) => s"\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // sum-of-mins rides beside the median headline: the min is far less
    // sensitive to box weather (PERF.md documents 1.3-2x same-binary
    // sweep drift), so a round-over-round compare that sees the median
    // total jump while value_min holds is reading weather, not a plan
    // regression — the r15 167->306s driver swing class
    val totalMin = results.map(_._3).sum
    val errField = if (errs == "{}") "" else s""","errors":$errs"""
    val envEnd = envProbe()
    val detail =
      s"""{"metric":"queries_detail","queries":$qs,"queries_min":$mins,"queries_cold":$cold,"compiles":$compiles,"forks":$forks,"n":${results.size}$errField,"env":{"start":$envStart,"end":$envEnd},"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Path.of("/tmp/bench_queries.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // best-effort, never fatal — but NonFatal only: swallowing an OOM /
    // VirtualMachineError here would mask a dying JVM right before the
    // final driver-contract line prints
    catch { case scala.util.control.NonFatal(_) => }
    println(detail)
    println(s"""{"metric":"total","value":${f(total)},"value_min":${f(totalMin)},"unit":"sec","n":${results.size}$errField,"sf":"$sfDir"}""")
    spark.stop()
  }
}
