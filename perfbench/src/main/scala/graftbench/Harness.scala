package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.NumericType

import graft.parser.{DtsxParser, MigrationMapping}
import graft.validate.ValidationSuite

/** One benchmark run in a fresh JVM.
  *
  * Sets the session up as `graft.Bench` does (same conf and untimed warmup,
  * with `local[N]` and N shuffle partitions), then runs the given items in
  * passes from this one thread — a closed loop with one item in flight: a
  * cold pass, an untimed warm-up pass, then warm passes until the time
  * budget is spent. An item is one `SparkEntry.queries`
  * function: the call (build), then its full output written as parquet
  * (exec), then, for `migrate`, `ValidationSuite` against the legacy copy
  * of its oracle result (validate).
  *
  * Every pass, item and phase is recorded as a span; with `--trace 1`,
  * Spark's public listeners add job, stage, query-execution and
  * streaming-batch records. Everything stays in memory and is written as
  * one JSON file when the run ends; `perfbench/run.py` derives the metrics.
  *
  * Usage: `graftbench.Harness key=value ...` with the keys read in [[main]].
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val items = a("items").split(',').toSeq.filter(_.nonEmpty)
    val data = a("data")
    val legacy = a.get("legacy").filter(_.nonEmpty)
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val minWarm = a("min_warm_passes").toInt
    val maxWarm = a("max_warm_passes").toInt
    val stealLimit = a("steal_limit").toDouble
    val workdir = Paths.get(a("workdir"))
    val out = workdir.resolve("out")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val clock = new Clock
    val rec = new Recorder(clock)

    // set-up as a user pays it: from JVM start until graft.Bench's warmup
    // has finished
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = Session.build(cpus, workdir)
    Session.warmup(spark, data)
    val setupS = (clock.nowMs - jvmStart) / 1e3
    if (trace) rec.attach(spark)
    val heap = new HeapPeak
    val queries = graft.SparkEntry.queries
    val packages = Option(new File(a("packages")).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".dtsx")).sortBy(_.getName).toSeq
      .map(f => new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))

    val runSpan = rec.open("run", a("workload"), None)
    // the cold pass, a warm-up pass while the JIT still catches up, then
    // warm passes for `seconds` and until `minWarm` of them ran while the
    // host gave at most `stealLimit` of its CPU time to other guests; a
    // disturbed pass is run again, up to `maxWarm` warm passes in all
    var deadline = Double.MaxValue
    var pass, warm, undisturbed = 0
    var staged = Staging.list(tmp)
    while (pass < 2 || (undisturbed < minWarm && warm < maxWarm) || clock.nowMs < deadline) {
      val settleS = Jvm.settle()
      val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs; val cpu0 = Jvm.cpuNs
      val host0 = Host.cpuTicks
      val passSpan = rec.open("pass", s"pass$pass", Some(runSpan))
      if (trace) parseAll(rec, passSpan, packages)
      items.zipWithIndex.foreach { case (name, idx) =>
        runItem(spark, rec, passSpan, s"bench/$pass/$idx", name, queries(name),
          data, out, legacy)
      }
      val now = Staging.list(tmp)
      val fresh = now -- staged.keySet
      staged = now
      val steal = Host.stealFrac(host0, Host.cpuTicks)
      rec.close(passSpan, "cold" -> (pass == 0), "warmup" -> (pass == 1), "settle_s" -> settleS,
        "gc_ms" -> (Jvm.gcMs - gc0), "jit_ms" -> (Jvm.jitMs - jit0),
        "cpu_s" -> (Jvm.cpuNs - cpu0) / 1e9, "steal_frac" -> steal,
        "staging_builds" -> fresh.size,
        "staging_bytes" -> fresh.values.sum)
      if (pass == 1) deadline = clock.nowMs + seconds * 1e3
      if (pass >= 2) {
        warm += 1
        if (steal <= stealLimit) undisturbed += 1
      }
      pass += 1
    }
    rec.close(runSpan)
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    // stopping drains the listener bus, so every job, stage, query and
    // batch record has arrived before the spans are written
    spark.stop()
    Json.write(Paths.get(a("result")), Json.obj(
      "workload" -> a("workload"),
      "items" -> items,
      "setup_s" -> setupS,
      "heap_peak_mb" -> heap.peakMb,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "spark_conf" -> Json.obj(conf: _*),
      "spans" -> rec.spans))
    heap.close()
  }

  /** The parser layer, on its own: every bundled package through
    * `DtsxParser.parseString` and `MigrationMapping.mapPackage`. */
  private def parseAll(rec: Recorder, passSpan: Int, packages: Seq[String]): Unit = {
    val span = rec.open("phase", "parse", Some(passSpan))
    var parseNs, mapNs = 0L
    var failed = 0
    packages.foreach { xml =>
      val t0 = System.nanoTime()
      try {
        val pkg = DtsxParser.parseString(xml)
        val t1 = System.nanoTime()
        parseNs += t1 - t0
        MigrationMapping.mapPackage(pkg)
        mapNs += System.nanoTime() - t1
      } catch { case scala.util.control.NonFatal(_) => failed += 1 }
    }
    rec.close(span, "packages" -> packages.size, "failed" -> failed,
      "parse_s" -> parseNs / 1e9, "map_s" -> mapNs / 1e9)
  }

  private def runItem(spark: SparkSession, rec: Recorder, passSpan: Int, key: String,
      name: String, fn: (SparkSession, String) => DataFrame, data: String, out: Path,
      legacy: Option[String]): Unit = {
    val sc = spark.sparkContext
    val item = rec.open("item", name, Some(passSpan))
    // the job group names the phase, so the listener can attribute
    // every job this thread starts to its item and phase
    def phase[T](ph: String)(body: => T): T = {
      sc.setJobGroup(s"$key/$ph", name, interruptOnCancel = false)
      val span = rec.open("phase", ph, Some(item))
      try body finally rec.close(span)
    }
    var error: Option[String] = None
    var checks, failedChecks = 0
    var analysisMs = 0L
    try {
      val df = phase("build")(fn(spark, data))
      // the final plan is analyzed while the DataFrame is built
      analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      val path = out.resolve(name).toString
      phase("exec")(df.write.mode("overwrite").parquet(path))
      legacy.foreach { dir =>
        phase("validate") {
          val results = validate(spark, path, s"$dir/$name.parquet", name)
          checks = results.size
          failedChecks = results.count(!_.passed)
        }
      }
      if (failedChecks > 0) error = Some("ValidationFailed")
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed")
        e.printStackTrace()
        error = Some(e.getClass.getSimpleName)
    } finally {
      sc.clearJobGroup()
    }
    rec.close(item, "error" -> error.orNull, "checks" -> checks,
      "failed_checks" -> failedChecks, "analysis_ms" -> analysisMs)
    spark.sharedState.cacheManager.clearCache()
  }

  /** Row count plus a checksum of every numeric output column, against
    * the legacy copy of the item's result. */
  private def validate(spark: SparkSession, actualPath: String, legacyPath: String,
      name: String): Seq[ValidationSuite.CheckResult] = {
    val actual = spark.read.parquet(actualPath)
    val expected = spark.read.parquet(legacyPath)
    val numeric = actual.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }
    ValidationSuite.rowCountMatch(actual, expected, name) +:
      numeric.toSeq.flatMap(c => ValidationSuite.checksum(actual, expected, c, name))
  }
}

/** graft.Bench's session and warmup. Only the worker count and the
  * run-private local and warehouse directories differ. */
object Session {
  def build(cpus: Int, workdir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workdir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", workdir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def warmup(spark: SparkSession, sfDir: String): Unit =
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
}

/** The program's staged artifacts: `graft_*` entries under the tmpdir. */
object Staging {
  def list(tmp: Path): Map[String, Long] =
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_"))
      .map(f => f.getName -> bytes(f)).toMap

  private def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
    else f.length()
}

object Jvm {
  /** Lets the JVM finish work queued by earlier passes before the next
    * pass is timed: a full collection, then a wait (at most 10 s) until the
    * JIT compilers have been idle for 300 ms. Returns the seconds spent. */
  def settle(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    var last = jitMs
    var idle = 0
    while (idle < 3 && System.nanoTime() - t0 < 10e9) {
      Thread.sleep(100)
      val now = jitMs
      idle = if (now == last) idle + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  /** CPU time of the whole JVM process; time the host gives to other
    * guests is not in it. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
}

/** The host's CPU time as the guest kernel accounts it in /proc/stat. */
object Host {
  /** (ticks the hypervisor gave to other guests, all ticks) since boot;
    * (0, 0) where /proc/stat cannot be read. */
  def cpuTicks: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .slice(1, 9).map(_.toLong)
      (f(7), f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Share of the CPU time between two readings that went to other guests. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** Peak heap in use right after a garbage collection, from the
  * collectors' notifications. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (used > peak) peak = used
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null); e
  }

  def peakMb: Double = peak / 1048576.0
  def close(): Unit = emitters.foreach(e => e.removeNotificationListener(listener))
}

/** Epoch milliseconds with nanosecond resolution, so the benchmark's own
  * spans line up with the listener's epoch-millisecond event times. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Writes `SparkEntry.oracleSql` as one JSON object, the form
  * `tools/check.py` reads as `oracle_sql.json`. */
object OracleSql {
  def main(args: Array[String]): Unit =
    Json.write(Paths.get(args(0)), Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1): _*))
}
