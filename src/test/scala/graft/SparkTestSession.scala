package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole test run. */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Write `df` as ONE parquet file in a new temp dir and reopen the dir
    * bare: `spark.read.parquet`, so its plan is a plain file scan. */
  def singleFileParquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-single").resolve("t").toString
    df.coalesce(1).write.parquet(dir)
    get.read.parquet(dir)
  }

  // the job group of every job started, in listener-bus order
  private val startedGroups = new ConcurrentLinkedQueue[String]()
  private lazy val groupListener: Unit = get.sparkContext.addSparkListener(
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(startedGroups.add)
    })
  private val groupSeq = new AtomicInteger()

  /** Run `f` in a job group of its own and count the Spark jobs it
    * started (threads it spawns inherit the group). A marker job in a
    * second group then flushes the listener bus, so a start event that
    * arrives late is still counted, not missed. */
  def jobsIn[A](label: String)(f: => A): (A, Int) = {
    groupListener
    val sc = get.sparkContext
    val group = s"$label-${groupSeq.incrementAndGet()}"
    sc.setJobGroup(group, label)
    val out = try f finally sc.clearJobGroup()
    sc.setJobGroup(group + "-flush", "flush")
    try get.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!startedGroups.contains(group + "-flush") && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (!startedGroups.contains(group + "-flush"))
      throw new AssertionError("the job listener never saw the flush job")
    (out, startedGroups.toArray.count(_ == group))
  }

  // the output columns of every query execution that ended, in order;
  // a failed one is recorded as Failed (its plan may not even analyse)
  private val Failed = Seq("<failed>")
  private val endedQueries = new ConcurrentLinkedQueue[Seq[String]]()
  private lazy val queryListener: Unit = get.listenerManager.register(
    new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        endedQueries.add(qe.analyzed.output.map(_.name)): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        endedQueries.add(Failed): Unit
    })

  /** The query executions that ended while `f` ran, as a
    * `QueryExecutionListener` sees them. A marker query before and after
    * `f` flushes the listener bus, as in [[jobsIn]]; this assumes
    * nothing else runs queries on this session meanwhile. */
  private def endedIn[A](f: => A): (A, Seq[Seq[String]]) = {
    queryListener
    def flush(): Int = {
      val marker = s"graft_query_marker_${groupSeq.incrementAndGet()}"
      def at = endedQueries.toArray.indexWhere(_ == Seq(marker))
      get.range(1).select(lit(1).as(marker)).collect(): Unit
      val deadline = System.nanoTime() + 10000000000L
      while (at < 0 && System.nanoTime() < deadline) Thread.sleep(10)
      if (at < 0) throw new AssertionError("the query listener never saw the marker")
      at
    }
    val before = flush()
    val out = f
    val after = flush()
    (out, endedQueries.toArray.slice(before + 1, after).toSeq
      .map(_.asInstanceOf[Seq[String]]))
  }

  /** Run `f` and count the query executions (actions) it made. */
  def queriesIn[A](f: => A): (A, Int) = {
    val (out, ended) = endedIn(f)
    (out, ended.size)
  }

  /** Run `f` and count the classes Spark's code generator compiled while
    * it ran (the samples of `CodegenMetrics`' compile-time histogram; a
    * codegen-cache hit compiles nothing). Driver and local executors
    * share the JVM, so this counts both; like [[queriesIn]] it assumes
    * nothing else runs meanwhile. */
  def compilesIn[A](f: => A): (A, Long) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val out = f
    (out, compiles.getCount - before)
  }

  /** Run `f` and return the processes launched while it ran (JFR
    * `jdk.ProcessStart` events: command and thread), complete on return.
    * Counts the whole JVM, so like [[compilesIn]] it assumes nothing else
    * runs meanwhile. */
  def forksIn[A](f: => A): (A, Seq[Forks.Start]) = Forks.in(f)

  /** Run `f` and count the query executions that FAILED while it ran
    * (a failed analysis counts: Spark posts it to every listener). */
  def failuresIn[A](f: => A): (A, Int) = {
    val (out, ended) = endedIn(f)
    (out, ended.count(_ == Failed))
  }
}
