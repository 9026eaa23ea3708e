package graftbench

import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans. The benchmark thread opens and closes run, pass, item
  * and phase spans; the listeners, once attached, add one record per Spark
  * job, stage, query execution and streaming batch. Listener records carry
  * no parent: `perfbench/metrics.py` attributes each to its phase by job
  * group or, for work the program starts on its own threads, by time. */
final class Recorder(clock: Clock) {
  private final class Span(val id: Int, val kind: String, val name: String,
      val parent: Option[Int], val start: Double) {
    var end = Double.NaN
    var attrs: Seq[(String, Any)] = Nil
  }

  private val bench = mutable.ArrayBuffer.empty[Span]
  private val records = java.util.Collections.synchronizedList(
    new java.util.ArrayList[java.util.Map[String, Any]]())

  def open(kind: String, name: String, parent: Option[Int]): Int = {
    val s = new Span(bench.size, kind, name, parent, clock.nowMs)
    bench += s
    s.id
  }

  def close(id: Int, attrs: (String, Any)*): Unit = {
    val s = bench(id)
    s.end = clock.nowMs
    s.attrs = attrs
  }

  private def record(fields: (String, Any)*): Unit = records.add(Json.obj(fields: _*)): Unit

  def spans: Seq[java.util.Map[String, Any]] =
    bench.toSeq.map { s =>
      Json.obj(Seq[(String, Any)]("id" -> s.id, "kind" -> s.kind, "name" -> s.name,
        "parent" -> s.parent.orNull, "start" -> s.start, "end" -> s.end) ++ s.attrs: _*)
    } ++ (records.synchronized(records.toArray.toSeq)
      .map(_.asInstanceOf[java.util.Map[String, Any]]))

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new Jobs)
    spark.listenerManager.register(new Queries)
    spark.streams.addListener(new Batches)
  }

  /** Jobs with their group and call site; stages with task metrics summed
    * over their tasks. The listener bus calls these from one thread. */
  private final class Jobs extends SparkListener {
    private val jobs = mutable.Map.empty[Int, (Properties, Double, String)]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val tasks = mutable.Map.empty[(Int, Int), TaskSums]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a job's result stage is named after the job's call site
      val callSite = e.stageInfos.maxByOption(_.stageId).map(_.name).orNull
      jobs(e.jobId) = (Option(e.properties).getOrElse(new Properties), e.time.toDouble, callSite)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (props, start, callSite) =>
        record("kind" -> "job", "name" -> s"job${e.jobId}", "job" -> e.jobId,
          "group" -> props.getProperty("spark.jobGroup.id"), "callsite" -> callSite,
          "start" -> start, "end" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskSums)
      val i = e.taskInfo
      val m = e.taskMetrics
      t.durations += i.duration
      if (m != null) {
        t.run += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gc += m.jvmGCTime
        t.deser += m.executorDeserializeTime
        t.sched += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.outRows += m.outputMetrics.recordsWritten
        t.outBytes += m.outputMetrics.bytesWritten
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val t = tasks.remove((s.stageId, s.attemptNumber())).getOrElse(new TaskSums)
      val d = t.durations.sorted
      record("kind" -> "stage", "name" -> s.name, "stage" -> s.stageId,
        "job" -> stageJob.get(s.stageId).map(Int.box).orNull,
        "start" -> s.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
        "end" -> s.completionTime.map(_.toDouble).getOrElse(Double.NaN),
        "tasks" -> d.size, "task_ms" -> t.run, "cpu_ms" -> t.cpuNs / 1e6,
        "gc_ms" -> t.gc, "deser_ms" -> t.deser, "sched_delay_ms" -> t.sched,
        "task_max_ms" -> d.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)),
        "shuffle_read_bytes" -> t.shuffleRead, "shuffle_write_bytes" -> t.shuffleWrite,
        "spill_bytes" -> t.spill, "input_bytes" -> t.input,
        "output_rows" -> t.outRows, "output_bytes" -> t.outBytes)
    }
  }

  private final class TaskSums {
    val durations = mutable.ArrayBuffer.empty[Long]
    var run, cpuNs, gc, deser, sched, shuffleRead, shuffleWrite, spill, input,
      outRows, outBytes = 0L
  }

  /** Catalyst phase times and exchange count of every executed plan; a
    * write's duration counts as sink time. */
  private final class Queries extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add(funcName, qe, durationNs, ok = true)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(funcName, qe, 0L, ok = false)

    private def add(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ph(n: String) = phases.get(n)
      val start = phases.values.map(_.startTimeMs).minOption.map(_.toDouble)
        .getOrElse(clock.nowMs - durationNs / 1e6)
      val plan: Option[SparkPlan] = scala.util.Try(qe.executedPlan).toOption
      record("kind" -> "query", "name" -> funcName, "start" -> start,
        "end" -> (start + durationNs / 1e6), "ok" -> ok,
        "analysis_ms" -> ph("analysis").map(_.durationMs).getOrElse(0L),
        "optimization_ms" -> ph("optimization").map(_.durationMs).getOrElse(0L),
        "planning_ms" -> ph("planning").map(_.durationMs).getOrElse(0L),
        "exchanges" -> plan.flatMap(p =>
          scala.util.Try(collectWithSubqueries(p) { case e: Exchange => e }.size).toOption).getOrElse(0),
        "write" -> plan.exists {
          case _: DataWritingCommandExec | _: V2TableWriteExec => true
          case _ => false
        })
    }
  }

  /** One record per streaming micro-batch, with the state it holds. */
  private final class Batches extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      record("kind" -> "batch", "name" -> s"batch${p.batchId}", "run_id" -> p.runId.toString,
        "start" -> start, "end" -> (start + ms), "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }
}

/** Minimal JSON output through the Jackson bundled with Spark. */
object Json {
  def obj(fields: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  private def toJava(v: Any): Any = v match {
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def write(path: java.nio.file.Path, value: Any): Unit =
    mapper.writeValue(path.toFile, value)
}
