package graft.pipeline

import graft.Json.q
import graft.pipeline.PackageRunner.{PackageRun, TaskRun, TaskStatus}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Run-state checkpointing (reference `src/agents/context.py:154-190`:
  * state JSON per phase so an interrupted migration resumes where it
  * stopped). The state file is rewritten atomically after every task, so
  * a crash mid-package loses at most the in-flight task; on resume,
  * terminally-successful tasks are carried over without re-executing —
  * at 100 TB a completed 2-hour fact load must never re-run because a
  * later notify task failed. */
object RunState {

  /** Status → wire label. Failed carries its message after a `: `. */
  def label(s: TaskStatus): String = s match {
    case TaskStatus.Succeeded => "Succeeded"
    case TaskStatus.SkippedManualReview => "SkippedManualReview"
    case TaskStatus.SkippedNotConverted => "SkippedNotConverted"
    case TaskStatus.NotRun => "NotRun"
    case TaskStatus.Failed(e) => s"Failed: $e"
  }

  private def parse(label: String): TaskStatus = label match {
    case "Succeeded" => TaskStatus.Succeeded
    case "SkippedManualReview" => TaskStatus.SkippedManualReview
    case "SkippedNotConverted" => TaskStatus.SkippedNotConverted
    case "NotRun" => TaskStatus.NotRun
    case f if f.startsWith("Failed") =>
      TaskStatus.Failed(f.stripPrefix("Failed").stripPrefix(": "))
    case other => TaskStatus.Failed(s"unparseable checkpoint status: $other")
  }

  /** A carried-over status: the task does not need to re-execute. */
  def isTerminalSuccess(s: TaskStatus): Boolean = s match {
    case TaskStatus.Succeeded | TaskStatus.SkippedManualReview |
        TaskStatus.SkippedNotConverted => true
    case _ => false
  }

  def toJson(run: PackageRun): String = {
    val tasks = run.tasks.map { t =>
      val rows = t.rowsWritten.fold("")(r => s""","rowsWritten":$r""")
      s"""{"name":${q(t.taskName)},"type":${q(t.taskType)},"status":${q(label(t.status))}$rows}"""
    }.mkString("[", ",", "]")
    s"""{"package":${q(run.packageName)},"tasks":$tasks}"""
  }

  /** Atomic write: temp file + move, so a concurrent crash never leaves a
    * torn state file. */
  def save(run: PackageRun, path: String): Unit = {
    val target = Paths.get(path)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = Files.createTempFile(
      Option(target.getParent).getOrElse(Paths.get(".")), ".runstate", ".tmp")
    Files.writeString(tmp, toJson(run))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** taskName → prior status; empty when no checkpoint exists yet.
    * Jackson (already on the Spark classpath) does the parsing. */
  def load(path: String): Map[String, TaskStatus] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.readTree(Files.readString(Paths.get(path)))
      val tasks = root.get("tasks")
      if (tasks == null || !tasks.isArray) Map.empty
      else {
        val it = tasks.elements()
        val out = Map.newBuilder[String, TaskStatus]
        while (it.hasNext) {
          val t = it.next()
          out += t.get("name").asText() -> parse(t.get("status").asText())
        }
        out.result()
      }
    }
}
