package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Process launches in this JVM: `in(f)` runs `f` under an in-process JFR
  * recording of `jdk.ProcessStart` alone, read back once stopped, so the
  * launches it returns are complete. */
object Forks {
  final case class Start(command: String, thread: String)

  def in[A](f: => A): (A, Seq[Start]) = {
    val (rec, file) = (new Recording(), Files.createTempFile("graft-forks", ".jfr"))
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = f
      rec.stop()
      rec.dump(file)
      (out, RecordingFile.readAllEvents(file).asScala.toSeq.map(e =>
        Start(e.getString("command"), e.getThread("eventThread").getJavaName)))
    } finally { rec.close(); Files.delete(file) }
  }
}
