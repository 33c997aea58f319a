package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Counts the operating-system processes the JVM starts while `body` runs
  * from a given place: `jdk.ProcessStart` events, recorded in process,
  * with a class whose name contains `onStack` on the stack. */
object Forks {

  /** Forks from a checkpoint file manager. */
  val CheckpointManager = "CheckpointFileManager"

  /** Forks from Hadoop's shell helper, which runs the `chmod` its local
    * filesystem forks without `libhadoop`. */
  val HadoopShell = "org.apache.hadoop.util.Shell"

  def during(onStack: String)(body: => Unit): Int = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val file = Files.createTempFile("forks", ".jfr")
    try {
      try body finally recording.stop()
      recording.dump(file)
      RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.contains(onStack))
      }
    } finally {
      recording.close()
      Files.deleteIfExists(file)
    }
  }
}
