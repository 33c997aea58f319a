package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Counts the operating-system processes the JVM starts while `body`
  * runs from inside a checkpoint file manager: `jdk.ProcessStart` events,
  * recorded in process, with a `CheckpointFileManager` class on the stack. */
object CheckpointForks {

  def during(body: => Unit): Int = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val file = Files.createTempFile("checkpoint-forks", ".jfr")
    try {
      try body finally recording.stop()
      recording.dump(file)
      RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.contains("CheckpointFileManager"))
      }
    } finally {
      recording.close()
      Files.deleteIfExists(file)
    }
  }
}
