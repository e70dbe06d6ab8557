package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Child processes the JVM starts, seen through a `jdk.ProcessStart`
  * JFR recording: Hadoop's local FileSystem forks `chmod` and `ls -ld`
  * when libhadoop is absent. */
object ProcessStarts {

  /** `body`'s result and the commands of the processes started while it ran. */
  def during[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }
}
