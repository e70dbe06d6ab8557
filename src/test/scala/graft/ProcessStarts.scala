package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordedEvent

/** Child processes the JVM starts, seen through a `jdk.ProcessStart`
  * JFR recording: Hadoop's local FileSystem forks `chmod` and `ls -ld`
  * when libhadoop is absent. */
object ProcessStarts {

  /** `body`'s result and the commands of the processes started while it ran. */
  def during[T](body: => T): (T, Seq[String]) = {
    val (out, events) = JfrEvents.during("jdk.ProcessStart")(body)
    (out, events.map(_.getString("command")))
  }
}

/** Threads the calling thread starts, seen through a `jdk.ThreadStart`
  * JFR recording (the recorder's own threads left out). */
object ThreadStarts {

  /** `body`'s result and the names of the threads it started. */
  def during[T](body: => T): (T, Seq[String]) = {
    val caller = Thread.currentThread.getId
    val (out, events) = JfrEvents.during("jdk.ThreadStart")(body)
    (out, events.filter(e => Option(e.getThread("parentThread"))
        .exists(_.getJavaThreadId == caller))
      .map(e => Option(e.getThread("thread")).map(_.getJavaName).orNull)
      .filterNot(n => n != null && n.startsWith("JFR ")))
  }
}

/** The JFR events of one type recorded while a body ran. */
object JfrEvents {

  def during[T](event: String)(body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable(event)
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("jfr-events", ".jfr")
    try {
      rec.dump(file)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == event))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }
}
