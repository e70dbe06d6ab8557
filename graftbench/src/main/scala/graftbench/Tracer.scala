package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark work attributed to one span: SQL executions, jobs and tasks
  * started while the span was the innermost open one, with the tasks'
  * executor run time and shuffle/input bytes, and the wall time covered
  * by the span's SQL executions.
  */
final class Counters {
  var execs = 0L
  var jobs = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  val execIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: Counters): Unit = {
    execs += o.execs; jobs += o.jobs; tasks += o.tasks
    executorRunMs += o.executorRunMs; shuffleBytes += o.shuffleBytes
    inputBytes += o.inputBytes; execIntervals ++= o.execIntervals
  }

  /** Wall milliseconds covered by the union of the SQL executions. */
  def inExecMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    execIntervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) covered += e - from
      end = math.max(end, e)
    }
    covered
  }
}

final case class Span(id: Int, parent: Int, name: String, op: Long,
    startNs: Long, var endNs: Long, counters: Counters)

/** In-memory spans around the benchmark's calls into graft, plus a
  * SparkListener that attributes Spark events to them.
  *
  * Each open span adds a job tag on the client thread; Spark stamps the
  * thread's tags on every job and SQL execution it starts, so an event
  * belongs to the innermost (highest-id) span whose tag it carries.
  * Until `start` and after `stop`, `span` runs its body and records
  * nothing, and no listener is attached.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val originNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  // listener-side state, touched on the bus thread
  private val execOwner = mutable.Map[Long, (Span, Long)]()
  private val stageOwner = mutable.Map[Int, Span]()

  private val TagPrefix = "graftbench-span-"
  private var on = false
  private var ops = 0L

  def enabled: Boolean = on

  def start(): Unit = { spark.sparkContext.addSparkListener(this); on = true }

  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    on = false
  }

  /** Times `body` as a span nested in the innermost open one. A span
    * opened with none open starts a new operation; nested spans share
    * their root's operation id.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open.headOption
      if (parent.isEmpty) ops += 1
      val s = Span(spans.size + 1, parent.map(_.id).getOrElse(0), name, ops,
        System.nanoTime() - originNs, -1L, new Counters)
      spans += s
      byId.put(s.id, s)
      open = s :: open
      val tag = TagPrefix + s.id
      spark.sparkContext.addJobTag(tag)
      try body
      finally {
        spark.sparkContext.removeJobTag(tag)
        s.endNs = System.nanoTime() - originNs
        open = open.tail
      }
    }

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = if (on) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def all: Seq[Span] = spans.toSeq

  /** The span's own counters plus those of every span nested in it. */
  def inclusive(root: Span): Counters = {
    val c = new Counters
    val children = spans.groupBy(_.parent)
    def walk(s: Span): Unit = { c.add(s.counters); children.getOrElse(s.id, Nil).foreach(walk) }
    walk(root)
    c
  }

  private def owner(tags: Iterable[String]): Option[Span] = {
    val ids = tags.collect { case t if t.startsWith(TagPrefix) => t.drop(TagPrefix.length).toInt }
    if (ids.isEmpty) None else Option(byId.get(ids.max))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      owner(e.jobTags).foreach { s =>
        s.counters.execs += 1
        execOwner(e.executionId) = (s, e.time)
      }
    case e: SparkListenerSQLExecutionEnd =>
      execOwner.remove(e.executionId).foreach { case (s, start) =>
        s.counters.execIntervals += ((start, e.time))
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    owner(tags).foreach { s =>
      s.counters.jobs += 1
      e.stageIds.foreach(id => stageOwner(id) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOwner.get(e.stageId).foreach { s =>
      s.counters.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.counters.executorRunMs += m.executorRunTime
        s.counters.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.counters.inputBytes += m.inputMetrics.bytesRead
      }
    }

  /** Spans as plain records for the trace file (times in ms). */
  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
      "execs" -> s.counters.execs, "jobs" -> s.counters.jobs,
      "tasks" -> s.counters.tasks, "executor_run_ms" -> s.counters.executorRunMs,
      "shuffle_bytes" -> s.counters.shuffleBytes, "input_bytes" -> s.counters.inputBytes,
      "in_exec_ms" -> s.counters.inExecMs)
  }
}
