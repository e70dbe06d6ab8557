package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in this process and writes its raw record (set-up
  * parts, every client call, per-layer samples, spans) as JSON. The
  * metrics are computed from that record by `graftbench/run.py`.
  *
  * Arguments: `--workload shard_loader|table_dml --seed N
  * --seconds S --trace 0|1 --work DIR --out FILE`.
  *
  * Untraced, the client loop runs for S seconds and on to the end of the
  * current block of the operation mix (and to at least [[MinCalls]]
  * calls, up to 3 S). Traced, it runs for S seconds too, alternating
  * untraced blocks with blocks that have spans and the Spark listener on
  * (the two see the same drift as the table grows, so comparing them
  * gives the tracing overhead), followed by the per-layer probes.
  */
object Main {
  /** The median needs ten samples beyond it. */
  val MinCalls = 20
  val Repeats = 3
  /** Spark runs at `local[Cores]`: two of a 4-core machine's cores stay
    * free for the driver thread, GC and JIT.
    */
  val Cores = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = workload match {
      case "shard_loader" => new ShardLoader(spark, seed)
      case "table_dml" => new TableDml(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val rec = new Recorder
    val tr = new Tracer(spark)

    def guarded(what: String)(body: => Unit): Unit =
      try body
      catch {
        case NonFatal(e) =>
          rec.fail(s"$what threw ${e.getClass.getName}: ${e.getMessage}")
          rec.call("error", 0.0, ok = false)
      }

    def step(): Unit = guarded(s"$workload step")(w.step(rec, tr))

    val prepareS = (0 until Repeats).map { i =>
      Time.ms(w.prepare(new File(work, s"setup-$i")))._2 / 1000
    }
    val warmS = Time.ms(guarded("warm-up")(w.warm(rec, tr)))._2 / 1000

    val process = scala.collection.mutable.LinkedHashMap[String, Any]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (!traced) {
      rec.phase = "timed"
      while (elapsed < seconds || !w.atBlockEnd || (rec.okCalls < MinCalls && elapsed < 3 * seconds))
        step()
    } else {
      val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      var (cpuS, gcMsTotal, blocks) = (0.0, 0.0, 0)
      while (elapsed < seconds || blocks < 2) {
        val on = blocks % 2 == 1
        rec.phase = if (on) "traced" else "plain"
        if (on) tr.start()
        val (cpu0, gc0) = (os.getProcessCpuTime, gcMs)
        do step() while (!w.atBlockEnd)
        if (on) {
          cpuS += (os.getProcessCpuTime - cpu0) / 1e9
          gcMsTotal += gcMs - gc0
          tr.stop()
        }
        blocks += 1
      }
      process("cpu_s") = cpuS
      process("gc_ms") = gcMsTotal
      rec.phase = "traced"
      tr.start()
      guarded("probe")(w.probe(rec, tr))
      tr.stop()
    }
    process("window_s") = elapsed
    rec.phase = "finish"
    guarded("final check")(w.finish(rec))

    val record = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> Cores, "traced" -> traced,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warm_s" -> warmS),
      "process" -> process,
      "calls" -> rec.calls.map(c => Map("kind" -> c.kind, "ms" -> c.ms, "ok" -> c.ok, "phase" -> c.phase)),
      "samples" -> rec.samples,
      "failures" -> rec.failures,
      "spans" -> tr.records)
    Files.write(new File(opt("out")).toPath, Json.render(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
