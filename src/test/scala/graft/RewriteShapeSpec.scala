package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.ListenerEvents
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.{ParquetWrite, SnapshotLog}
import graft.sql.GraftSql

/** Spark jobs, SQL executions, exchanges and output files of
  * copy-on-write statements: a rewrite that only scans files is written
  * without a shuffle; a MERGE or upsert from driver-held rows probes its
  * keys on the driver, and such a MERGE joins and writes in one job with
  * no exchange; a MERGE from any other source keeps its shuffled join.
  */
class RewriteShapeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private def dir(name: String): String = {
    val t = java.nio.file.Paths.get("target", name).toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    t
  }

  /** Every node of an executed plan, inside adaptive plans and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** What a traced body ran: its Spark jobs and SQL executions; per
    * snapshot write (the named SQL execution of `ParquetWrite`), its
    * executed plan and the number of its jobs that ran the write tasks
    * (the exchanges and broadcasts of the plan feeding it run jobs of
    * their own); how many jobs started after the last write ended; and
    * how many ran outside every write's execution.
    */
  private case class Trace(jobs: Int, execs: Int, writes: Seq[SparkPlan],
      writeJobs: Seq[Int], jobsAfterWrites: Int, jobsOutsideWrites: Int)

  private def traced(body: => Any): Trace = {
    val sc = spark.sparkContext
    val group = s"rewrite-shape-${java.util.UUID.randomUUID()}"
    // in listener-bus order: Left(execution id, ran the write tasks) per
    // job of the group, Right(execution id) per ended snapshot write
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Either[(Long, Boolean), Long]]()
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val execs = new java.util.concurrent.atomic.AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
            .fold(-1L)(_.toLong)
          events.add(Left((exec,
            e.stageInfos.sortBy(_.stageId).lastOption
              .exists(_.name.startsWith("runJob at ParquetWrite.scala")))))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case start: SparkListenerSQLExecutionStart if start.jobTags.contains(group) =>
          execs.incrementAndGet()
        case end: SparkListenerSQLExecutionEnd
            if ListenerEvents.executionName(end).contains(ParquetWrite.ExecutionName) =>
          events.add(Right(end.executionId))
        case _ =>
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == ParquetWrite.ExecutionName) writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    sc.setJobGroup(group, "rewrite shape")
    sc.addJobTag(group)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally {
      sc.removeJobTag(group)
      sc.clearJobGroup()
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    import scala.jdk.CollectionConverters._
    val evs = events.asScala.toSeq
    val writeIds = evs.collect { case Right(id) => id }
    val jobs = evs.collect { case Left(j) => j }
    Trace(jobs.size, execs.get, writes.asScala.toSeq,
      writeIds.map(id => jobs.count(_ == ((id, true)))),
      evs.drop(evs.lastIndexWhere(_.isRight) + 1).size,
      jobs.count { case (exec, _) => !writeIds.contains(exec) })
  }

  /** The trace of one statement that writes once: one write plan, run by
    * one job, and no job after it.
    */
  private def oneWrite(what: String, t: Trace): Unit = {
    assert(t.writes.size == 1, s"$what: ${t.writes}")
    assert(t.writeJobs == Seq(1), s"$what: write jobs ${t.writeJobs}")
    assert(t.jobsAfterWrites == 0, s"$what: ${t.jobsAfterWrites} jobs after its write")
  }

  private def exchanges(writes: Seq[SparkPlan]): Seq[SparkPlan] =
    writes.flatMap(nodes).collect { case e: Exchange => e }

  /** Files version `v` added over its parent. */
  private def added(t: String, v: Long): Int = {
    val before = SnapshotLog.manifest(spark, t, v - 1).files.map(_.path).toSet
    SnapshotLog.manifest(spark, t, v).files.count(f => !before(f.path))
  }

  /** A 4-file table of keys 0-3999, range-partitioned on `k`; returns
    * its path and the first file's key range.
    */
  private def fourFiles(name: String, view: String): (String, (Long, Long)) = {
    val t = dir(name)
    SnapshotLog.commit(spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 7).as("qty")).repartitionByRange(4, col("k")), t, "append", Seq("k"))
    GraftSql.registerSnapshot(spark, view, t, None, Seq("k"))
    val (lo, hi) = SnapshotLog.manifest(spark, t, 1L).files
      .map(f => f.stats("k")).map { case (a, b) => (a.toString.toLong, b.toString.toLong) }
      .minBy(_._1)
    (t, (lo, hi))
  }

  test("UPDATE and DELETE of a one-file range run one job, no exchange, and write one file") {
    val (t, (lo, hi)) = fourFiles("shape-one-file", "shp_v")
    assert(hi - lo > 40)
    val upd = traced {
      GraftSql.dml(spark, s"UPDATE shp_v SET qty = qty + 100 WHERE k BETWEEN ${lo + 10} AND ${lo + 30}")
    }
    oneWrite("UPDATE", upd)
    assert(upd.jobs == 1, s"UPDATE ran ${upd.jobs} jobs")
    assert(exchanges(upd.writes).isEmpty, upd.writes.head)
    assert(added(t, 2L) == 1)
    val del = traced {
      GraftSql.dml(spark, s"DELETE FROM shp_v WHERE k BETWEEN ${lo + 20} AND ${lo + 25}")
    }
    oneWrite("DELETE", del)
    assert(del.jobs == 1, s"DELETE ran ${del.jobs} jobs")
    assert(exchanges(del.writes).isEmpty, del.writes.head)
    assert(added(t, 3L) == 1)
    val got = spark.sql("SELECT count(*), sum(qty) FROM shp_v").head
    val kept = (0L until 4000L).filterNot(k => k >= lo + 20 && k <= lo + 25)
    val want = kept.map(k => k % 7 + (if (k >= lo + 10 && k <= lo + 30) 100 else 0)).sum
    assert(got.getLong(0) == kept.size.toLong && got.getLong(1) == want, got)
  }

  test("a star MERGE from a local source runs one job, one execution, no exchange") {
    import spark.implicits._
    val (t, (lo, _)) = fourFiles("shape-merge", "shm_v")
    Seq((lo + 5, 100L), (lo + 6, 101L), (9000L, 1L)).toDF("k", "qty")
      .createOrReplaceTempView("shm_src")
    val merge = traced {
      GraftSql.dml(spark,
        """MERGE INTO shm_v USING shm_src ON shm_v.k = shm_src.k
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // the probe runs on the driver; the join, its guards and the write
    // run in the write's one execution and one job
    assert(merge.jobs == 1, s"star MERGE ran ${merge.jobs} jobs")
    assert(merge.execs == 1, s"star MERGE ran ${merge.execs} SQL executions")
    oneWrite("MERGE", merge)
    assert(exchanges(merge.writes).isEmpty, merge.writes.head)
    assert(added(t, 2L) == 1)
    val got = spark.sql("SELECT count(*), sum(qty) FROM shm_v").head
    val want = (0L until 4000L).map(k => k % 7).sum - (lo + 5) % 7 - (lo + 6) % 7 + 100 + 101 + 1
    assert(got.getLong(0) == 4001L && got.getLong(1) == want, got)
  }

  test("a MERGE from a parquet source keeps its shuffled join and the model's rows") {
    import spark.implicits._
    val (_, (lo, _)) = fourFiles("shape-merge-parquet", "shp2_v")
    val src = Seq((lo + 5, 100L), (lo + 6, 101L), (9000L, 1L), (9001L, 2L))
    val srcDir = dir("shape-merge-parquet-src")
    src.toDF("k", "qty").write.parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("shp2_src")
    val merge = traced {
      GraftSql.dml(spark,
        """MERGE INTO shp2_v USING shp2_src ON shp2_v.k = shp2_src.k
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    oneWrite("MERGE", merge)
    val shuffles = exchanges(merge.writes)
    assert(shuffles.exists(_.isInstanceOf[ShuffleExchangeExec]), merge.writes.head)
    val model = (0L until 4000L).map(k => k -> k % 7).toMap ++ src
    val got = spark.table("shp2_v").as[(Long, Long)].collect().toSeq.sorted
    assert(got == model.toSeq.sorted)
  }

  test("an insert-only local MERGE, no candidate file: one job, one new file") {
    import spark.implicits._
    val (t, _) = fourFiles("shape-merge-insert", "shmi_v")
    Seq((9000L, 1L), (9001L, 2L), (9002L, 3L)).toDF("k", "qty")
      .createOrReplaceTempView("shmi_src")
    val merge = traced {
      GraftSql.dml(spark,
        """MERGE INTO shmi_v USING shmi_src ON shmi_v.k = shmi_src.k
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(merge.jobs == 1, s"insert-only MERGE ran ${merge.jobs} jobs")
    assert(merge.execs == 1, s"insert-only MERGE ran ${merge.execs} SQL executions")
    oneWrite("MERGE", merge)
    assert(exchanges(merge.writes).isEmpty, merge.writes.head)
    val v = SnapshotLog.latestVersion(spark, t).get
    assert(v == 2L && added(t, 2L) == 1)
    assert(SnapshotLog.manifest(spark, t, 2L).files.size == 5)
    val got = spark.sql("SELECT count(*), sum(qty) FROM shmi_v").head
    assert(got.getLong(0) == 4003L &&
      got.getLong(1) == (0L until 4000L).map(_ % 7).sum + 6L, got)
  }

  test("an upsert of driver-local rows runs no job before its write execution") {
    import spark.implicits._
    val (t, (lo, _)) = fourFiles("shape-upsert", "shu_v")
    val up = traced {
      SnapshotLog.upsert(Seq((lo + 5, 100L), (9000L, 1L)).toDF("k", "qty"), t, "k")
    }
    assert(up.writes.size == 1, up)
    assert(up.execs == 1, s"upsert ran ${up.execs} SQL executions")
    assert(up.jobsOutsideWrites == 0, s"upsert ran ${up.jobsOutsideWrites} jobs outside its write")
    assert(up.jobsAfterWrites == 0, up)
    val after = SnapshotLog.read(spark, t)
    assert(after.count() == 4001L)
    assert(after.where(col("k") === lo + 5).select("qty").head.getLong(0) == 100L)
  }

  test("an upsert of a large local batch probes it in a job, not on the driver") {
    import spark.implicits._
    val (t, (lo, _)) = fourFiles("shape-upsert-large", "shul_v")
    // rows x files past the driver probe's cap
    val n = SnapshotLog.DriverProbeCells / 4 + 1
    val batch = ((lo + 5, 100L) +: (0L until n).map(i => (10000L + i, 1L))).toDF("k", "qty")
    val up = traced(SnapshotLog.upsert(batch, t, "k"))
    assert(up.writes.size == 1, up)
    assert(up.jobsOutsideWrites >= 1, s"upsert ran ${up.jobsOutsideWrites} jobs outside its write")
    val after = SnapshotLog.read(spark, t)
    assert(after.count() == 4000L + n)
    assert(after.where(col("k") === lo + 5).select("qty").head.getLong(0) == 100L)
  }

  test("an UPDATE across three tiny files writes one file") {
    import spark.implicits._
    val t = dir("shape-three-files")
    (0 until 3).foreach(i => SnapshotLog.commit(
      (0L until 5L).map(k => (10 * i + k, k)).toDF("k", "qty").coalesce(1), t, "append",
      Seq("k")))
    GraftSql.registerSnapshot(spark, "sh3_v", t, None, Seq("k"))
    assert(SnapshotLog.manifest(spark, t, 3L).files.size == 3)
    val upd = traced {
      GraftSql.dml(spark, "UPDATE sh3_v SET qty = qty + 1 WHERE k BETWEEN 0 AND 100")
    }
    oneWrite("UPDATE", upd)
    assert(upd.jobs == 1, s"UPDATE ran ${upd.jobs} jobs")
    assert(exchanges(upd.writes).isEmpty, upd.writes.head)
    assert(SnapshotLog.manifest(spark, t, 4L).files.size == 1)
    assert(spark.sql("SELECT sum(qty) FROM sh3_v").head.getLong(0) == 3L * (0 + 1 + 2 + 3 + 4 + 5))
  }

  test("every statement's write runs one job, and no job runs after it") {
    import spark.implicits._
    val (t, (lo, _)) = fourFiles("shape-one-job", "sh1_v")
    oneWrite("UPDATE", traced {
      GraftSql.dml(spark, s"UPDATE sh1_v SET qty = qty + 1 WHERE k BETWEEN ${lo + 1} AND ${lo + 3}")
    })
    oneWrite("DELETE", traced {
      GraftSql.dml(spark, s"DELETE FROM sh1_v WHERE k BETWEEN ${lo + 4} AND ${lo + 6}")
    })
    oneWrite("INSERT", traced { GraftSql.dml(spark, "INSERT INTO sh1_v VALUES (9001, 1)") })
    Seq((lo + 7, 70L)).toDF("k", "qty").createOrReplaceTempView("sh1_src")
    oneWrite("MERGE", traced {
      GraftSql.dml(spark,
        "MERGE INTO sh1_v USING sh1_src ON sh1_v.k = sh1_src.k WHEN MATCHED THEN UPDATE SET *")
    })
    val v = SnapshotLog.latestVersion(spark, t).get
    assert(v == 5L)
    // a commit that also sketches: blooms and NDV come from the same job
    val c = dir("shape-one-job-commit")
    val commit = traced {
      SnapshotLog.commit(spark.range(0, 300).select(col("id").as("k"),
        concat(lit("u"), col("id")).as("u")), c, "append", Seq("k"),
        bloomCols = Seq("u"), ndvCols = Seq("u"))
    }
    oneWrite("commit", commit)
    assert(commit.jobs == 1, s"commit ran ${commit.jobs} jobs")
    assert(SnapshotLog.manifest(spark, c, 1L).files.forall(f =>
      f.blooms.contains("u") && f.ndvs.contains("u") && f.stats.contains("k")))
    // a deletion-vector delete writes its mask; a MOR upsert its data and
    // its equality-delete keys, each in one job
    oneWrite("DV delete", traced { SnapshotLog.deleteWhereDV(spark, t, "k", lo + 10, lo + 12) })
    val mor = traced { SnapshotLog.upsertMOR(Seq((lo + 20, 5L)).toDF("k", "qty"), t, "k") }
    assert(mor.writes.size == 2 && mor.writeJobs == Seq(1, 1), mor)
    assert(mor.jobsAfterWrites == 0, mor)
    val want = (0L until 4000L).filterNot(k => k >= lo + 4 && k <= lo + 6)
      .filterNot(k => k >= lo + 10 && k <= lo + 12).size + 1
    val after = SnapshotLog.read(spark, t)
    assert(after.count() == want)
    assert(after.where(col("k") === lo + 20).select("qty").head.getLong(0) == 5L)
  }
}
