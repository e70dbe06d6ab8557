package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.SnapshotLog
import graft.sql.GraftSql

/** Spark jobs, exchanges and output files of copy-on-write statements:
  * a rewrite that only scans files is written without a shuffle, and the
  * MERGE's rewrite without a second one after its join.
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

  /** What `body` ran: its Spark jobs and the executed plans of its
    * parquet writes.
    */
  private def traced(body: => Any): (Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val group = s"rewrite-shape-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        nodes(qe.executedPlan).collect { case w: DataWritingCommandExec => w }
          .foreach(writes.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    sc.setJobGroup(group, "rewrite shape")
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    import scala.jdk.CollectionConverters._
    (jobs.get, writes.asScala.toSeq)
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
    val (updJobs, updWrites) = traced {
      GraftSql.dml(spark, s"UPDATE shp_v SET qty = qty + 100 WHERE k BETWEEN ${lo + 10} AND ${lo + 30}")
    }
    assert(updWrites.size == 1, updWrites)
    assert(updJobs == 1, s"UPDATE ran $updJobs jobs")
    assert(exchanges(updWrites).isEmpty, updWrites.head)
    assert(added(t, 2L) == 1)
    val (delJobs, delWrites) = traced {
      GraftSql.dml(spark, s"DELETE FROM shp_v WHERE k BETWEEN ${lo + 20} AND ${lo + 25}")
    }
    assert(delWrites.size == 1, delWrites)
    assert(delJobs == 1, s"DELETE ran $delJobs jobs")
    assert(exchanges(delWrites).isEmpty, delWrites.head)
    assert(added(t, 3L) == 1)
    val got = spark.sql("SELECT count(*), sum(qty) FROM shp_v").head
    val kept = (0L until 4000L).filterNot(k => k >= lo + 20 && k <= lo + 25)
    val want = kept.map(k => k % 7 + (if (k >= lo + 10 && k <= lo + 30) 100 else 0)).sum
    assert(got.getLong(0) == kept.size.toLong && got.getLong(1) == want, got)
  }

  test("a star MERGE with a local source runs at most four jobs") {
    import spark.implicits._
    val (t, (lo, _)) = fourFiles("shape-merge", "shm_v")
    Seq((lo + 5, 100L), (lo + 6, 101L), (9000L, 1L)).toDF("k", "qty")
      .createOrReplaceTempView("shm_src")
    val (jobs, writes) = traced {
      GraftSql.dml(spark,
        """MERGE INTO shm_v USING shm_src ON shm_v.k = shm_src.k
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(jobs <= 4, s"star MERGE ran $jobs jobs")
    assert(writes.size == 1, writes)
    // the join's two exchanges, and no REBALANCE above it
    val shuffles = exchanges(writes)
    assert(shuffles.size <= 2 && !shuffles.exists {
      case e: ShuffleExchangeExec => e.shuffleOrigin.toString.startsWith("REBALANCE")
      case _ => false
    }, writes.head)
    assert(added(t, 2L) == 1)
    val got = spark.sql("SELECT count(*), sum(qty) FROM shm_v").head
    val want = (0L until 4000L).map(k => k % 7).sum - (lo + 5) % 7 - (lo + 6) % 7 + 100 + 101 + 1
    assert(got.getLong(0) == 4001L && got.getLong(1) == want, got)
  }

  test("an UPDATE across three tiny files writes one file") {
    import spark.implicits._
    val t = dir("shape-three-files")
    (0 until 3).foreach(i => SnapshotLog.commit(
      (0L until 5L).map(k => (10 * i + k, k)).toDF("k", "qty").coalesce(1), t, "append",
      Seq("k")))
    GraftSql.registerSnapshot(spark, "sh3_v", t, None, Seq("k"))
    assert(SnapshotLog.manifest(spark, t, 3L).files.size == 3)
    val (jobs, writes) = traced {
      GraftSql.dml(spark, "UPDATE sh3_v SET qty = qty + 1 WHERE k BETWEEN 0 AND 100")
    }
    assert(jobs == 1, s"UPDATE ran $jobs jobs")
    assert(exchanges(writes).isEmpty, writes.head)
    assert(SnapshotLog.manifest(spark, t, 4L).files.size == 1)
    assert(spark.sql("SELECT sum(qty) FROM sh3_v").head.getLong(0) == 3L * (0 + 1 + 2 + 3 + 4 + 5))
  }
}
