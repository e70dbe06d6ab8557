package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.{ManifestFileIndex, SnapshotLog}

/** A snapshot scan is planned from the manifest: building it runs no
  * Spark job and starts no thread, even above the file count at which
  * Spark lists paths with a job
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32), and
  * its relation serves the manifest's files.
  */
class ManifestScanSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private val Files = 40

  /** A table of `Files` single-partition files; stats on `id` only. */
  private lazy val table: String = {
    val t = java.nio.file.Paths.get("target", "manifest-scan").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    SnapshotLog.commit(spark.range(0, Files * 25L, 1, Files)
      .select(col("id"), (col("id") % 7).as("k")), t, "append", Seq("id"))
    assert(SnapshotLog.manifest(spark, t, 1L).files.size == Files)
    t
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { val out = body; org.apache.spark.ListenerBusDrain(sc); (out, n.get) }
    finally sc.removeSparkListener(l)
  }

  private def relations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }

  test("building a snapshot read runs no Spark job and starts no thread") {
    SnapshotLog.read(spark, table) // classes loaded, manifest cached
    val ((df, threads), n) = jobs(ThreadStarts.during(SnapshotLog.read(spark, table)))
    assert(threads.isEmpty, s"threads started while planning: $threads")
    assert(n == 0, s"$n Spark jobs while planning a $Files-file scan")
    assert(df.count() == Files * 25L)
  }

  test("the scan's relation is the manifest index, and serves the manifest's files") {
    val df = SnapshotLog.read(spark, table)
    val rels = relations(df)
    assert(rels.size == 1 && rels.head.location.isInstanceOf[ManifestFileIndex],
      rels.map(_.location.getClass.getName))
    val plan = df.queryExecution.executedPlan.toString +
      df.queryExecution.optimizedPlan.toString
    assert(!plan.contains(classOf[InMemoryFileIndex].getSimpleName), plan)
    val m = SnapshotLog.manifest(spark, table, 1L)
    val want = m.files.map(f => new Path(s"file:$table", f.path).toUri.toString)
    assert(df.inputFiles.toSeq.sorted == want.sorted)
    // two reads of one version are one relation to the cache and to exchange reuse
    assert(relations(SnapshotLog.read(spark, table)) == rels)
    assert(df.queryExecution.analyzed.sameResult(SnapshotLog.read(spark, table)
      .queryExecution.analyzed))
  }

  test("a point read over every file runs exactly one Spark job") {
    // `k` has no stats or bloom, so the point read opens every file
    val ((rows, opened), n) = jobs {
      val (df, opened, _, _) = SnapshotLog.readPoint(spark, table, "k", 3L)
      (df.collect(), opened)
    }
    assert(opened == Files)
    assert(rows.length == (0L until Files * 25L).count(_ % 7 == 3))
    assert(n == 1, s"$n Spark jobs for one point read")
  }
}
