package graft

import java.io.{ByteArrayOutputStream, FileOutputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.{ForkFreeLocalFileSystem, ParquetWrite, SnapshotLog,
  SnapshotPartitionReader, SnapshotReaderFactory}
import graft.sources.wdstar.{WdsTarReaderFactory, WdsTarStreamingWriterFactory,
  WdsTarWriteBuilder, WdsTarWriterFactory}

/** The per-task reader and writer factories of graft's data sources hold
  * the Hadoop conf as a broadcast handle, not inline: a factory holding
  * the whole `Configuration` is re-serialized into every job's task
  * binary and re-parsed by every task.
  */
class ConfShippingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = SparkTestSession.get

  private def dir(name: String): String = {
    val t = Paths.get("target", name).toAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(t.toFile)
    Files.createDirectories(t)
    t.toString
  }

  /** The factory as Spark's Java serializer writes it into a task binary:
    * no Configuration class and no conf key (`fs.defaultFS` is in every
    * Hadoop conf's defaults), and small. */
  private def assertSlim(factory: AnyRef): Unit = {
    val bos = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    out.writeObject(factory)
    out.close()
    val text = new String(bos.toByteArray, ISO_8859_1)
    val name = factory.getClass.getSimpleName
    Seq("org.apache.hadoop.conf.Configuration", "fs.defaultFS")
      .foreach(c => assert(!text.contains(c), s"$name serializes $c"))
    assert(bos.size < 16 * 1024, s"$name serializes to ${bos.size} bytes")
  }

  private def writeShard(d: String, name: String, n: Int): Unit = {
    val tar = new TarArchiveOutputStream(new FileOutputStream(Paths.get(d, name).toFile))
    try for (i <- 0 until n; (ext, v) <- Seq("txt" -> s"t$i", "cls" -> s"$i")) {
      val bytes = v.getBytes("UTF-8")
      val e = new TarArchiveEntry(f"${name.stripSuffix(".tar")}-k$i%03d.$ext")
      e.setSize(bytes.length.toLong)
      tar.putArchiveEntry(e); tar.write(bytes); tar.closeArchiveEntry()
    } finally tar.close()
  }

  private def lastPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  test("a planned wds-tar batch scan's reader factory carries no Configuration") {
    val d = dir("conf-shipping-scan")
    Seq("a.tar", "b.tar").foreach(writeShard(d, _, 5))
    val df = spark.read.format("wds-tar").option("path", d)
      .option("extensions", "txt,cls").load()
    assert(df.count() == 10) // the tasks read their conf through the broadcast
    val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    assert(scans.size == 1)
    val factory = scans.head.readerFactory
    assert(factory.isInstanceOf[WdsTarReaderFactory])
    assertSlim(factory)
  }

  test("a wds-tar micro-batch scan's reader factory carries no Configuration") {
    val d = dir("conf-shipping-stream")
    writeShard(d, "a.tar", 4)
    val q = spark.readStream.format("wds-tar").option("path", d)
      .option("extensions", "txt,cls").load()
      .writeStream.format("memory").queryName("conf_shipping_wds").start()
    try {
      q.processAllAvailable()
      assert(spark.table("conf_shipping_wds").count() == 4)
      val scans = collect(lastPlan(q)) { case s: MicroBatchScanExec => s }
      assert(scans.nonEmpty)
      scans.foreach(s => assertSlim(s.readerFactory))
    } finally q.stop()
  }

  test("a snapshot stream's reader factory carries no Configuration") {
    import spark.implicits._
    val t = dir("conf-shipping-snapshot")
    SnapshotLog.commit((0L until 50L).map(k => (k, k % 3)).toDF("id", "k"), t, "append", Seq("id"))
    val q = spark.readStream.format("graft-snapshot").option("table", t).load()
      .writeStream.format("memory").queryName("conf_shipping_snap").start()
    try {
      q.processAllAvailable()
      assert(spark.table("conf_shipping_snap").count() == 50)
      val factories = collect(lastPlan(q)) { case s: MicroBatchScanExec => s.readerFactory }
      assert(factories.nonEmpty && factories.forall(_.isInstanceOf[SnapshotReaderFactory]))
      factories.foreach(assertSlim)
    } finally q.stop()
  }

  test("the wds-tar batch and streaming writer factories carry no Configuration") {
    val d = dir("conf-shipping-write")
    val schema = StructType(Seq(StructField("__key__", StringType),
      StructField("txt", BinaryType)))
    val write = new WdsTarWriteBuilder(schema, Map("path" -> d).asJava).build()
    val batch = write.toBatch.createBatchWriterFactory(null)
    assert(batch.isInstanceOf[WdsTarWriterFactory])
    assertSlim(batch)
    val streaming = write.toStreaming.createStreamingWriterFactory(null)
    assert(streaming.isInstanceOf[WdsTarStreamingWriterFactory])
    assertSlim(streaming)

    // a write through the factories' broadcast lands its shards
    import spark.implicits._
    Seq(("k0", "a".getBytes("UTF-8")), ("k1", "b".getBytes("UTF-8"))).toDF("__key__", "txt")
      .repartition(2).write.format("wds-tar").mode("append").option("path", d).save()
    assert(spark.read.format("wds-tar").option("path", d).option("extensions", "txt")
      .load().count() == 2)
  }

  test("the snapshot write's per-task function carries no Configuration") {
    import spark.implicits._
    val t = dir("conf-shipping-snapshot-write")
    val fs = ForkFreeLocalFileSystem.of(new org.apache.hadoop.fs.Path(t),
      spark.sparkContext.hadoopConfiguration)
    val task = ParquetWrite.prepare(Seq((1L, "a"), (2L, "b")).toDF("k", "u"),
      new org.apache.hadoop.fs.Path(t), "data", fs, Seq("k", "u"), Seq("u"), 4096, Seq("u"),
      identity)
    try assertSlim(task) finally task.confBc.destroy()
    // a commit through it lands its rows, stats and sketches
    SnapshotLog.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "u").coalesce(1), t, "append",
      Seq("k", "u"), bloomCols = Seq("u"), ndvCols = Seq("u"))
    val f = SnapshotLog.manifest(spark, t, 1L).files.head
    assert(f.rows == 2L && f.stats == Map("k" -> (1L, 2L), "u" -> ("a", "b")) &&
      f.blooms.contains("u") && f.ndvs.contains("u"), f)
  }

  test("a snapshot stream reader opens its file with the conf it was given") {
    import spark.implicits._
    val t = dir("conf-shipping-reader")
    SnapshotLog.commit(Seq(1L, 2L).toDF("id").coalesce(1), t, "append", Nil)
    val file = Paths.get(t, SnapshotLog.manifest(spark, t, 1L).files.head.path).toString
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("graft.conf-shipping.only-here", "yes")
    val reader = new SnapshotPartitionReader(file, StructType(Seq(
      StructField("id", org.apache.spark.sql.types.LongType))), conf)
    try {
      assert(reader.readOptions.getProperty("graft.conf-shipping.only-here") == "yes")
      assert(reader.next() && reader.get().getLong(0) == 1L)
    } finally reader.close()
  }
}
