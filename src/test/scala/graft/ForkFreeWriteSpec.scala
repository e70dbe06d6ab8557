package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.{ForkFreeLocalFileSystem, LocalLinkLogStore, SnapshotLog}
import graft.sql.GraftSql

/** Snapshot-table writes to `file:` paths start no process, and land the
  * same files, names and POSIX modes as Hadoop's stock local FileSystem.
  */
class ForkFreeWriteSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private def dir(name: String): String = {
    val t = java.nio.file.Paths.get("target", name).toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    t
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** (name with UUIDs masked, mode) of every entry directly in `d`. */
  private def listing(d: JPath): Seq[(String, String)] = {
    val s = Files.list(d)
    try s.iterator().asScala.toSeq.map(p =>
      (Uuid.replaceAllIn(p.getFileName.toString, "U"), mode(p))).sorted
    finally s.close()
  }

  test("commit, UPDATE, DELETE, MERGE and INSERT on a local table start no chmod process") {
    import spark.implicits._
    val t = dir("fork-free-dml")
    val control = dir("fork-free-control")
    val (_, commands) = ProcessStarts.during {
      SnapshotLog.commit((0L until 400L).map(k => (k, k % 7)).toDF("k", "qty")
        .repartition(2), t, "append", Seq("k"))
      GraftSql.registerSnapshot(spark, "ffw_v", t, None, Seq("k"))
      GraftSql.dml(spark, "UPDATE ffw_v SET qty = qty + 1 WHERE k BETWEEN 10 AND 40")
      GraftSql.dml(spark, "DELETE FROM ffw_v WHERE k BETWEEN 50 AND 60")
      Seq((5L, 100L), (1000L, 1L)).toDF("k", "qty").createOrReplaceTempView("ffw_src")
      GraftSql.dml(spark,
        """MERGE INTO ffw_v USING ffw_src ON ffw_v.k = ffw_src.k
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      GraftSql.dml(spark, "INSERT INTO ffw_v VALUES (2000, 1), (2001, 2)")
      // the same kind of write through the stock FileSystem: proves the
      // recording sees the chmod processes it would start
      Seq((1L, 1L)).toDF("k", "qty").write.parquet(control)
    }
    assert(SnapshotLog.latestVersion(spark, t).contains(5L))
    assert(spark.table("ffw_v").count() == 400L - 11 + 3)
    val chmods = commands.filter(_.split("\\s+").headOption.exists(_.endsWith("chmod")))
    assert(chmods.forall(_.contains(control)),
      s"graft writes started chmod processes: ${chmods.filterNot(_.contains(control))}")
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(chmods.nonEmpty, s"the stock write started no chmod process: $commands")
  }

  test("a statement's files have the stock LocalFileSystem's names and modes") {
    import spark.implicits._
    val t = dir("fork-free-modes")
    SnapshotLog.commit((0L until 200L).map(k => (k, k % 7)).toDF("k", "qty")
      .coalesce(1), t, "append", Seq("k"))
    GraftSql.registerSnapshot(spark, "ffm_v", t, None, Seq("k"))
    val v = GraftSql.dml(spark, "UPDATE ffm_v SET qty = qty + 1 WHERE k BETWEEN 10 AND 40")
    val before = SnapshotLog.manifest(spark, t, v - 1).files.map(_.path).toSet
    val added = SnapshotLog.manifest(spark, t, v).files.filterNot(f => before(f.path))
    assert(added.size == 1)
    val dataDir = java.nio.file.Paths.get(t, added.head.path).getParent

    // the same frame and the same manifest bytes through the stock
    // FileSystem and the same log store
    val stock = dir("fork-free-modes-stock")
    spark.read.parquet(dataDir.toString).coalesce(1).write.parquet(stock)
    val conf = spark.sparkContext.hadoopConfiguration
    val stockFs = new Path(stock).getFileSystem(conf)
    assert(stockFs.isInstanceOf[LocalFileSystem] &&
      !stockFs.isInstanceOf[ForkFreeLocalFileSystem], stockFs.getClass)
    val manifest = java.nio.file.Paths.get(t, "_log", f"v$v%05d.json")
    val bytes = Files.readAllBytes(manifest)
    assert(new LocalLinkLogStore().publishExclusive(stockFs,
      new Path(stock, "_log/v.json"), bytes))

    val stockData = listing(java.nio.file.Paths.get(stock)).filterNot(_._1 == "_log")
    assert(stockData.map(_._1) == Seq("._SUCCESS.crc", ".part-00000-U-c000.snappy.parquet.crc",
      "_SUCCESS", "part-00000-U-c000.snappy.parquet"), stockData)
    // the statement's write has no commit step: exactly the part file and
    // its .crc, with the stock names and modes, and no _SUCCESS or
    // _temporary beside them
    assert(listing(dataDir) == stockData.filterNot(_._1.contains("_SUCCESS")))
    assert(mode(dataDir) == mode(java.nio.file.Paths.get(stock)))
    assert(mode(manifest) ==
      mode(java.nio.file.Paths.get(stock, "_log", "v.json")))
    // no temp manifest or sidecar is left beside either
    assert(listing(java.nio.file.Paths.get(stock, "_log")).map(_._1) == Seq("v.json"))
    val log = listing(java.nio.file.Paths.get(t, "_log")).map(_._1)
    assert(log.contains(f"v$v%05d.json") &&
      !log.exists(n => n.contains(".tmp-") || n.endsWith(".crc")), log)
  }

  test("the fork-free FileSystem applies the configured umask like the stock one") {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "027")
    val base = dir("fork-free-umask")
    def modes(fs: FileSystem, sub: String): Seq[(String, String)] = {
      fs.initialize(java.net.URI.create("file:///"), conf)
      val root = new Path(base, sub)
      assert(fs.mkdirs(new Path(root, "a/b")))
      val out = fs.create(new Path(root, "a/b/f.bin"), false)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      val g = new Path(root, "g.bin")
      fs.create(g, false).close()
      fs.setPermission(g, new FsPermission(Integer.parseInt("604", 8).toShort))
      Seq("a", "a/b", "a/b/f.bin", "a/b/.f.bin.crc", "g.bin").map(r =>
        r -> mode(java.nio.file.Paths.get(base, sub, r)))
    }
    val stock = modes(new LocalFileSystem, "stock")
    assert(stock.toMap.apply("a") == "rwxr-x---" &&
      stock.toMap.apply("a/b/f.bin") == "rw-r-----" &&
      stock.toMap.apply("g.bin") == "rw----r--", stock)
    assert(modes(new ForkFreeLocalFileSystem, "fork-free") == stock)
  }
}
