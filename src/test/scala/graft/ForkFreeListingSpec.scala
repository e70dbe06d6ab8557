package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ShardExpand, ShardListing}

/** Shard listing of a local directory starts no process, and lists the
  * same shards as the `listFiles` walk it replaced.
  */
class ForkFreeListingSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  /** The replaced listing: `listFiles(path, recursive = true)`, files
    * only, sorted, then the shard filter. */
  private def listFilesWalk(dir: String): Seq[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) { val st = it.next(); if (st.isFile) buf += st.getPath.toString }
    buf.toSeq.sorted.filter(ShardExpand.tarFilter)
  }

  test("listShards over a nested shard directory starts no process and lists what listFiles did") {
    val root = java.nio.file.Paths.get("target", "fork-free-listing").toAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    // written through the checksummed FileSystem, so each file has a
    // hidden .crc sibling that neither listing may return
    val fs = new Path(root.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("shard-000002.tar", "shard-000000.tar", "notes.txt", "shard-000001.tar.idx",
        "a/shard-000010.tar", "a/b/shard-000020.tar", "a/b/c/readme.md", "z/shard-000003.tar",
        "empty/.keep")
      .foreach { rel =>
        val out = fs.create(new Path(root.toString, rel), false)
        try out.write(rel.getBytes("UTF-8")) finally out.close()
      }
    assert(Files.exists(root.resolve("a/b/.shard-000020.tar.crc")))

    val (listed, commands) =
      ProcessStarts.during(ShardListing.listShards(spark, Seq(root.toString)))
    assert(commands.filter(_.contains(root.toString)).isEmpty,
      s"listing started processes: $commands")
    val want = Seq("a/b/shard-000020.tar", "a/shard-000010.tar", "shard-000000.tar",
      "shard-000002.tar", "z/shard-000003.tar").map(r => "file:" + root.resolve(r))
    assert(listed == want)

    // the walk it replaced lists the same shards; the recording sees the
    // processes it starts when Hadoop's native code is absent
    val (old, oldCommands) = ProcessStarts.during(listFilesWalk(root.toString))
    assert(listed == old)
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(oldCommands.exists(_.contains(root.toString)),
        s"the listFiles walk started no process: $oldCommands")
  }
}
