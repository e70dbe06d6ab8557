package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side shard listing (SURVEY.md §2.1 S1/S4/S7 and the
  * metadata-existence semi-filter J4).
  *
  * The reference lists shard files with fsspec per directory and applies
  * an optional sampler predicate (reference sdata/datapipeline.py:277-303);
  * metadata branches derive sibling `_suffix` directories and semi-filter
  * the main list to shards whose metadata exists
  * (reference sdata/datapipeline.py:386-404).
  *
  * Shard lists are small relative to data (1 path per multi-hundred-MB
  * tar: ~100k entries per 100 TB), so listing is driver-resident by
  * design — exactly like Spark's own file-index — and the semi-filter is
  * a driver-side set intersection rather than a distributed join.
  */
object ShardListing {

  /** Recursively list `.tar` files under each url; brace patterns expand
    * without touching the filesystem (reference datapipeline.py:357-366:
    * braceexpand urls are trusted, not listed). `sampler` is the
    * config-instantiable shard predicate (reference tar_sampler,
    * datapipeline.py:322, identity by default).
    */
  def listShards(spark: SparkSession, urls: Seq[String],
      sampler: String => Boolean = _ => true): Seq[String] = {
    val expanded = urls.flatMap { u =>
      if (ShardExpand.isBraceExpand(u)) ShardExpand.expand(u)
      else listDir(spark, u)
    }
    expanded.filter(ShardExpand.tarFilter).filter(sampler)
  }

  /** Every file under `url`, nested directories included, sorted. A
    * `listStatus` walk, not `listFiles`: the `LocatedFileStatus` that
    * `listFiles` builds reads each file's permission, which without
    * libhadoop runs `ls -ld` as a child process per shard.
    */
  private def listDir(spark: SparkSession, url: String): Seq[String] = {
    val path = new Path(url)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(path).isFile) Seq(url)
    else {
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.isFile) buf += st.getPath.toString
      }
      walk(path)
      buf.toSeq.sorted
    }
  }

  /** Metadata directory for a main shard directory and suffix:
    * `/data/imgs` + `meta` → `/data/imgs_meta`
    * (reference datapipeline.py:386-391).
    */
  def metaDir(mainDir: String, suffix: String): String = {
    val trimmed = mainDir.stripSuffix("/")
    s"${trimmed}_$suffix"
  }

  /** Metadata shard path for a main shard path:
    * `/d/shard-000.tar` + `meta` → `/d_meta/shard-000_meta.tar`.
    */
  def metaShardPath(mainShard: String, suffix: String): String = {
    val slash = mainShard.lastIndexOf('/')
    val (dir, base) = (mainShard.substring(0, slash), mainShard.substring(slash + 1))
    val dot = base.lastIndexOf('.')
    val (stem, ext) = (base.substring(0, dot), base.substring(dot))
    s"${metaDir(dir, suffix)}/${stem}_$suffix$ext"
  }

  /** Listing-based metadata shard resolution for the scan path (J1/J2):
    * for each main shard, find its metadata shard by LISTING the sibling
    * `dir_suffix` directory — the reference's discovery mode (reference
    * datapipeline.py:386-410: a main shard `0000.tar` keeps the SAME
    * basename in the suffixed metadata directory) — while also accepting
    * graft's sink layout `0000_suffix.tar`. Missing metadata directories
    * surface as filesystem errors and empty listings fail loudly here,
    * instead of scanning derived paths into a silently empty join.
    *
    * Paths are qualified through their filesystem before keying so
    * schemeless brace-expanded mains match `file:`-qualified listings.
    */
  def resolveMetaShards(spark: SparkSession, mainShards: Seq[String],
      suffix: String): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def qualify(p: String): String = {
      val hp = new Path(p)
      hp.getFileSystem(hconf).makeQualified(hp).toString
    }
    def parent(p: String): String = p.substring(0, p.lastIndexOf('/'))
    val qualified = mainShards.map(p => p -> qualify(p))
    val keyed: Map[String, String] = qualified.map(q => parent(q._2)).distinct
      .flatMap { dir =>
        val mdir = metaDir(dir, suffix)
        val listed = listShards(spark, Seq(mdir))
        require(listed.nonEmpty,
          s"metadata directory $mdir lists no .tar shards for suffix '$suffix'")
        listed.map(mp =>
          stripMetaDirSuffix(ShardExpand.refKey(qualify(mp), suffix), suffix) -> mp)
      }.toMap
    qualified.map { case (orig, q) =>
      keyed.getOrElse(ShardExpand.shardKey(q), sys.error(
        s"no metadata shard for $orig under ${metaDir(parent(q), suffix)} " +
          s"(suffix '$suffix'; accepted layouts: same basename or basename_$suffix)"))
    }
  }

  /** Left-semi filter of main shards by metadata existence (reference
    * `filter_with_meta_set` + set build, datapipeline.py:269-270,400-404):
    * keep main shards whose [[ShardExpand.shardKey]] appears in the
    * metadata listing's [[ShardExpand.refKey]] set.
    */
  def semiFilterByMeta(mainShards: Seq[String], metaShards: Seq[String],
      suffix: String): Seq[String] = {
    val metaKeys = metaShards.map(p => stripMetaDirSuffix(ShardExpand.refKey(p, suffix), suffix)).toSet
    mainShards.filter(p => metaKeys.contains(ShardExpand.shardKey(p)))
  }

  /** Normalizes a meta shard's key back into main-shard key space by
    * removing the `_suffix` from its parent directory name.
    */
  private def stripMetaDirSuffix(key: String, suffix: String): String = {
    val slash = key.lastIndexOf('/')
    if (slash <= 0) key
    else {
      val dir = key.substring(0, slash)
      val rest = key.substring(slash)
      (if (dir.endsWith(s"_$suffix")) dir.dropRight(suffix.length + 1) else dir) + rest
    }
  }
}
