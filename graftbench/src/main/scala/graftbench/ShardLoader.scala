package graftbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.util.Locale

import scala.util.Random

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.operators.{LambdaFilter, SimpleKeyFilter}
import graft.pipeline.{FilterStage, GraftPipeline, PipelineConfig}
import graft.sources.ShardListing

/** `shard_loader`: a trainer draining `GraftPipeline.loader` epoch after
  * epoch over seeded webdataset shards. Every sample has `txt`, `json`
  * and `cls` members; about one in ten lacks its `png`, which the key
  * filter drops, and `cls = 0` samples fall to the postprocess filter.
  * One client call is the wait for [[BatchesPerCall]] batches in `next()`,
  * the first call of an epoch timed from the `GraftPipeline.create` call.
  */
final class ShardLoader(spark: SparkSession, seed: Long) extends Workload {
  private val Shards = 32
  private val PerShard = 250
  private val BatchSize = 64
  /** 4 batches of 64 are more samples than a shard delivers (about 200),
    * and the loader runs one Spark job per shard's partition, so every
    * call waits for at least one of those jobs, not only for rows
    * already fetched.
    */
  private val BatchesPerCall = 4
  private val Side = 32
  private val Extensions = Seq("png", "txt", "json", "cls")

  private var dir: File = _
  private var expectCount = 0L
  private var expectDigest = 0L
  private val totalSamples = Shards * PerShard

  private def config = PipelineConfig(
    urls = Seq(dir.getAbsolutePath),
    extensions = Extensions,
    preprocessors = Seq(FilterStage(SimpleKeyFilter(Seq("png")))),
    postprocessors = Seq(FilterStage(LambdaFilter(Seq("cls"), c => c =!= lit(0L)))))

  private def digest(key: String, cls: Long, w: Int, h: Int): Long =
    scala.util.hashing.MurmurHash3.stringHash(s"$key|$cls|$w|$h").toLong

  private def png(rng: Random): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(Side, Side, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until Side; x <- 0 until Side) img.setRGB(x, y, rng.nextInt(1 << 24))
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  def prepare(d: File): Unit = {
    dir = d
    d.mkdirs()
    val rng = new Random(seed)
    val pool = Vector.fill(48)(png(rng))
    val words = Vector("sea", "boat", "cat", "tree", "red", "sky", "city", "road", "dog", "sun")
    expectCount = 0L
    expectDigest = 0L
    for (s <- 0 until Shards) {
      val tar = new TarArchiveOutputStream(
        new FileOutputStream(new File(d, String.format(Locale.ROOT, "shard-%04d.tar", Int.box(s)))))
      def put(name: String, bytes: Array[Byte]): Unit = {
        val e = new TarArchiveEntry(name)
        e.setSize(bytes.length.toLong)
        tar.putArchiveEntry(e); tar.write(bytes); tar.closeArchiveEntry()
      }
      for (i <- 0 until PerShard) {
        val key = String.format(Locale.ROOT, "s%04d_%04d", Int.box(s), Int.box(i))
        val hasPng = rng.nextInt(10) != 0
        val cls = rng.nextInt(10).toLong
        if (hasPng) put(s"$key.png", pool(rng.nextInt(pool.size)))
        put(s"$key.txt", Seq.fill(8)(words(rng.nextInt(words.size))).mkString(" ").getBytes("UTF-8"))
        put(s"$key.json", s"""{"id":"$key","w":$Side,"h":$Side}""".getBytes("UTF-8"))
        put(s"$key.cls", cls.toString.getBytes("UTF-8"))
        if (hasPng && cls != 0L) {
          expectCount += 1
          expectDigest += digest(key, cls, Side, Side)
        }
      }
      tar.close()
    }
  }

  def warm(rec: Recorder, tr: Tracer): Unit = (0 until 2).foreach(_ => step(rec, tr))

  def step(rec: Recorder, tr: Tracer): Unit = tr.span("bench.epoch") {
    if (tr.enabled) {
      val (_, ms) = Time.ms(tr.span("sources.list_shards") {
        ShardListing.listShards(spark, Seq(dir.getAbsolutePath))
      })
      rec.sample("sources.list_ms", ms)
    }
    val t0 = System.nanoTime()
    val (df, createMs) = Time.ms(tr.span("pipeline.create") { GraftPipeline.create(spark, config) })
    val it = tr.span("pipeline.loader_open") { GraftPipeline.loader(df, BatchSize) }
    val waits = scala.collection.mutable.ArrayBuffer[Double]()
    var n = 0L
    var sum = 0L
    var ts = t0
    while (it.hasNext) {
      val batch = tr.span("pipeline.loader_next") { it.next() }
      waits += (System.nanoTime() - ts) / 1e6
      batch.foreach { r =>
        val img = r.getAs[Row]("png")
        n += 1
        sum += digest(r.getAs[String]("__key__"), r.getAs[Long]("cls"), img.getInt(0), img.getInt(1))
      }
      ts = System.nanoTime()
    }
    val ok = n == expectCount && sum == expectDigest
    if (!ok) rec.fail(s"shard_loader epoch delivered $n samples (digest $sum), " +
      s"expected $expectCount (digest $expectDigest)")
    waits.grouped(BatchesPerCall).foreach(ms => rec.call("batches", ms.sum, ok))
    rec.sample("pipeline.create_ms", createMs)
    rec.sample("pipeline.first_batch_ms", waits.headOption.getOrElse(0.0))
    rec.sample("pipeline.loader_wait_ms", waits.sum)
    rec.sample("pipeline.samples_per_s", n / (waits.sum / 1000))
  }

  private def noopSeconds(df: => org.apache.spark.sql.DataFrame): Double =
    Time.median((0 until 2).map(_ => Time.ms(df.write.format("noop").mode("overwrite").save())._2)) / 1000

  def probe(rec: Recorder, tr: Tracer): Unit = {
    tr.drain()
    tr.all.filter(_.name == "bench.epoch").foreach { s =>
      val c = tr.inclusive(s)
      rec.sample("pipeline.jobs_per_epoch", c.jobs.toDouble)
      rec.sample("wdstar.bytes_per_sample", c.inputBytes.toDouble / expectCount)
    }
    val shards = ShardListing.listShards(spark, Seq(dir.getAbsolutePath))
    def raw = spark.read.format("wds-tar")
      .option("shards", shards.mkString(","))
      .option("extensions", Extensions.mkString(","))
      .load()
    val scanned = raw.count()
    val bulkS = tr.span("pipeline.bulk_noop") { noopSeconds(GraftPipeline.create(spark, config)) }
    val scanS = tr.span("wdstar.scan_noop") { noopSeconds(raw) }
    rec.sample("pipeline.bulk_samples_per_s", expectCount / bulkS)
    rec.sample("wdstar.scan_samples_per_s", scanned / scanS)
    rec.sample("functions.decode_ms_per_ksample", (bulkS - scanS) * 1000 / (scanned / 1000.0))
    rec.sample("operators.keep_ratio", expectCount.toDouble / scanned)
    if (scanned != totalSamples) rec.fail(s"raw wds-tar scan saw $scanned samples, wrote $totalSamples")
  }

  def finish(rec: Recorder): Unit = ()
}
