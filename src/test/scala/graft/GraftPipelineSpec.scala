package graft

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators._
import graft.pipeline._

/** End-to-end pipeline lifecycle (SURVEY.md §3): listing → metadata
  * existence filter → tar scan → sample-level meta join with collision
  * rename → preprocess filters → decode → postprocess → loader edge.
  */
class GraftPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private val base = {
    val d = Paths.get("target", "pipe-fixtures").toAbsolutePath
    Files.createDirectories(d.resolve("main"))
    Files.createDirectories(d.resolve("main_meta"))
    d
  }

  private def writeTar(rel: String, members: Seq[(String, String)]): String =
    writeTarBytes(rel, members.map { case (p, c) => p -> c.getBytes("UTF-8") })

  private def writeTarBytes(rel: String, members: Seq[(String, Array[Byte])]): String = {
    val f = base.resolve(rel).toFile
    val out = new TarArchiveOutputStream(new FileOutputStream(f))
    members.foreach { case (path, bytes) =>
      val e = new TarArchiveEntry(path)
      e.setSize(bytes.length.toLong)
      out.putArchiveEntry(e); out.write(bytes); out.closeArchiveEntry()
    }
    out.close()
    f.getAbsolutePath
  }

  // two main shards; only shard-00 has metadata → shard-01 must be
  // dropped by the existence semi-filter (J4)
  writeTar("main/shard-00.tar", Seq(
    "s1.txt" -> "hello world one two three",
    "s1.cls" -> "7",
    "s2.txt" -> "short",
    "s2.cls" -> "9"))
  writeTar("main/shard-01.tar", Seq(
    "s3.txt" -> "orphan without metadata",
    "s3.cls" -> "1"))
  writeTar("main_meta/shard-00_meta.tar", Seq(
    "s1_meta.txt" -> "meta-for-s1",
    "s2_meta.txt" -> "meta-for-s2"))

  test("full lifecycle: meta semi-filter, meta join, rename, decode, filter") {
    val config = PipelineConfig(
      urls = Seq(base.resolve("main").toString),
      extensions = Seq("txt", "cls"),
      metaSuffixes = Seq("meta"),
      preprocessors = Seq(FilterStage(SimpleKeyFilter(Seq("txt")))),
      postprocessors = Seq(
        FilterStage(LambdaFilter(Seq("cls"), c => c > 0)),
        MapperStage(LambdaMapper(Seq("txt"), c =>
          org.apache.spark.sql.functions.upper(c)))))
    val df = GraftPipeline.create(spark, config)
    val rows = df.collect().map(r => r.getAs[String]("__key__") -> r).toMap
    // s3's shard had no metadata → excluded by J4 before any IO
    assert(rows.keySet == Set("s1", "s2"))
    // decode: cls → long, txt → utf8 (then uppercased by postprocessor)
    assert(rows("s1").getAs[Long]("cls") == 7L)
    assert(rows("s1").getAs[String]("txt") == "HELLO WORLD ONE TWO THREE")
    // collision rename (P11): meta txt column arrives as txt_meta
    assert(rows("s1").getAs[String]("txt_meta") == "meta-for-s1")
    assert(rows("s2").getAs[String]("txt_meta") == "meta-for-s2")
  }

  test("reference-layout metadata shards (same basename, unsuffixed stems) join correctly") {
    // the reference keeps the SAME shard basename in the suffixed meta
    // dir (datapipeline.py:386-410: main '0000.tar' → meta dir's
    // '0000.tar') and does not suffix member stems; discovery must go
    // through listing, not derived `_suffix` paths.
    Files.createDirectories(base.resolve("refmain"))
    Files.createDirectories(base.resolve("refmain_meta"))
    writeTar("refmain/shard-00.tar", Seq(
      "r1.txt" -> "alpha beta", "r1.cls" -> "3",
      "r2.txt" -> "gamma", "r2.cls" -> "5"))
    writeTar("refmain_meta/shard-00.tar", Seq(
      "r1.txt" -> "meta-for-r1",
      "r2.txt" -> "meta-for-r2"))
    val config = PipelineConfig(
      urls = Seq(base.resolve("refmain").toString),
      extensions = Seq("txt", "cls"),
      metaSuffixes = Seq("meta"))
    val rows = GraftPipeline.create(spark, config)
      .collect().map(r => r.getAs[String]("__key__") -> r).toMap
    assert(rows.keySet == Set("r1", "r2"))
    assert(rows("r1").getAs[Long]("cls") == 3L)
    assert(rows("r1").getAs[String]("txt_meta") == "meta-for-r1")
    assert(rows("r2").getAs[String]("txt_meta") == "meta-for-r2")
  }

  test("graft-layout metadata still resolves through listing (both layouts accepted)") {
    // the original fixture uses graft's sink layout
    // (main_meta/shard-00_meta.tar, suffixed stems); the listing-based
    // resolver must keep loading it — exercised via brace urls so the
    // existence semi-filter can't mask a resolution failure.
    val config = PipelineConfig(
      urls = Seq(base.resolve("main").resolve("shard-{00..00}.tar").toString),
      extensions = Seq("txt", "cls"),
      metaSuffixes = Seq("meta"))
    val rows = GraftPipeline.create(spark, config)
      .collect().map(r => r.getAs[String]("__key__") -> r).toMap
    assert(rows.keySet == Set("s1", "s2"))
    assert(rows("s1").getAs[String]("txt_meta") == "meta-for-s1")
  }

  test("metaJoin=zip: in-reader aligned zip equals the shuffle join with zero shuffle") {
    def run(mode: String) = GraftPipeline.create(spark, PipelineConfig(
      urls = Seq(base.resolve("main").toString),
      extensions = Seq("txt", "cls"),
      metaSuffixes = Seq("meta"),
      metaJoin = mode))
    val zip = run("zip")
    def contents(df: org.apache.spark.sql.DataFrame) =
      df.select("__key__", "txt", "cls", "txt_meta").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
    assert(contents(zip) == contents(run("shuffle")))
    assert(contents(zip).map(_._1) == Seq("s1", "s2"))
    // the zip plan has no join and no exchange — the 100 TB point
    val plan = zip.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"zip plan must not join:\n$plan")
    assert(!plan.toLowerCase.contains("exchange"), s"zip plan must not shuffle:\n$plan")
  }

  test("metaJoin=zip handles the reference layout (same basename, unsuffixed stems)") {
    // idempotent re-write: don't depend on the shuffle-mode test having
    // created the reference-layout fixture first
    Files.createDirectories(base.resolve("refmain"))
    Files.createDirectories(base.resolve("refmain_meta"))
    writeTar("refmain/shard-00.tar", Seq(
      "r1.txt" -> "alpha beta", "r1.cls" -> "3",
      "r2.txt" -> "gamma", "r2.cls" -> "5"))
    writeTar("refmain_meta/shard-00.tar", Seq(
      "r1.txt" -> "meta-for-r1",
      "r2.txt" -> "meta-for-r2"))
    val config = PipelineConfig(
      urls = Seq(base.resolve("refmain").toString),
      extensions = Seq("txt", "cls"),
      metaSuffixes = Seq("meta"),
      metaJoin = "zip")
    val rows = GraftPipeline.create(spark, config)
      .collect().map(r => r.getAs[String]("__key__") -> r).toMap
    assert(rows.keySet == Set("r1", "r2"))
    assert(rows("r1").getAs[Long]("cls") == 3L)
    assert(rows("r1").getAs[String]("txt_meta") == "meta-for-r1")
    assert(rows("r2").getAs[String]("txt_meta") == "meta-for-r2")
  }

  test("metaJoin=zip handles TWO meta suffixes in one pass (one stream per suffix)") {
    Files.createDirectories(base.resolve("ztwo"))
    Files.createDirectories(base.resolve("ztwo_info"))
    Files.createDirectories(base.resolve("ztwo_score"))
    writeTar("ztwo/shard-00.tar", Seq("t1.txt" -> "body-1", "t2.txt" -> "body-2"))
    writeTar("ztwo_info/shard-00.tar", Seq("t1.txt" -> "i1", "t2.txt" -> "i2"))
    writeTar("ztwo_score/shard-00.tar", Seq("t1.txt" -> "90", "t2.txt" -> "80"))
    val df = GraftPipeline.create(spark, PipelineConfig(
      urls = Seq(base.resolve("ztwo").toString),
      extensions = Seq("txt"),
      metaSuffixes = Seq("info", "score"),
      metaJoin = "zip"))
    val rows = df.collect().map(r => r.getAs[String]("__key__") ->
      ((r.getAs[String]("txt_info"), r.getAs[String]("txt_score")))).toMap
    assert(rows == Map("t1" -> (("i1", "90")), "t2" -> (("i2", "80"))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.toLowerCase.contains("exchange"), plan)
  }

  test("pipeline_config.max_partition_bytes packs shards from the config") {
    Files.createDirectories(base.resolve("pk"))
    writeTar("pk/shard-00.tar", Seq("k1.txt" -> "aa"))
    writeTar("pk/shard-01.tar", Seq("k2.txt" -> "bb"))
    val df = GraftPipeline.create(spark, PipelineConfig(
      urls = Seq(base.resolve("pk").toString),
      extensions = Seq("txt"),
      maxPartitionBytes = Some(64L * 1024 * 1024)))
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 2)
    // and the YAML key drives the same knob
    val yaml =
      s"""dataset:
         |  urls:
         |    - "${base.resolve("pk")}"
         |  extensions:
         |    - "txt"
         |  pipeline_config:
         |    max_partition_bytes: ${64L * 1024 * 1024}
         |""".stripMargin
    assert(ConfigYaml.parse(yaml).config.maxPartitionBytes.contains(64L * 1024 * 1024))
  }

  test("metaJoin=zip composes with shard packing: metas follow their shard") {
    // two main shards + aligned reference-layout metas, packed into ONE
    // partition: the chained reader must zip each shard with ITS meta
    Files.createDirectories(base.resolve("zpack"))
    Files.createDirectories(base.resolve("zpack_meta"))
    writeTar("zpack/shard-00.tar", Seq("p1.txt" -> "one", "p2.txt" -> "two"))
    writeTar("zpack/shard-01.tar", Seq("p3.txt" -> "three"))
    writeTar("zpack_meta/shard-00.tar", Seq("p1.txt" -> "m1", "p2.txt" -> "m2"))
    writeTar("zpack_meta/shard-01.tar", Seq("p3.txt" -> "m3"))
    val metas = graft.sources.ShardListing.resolveMetaShards(spark,
      Seq(base.resolve("zpack/shard-00.tar").toString,
        base.resolve("zpack/shard-01.tar").toString), "meta")
    val df = spark.read.format("wds-tar")
      .option("shards", Seq("shard-00.tar", "shard-01.tar")
        .map(s => base.resolve("zpack").resolve(s).toString).mkString(","))
      .option("extensions", "txt")
      .option("metaShards", "meta:" + metas.mkString(","))
      .option("maxPartitionBytes", (64L * 1024 * 1024).toString)
      .load()
    assert(df.rdd.getNumPartitions == 1)
    val rows = df.collect()
      .map(r => r.getAs[String]("__key__") ->
        new String(r.getAs[Array[Byte]]("txt_meta"), "UTF-8")).toMap
    assert(rows == Map("p1" -> "m1", "p2" -> "m2", "p3" -> "m3"))
  }

  test("metaJoin=zip: positional key mismatch fails loudly (skip drops the pair)") {
    Files.createDirectories(base.resolve("zmis"))
    Files.createDirectories(base.resolve("zmis_meta"))
    writeTar("zmis/shard-00.tar", Seq("a.txt" -> "x", "b.txt" -> "y"))
    writeTar("zmis_meta/shard-00.tar", Seq("a.txt" -> "m1", "c.txt" -> "m2"))
    val config = PipelineConfig(
      urls = Seq(base.resolve("zmis").toString),
      extensions = Seq("txt"),
      metaSuffixes = Seq("meta"),
      metaJoin = "zip")
    val e = intercept[Exception](GraftPipeline.create(spark, config).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("mismatch")), s"unexpected: $e")
    // skip policy: the aligned prefix survives, the mismatched tail drops
    val skipped = GraftPipeline.create(spark, config.copy(skipCorrupt = true))
      .collect().map(_.getAs[String]("__key__")).toSeq
    assert(skipped == Seq("a"))
  }

  test("empty metadata directory fails loudly, not silently-empty join") {
    Files.createDirectories(base.resolve("lonely"))
    Files.createDirectories(base.resolve("lonely_meta")) // exists but empty
    writeTar("lonely/shard-00.tar", Seq("x1.txt" -> "abc"))
    val config = PipelineConfig(
      urls = Seq(base.resolve("lonely").toString),
      extensions = Seq("txt"),
      metaSuffixes = Seq("meta"))
    val ex = intercept[IllegalArgumentException](GraftPipeline.create(spark, config))
    assert(ex.getMessage.contains("lonely"), s"unexpected: ${ex.getMessage}")
  }

  test("prefixProbs matches shard URLs by PREFIX, not exact equality") {
    // config keys are directory-style prefixes of the full shard path —
    // the reference's PrefixResampler semantics (key.startswith(prefix));
    // exact-equality matching would silently keep zero rows here.
    val config = PipelineConfig(
      urls = Seq(base.resolve("main").toString),
      extensions = Seq("txt", "cls"),
      prefixProbs = Map(base.resolve("main").resolve("shard-00").toString -> 1.0),
      mixtureTotal = 2L)
    val rows = GraftPipeline.create(spark, config)
      .select("__url__").collect().map(_.getString(0))
    assert(rows.nonEmpty, "prefix match must keep shard-00 samples")
    assert(rows.forall(_.contains("shard-00.tar")))
  }

  test("shard shuffle seed is deterministic and total") {
    val config = PipelineConfig(
      urls = Seq(base.resolve("main").toString),
      extensions = Seq("txt", "cls"),
      shardShuffleSeed = Some(11))
    val a = GraftPipeline.create(spark, config).select("__key__").collect().map(_.getString(0)).toSeq
    val b = GraftPipeline.create(spark, config).select("__key__").collect().map(_.getString(0)).toSeq
    assert(a == b)
    assert(a.toSet == Set("s1", "s2", "s3"))
  }

  test("repeat cycle tags epochs") {
    val config = PipelineConfig(
      urls = Seq(base.resolve("main").toString),
      extensions = Seq("txt"),
      repeat = 3)
    val df = GraftPipeline.create(spark, config)
    assert(df.count() == 9)
    assert(df.select("epoch").distinct().count() == 3)
  }

  test("loader batches with partial semantics") {
    val config = PipelineConfig(
      urls = Seq(base.resolve("main").toString),
      extensions = Seq("txt"))
    val df = GraftPipeline.create(spark, config).orderBy("__key__")
    val full = GraftPipeline.loader(df, batchSize = 2, partial = true).toSeq
    assert(full.map(_.size) == Seq(2, 1))
    val strict = GraftPipeline.loader(df, batchSize = 2, partial = false).toSeq
    assert(strict.map(_.size) == Seq(2))
  }

  // six shards, one partition each, with uneven sample counts: shard 2
  // holds no sample and the cls filter empties shard 4, so empty and
  // short partitions sit between fuller ones
  private val loaderDir = {
    val counts = Seq(5, 1, 0, 7, 3, 2)
    Files.createDirectories(base.resolve("loader"))
    counts.zipWithIndex.foreach { case (n, s) =>
      writeTar(f"loader/shard-$s%02d.tar", (0 until n).flatMap { i =>
        Seq(f"l$s%02d_$i%02d.txt" -> s"shard $s sample $i",
          f"l$s%02d_$i%02d.cls" -> (if (s == 4) "0" else s"${i + 1}"))
      })
    }
    base.resolve("loader").toString
  }

  private def loaderFrame() = GraftPipeline.create(spark, PipelineConfig(
    urls = Seq(loaderDir),
    extensions = Seq("txt", "cls"),
    postprocessors = Seq(FilterStage(LambdaFilter(Seq("cls"), c => c > 0)))))

  private def assertLoaderMatchesCollect(df: org.apache.spark.sql.DataFrame): Unit = {
    val expected = df.collect().toSeq
    for (batchSize <- Seq(1, 3, 8); partial <- Seq(true, false)) {
      val batches = GraftPipeline.loader(df, batchSize, partial).toSeq
      val n = if (partial) expected.size else expected.size / batchSize * batchSize
      val clue = s"batchSize=$batchSize partial=$partial"
      assert(batches.flatten == expected.take(n), clue)
      assert(batches.dropRight(1).forall(_.size == batchSize), clue)
      assert(batches.lastOption.forall(b => b.nonEmpty && (partial || b.size == batchSize)), clue)
    }
  }

  test("loader yields df.collect() order across empty and short partitions") {
    val df = loaderFrame()
    assert(df.queryExecution.toRdd.getNumPartitions == 6)
    // 18 samples, shard 4's 3 filtered out; the largest partition (7)
    // is shorter than the batch of 8
    assert(df.collect().map(_.getAs[String]("__key__")).toSeq ==
      Seq("l00_00", "l00_01", "l00_02", "l00_03", "l00_04", "l01_00",
        "l03_00", "l03_01", "l03_02", "l03_03", "l03_04", "l03_05", "l03_06",
        "l05_00", "l05_01"))
    assertLoaderMatchesCollect(df)
  }

  test("loader on a single-partition frame and on empty frames") {
    assertLoaderMatchesCollect(loaderFrame().coalesce(1))
    val noRows = loaderFrame().where(org.apache.spark.sql.functions.lit(false))
    assert(GraftPipeline.loader(noRows, 3).isEmpty)
    assert(GraftPipeline.loader(spark.emptyDataFrame, 3).isEmpty)
  }

  test("loader runs one job per partition") {
    val sc = spark.sparkContext
    val tag = "graft-loader-jobs"
    sc.addJobTag(tag)
    try GraftPipeline.loader(loaderFrame(), 4).foreach(_ => ())
    finally sc.removeJobTag(tag)
    // the status store is fed by the listener bus, asynchronously
    eventually(timeout(10.seconds)) {
      assert(sc.statusTracker.getJobIdsForTag(tag).length == 6)
    }
  }

  test("a failing partition job surfaces the reader's error and cancels the prefetch") {
    val dir = base.resolve("loader_bad")
    Files.createDirectories(dir)
    (0 until 6).foreach { s =>
      if (s == 2) Files.write(dir.resolve("shard-02.tar"),
        ("this is not a tar at all, but long enough to look like one" * 20).getBytes("UTF-8"))
      else writeTar(f"loader_bad/shard-$s%02d.tar", (0 until 20).map(i =>
        f"b$s%02d_$i%02d.txt" -> s"shard $s sample $i"))
    }
    // shard 3 takes 20 s when left to run: once shard 2 fails, the
    // loader must cancel it (and the rest of its window) rather than
    // leave it running after the error reached the caller
    val slow = org.apache.spark.sql.functions.udf { (k: String) =>
      if (k.startsWith("b03")) Thread.sleep(1000)
      true
    }
    val df = GraftPipeline.create(spark, PipelineConfig(
      urls = Seq(dir.toString), extensions = Seq("txt")))
      .where(slow(org.apache.spark.sql.functions.col("__key__")))
    val sc = spark.sparkContext
    val tag = "graft-loader-failure"
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    sc.addJobTag(tag)
    val e = try intercept[Exception](
      GraftPipeline.loader(df, 1).foreach(b => seen ++= b.map(_.getAs[String]("__key__"))))
    finally sc.removeJobTag(tag)
    // every row before the broken partition arrives, in order, first
    assert(seen.toSeq == (0 until 2).flatMap(s => (0 until 20).map(i => f"b$s%02d_$i%02d")))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("failed reading") && m.contains("shard-02.tar")),
      e.toString)
    eventually(timeout(10.seconds)) {
      val running = sc.statusTracker.getActiveJobIds().intersect(sc.statusTracker.getJobIdsForTag(tag))
      assert(running.isEmpty, s"prefetch jobs ${running.toSeq} left running after the loader failed")
    }
  }

  test("JSON config drives the same pipeline as the Scala config") {
    val json =
      s"""{
         |  "urls": ["${base.resolve("main")}"],
         |  "extensions": ["txt", "cls"],
         |  "repeat": 2,
         |  "shardShuffleSeed": 5,
         |  "preprocessors": [{"filter": "simple_key_filter", "params": {"keys": "txt"}}]
         |}""".stripMargin
    val config = ConfigJson.parse(json)
    assert(config.repeat == 2 && config.shardShuffleSeed.contains(5))
    val df = GraftPipeline.create(spark, config)
    assert(df.count() == 6) // 3 samples × 2 epochs
    intercept[IllegalArgumentException](ConfigJson.parse("""{"urls": []}"""))
    intercept[RuntimeException](ConfigJson.parse(
      """{"urls":["x"],"extensions":["txt"],
        |"preprocessors":[{"filter":"nope"}]}""".stripMargin))
  }

  test("D3 image decode: a real PNG decodes + pixel-transforms through the config path") {
    // build a real 8x4 PNG: left half red, right half blue
    val img = new java.awt.image.BufferedImage(8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0xff0000 else 0x0000ff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    Files.createDirectories(base.resolve("imgs"))
    val f = base.resolve("imgs/shard-00.tar").toFile
    val out = new TarArchiveOutputStream(new FileOutputStream(f))
    val pngBytes = baos.toByteArray
    val e = new TarArchiveEntry("im1.png")
    e.setSize(pngBytes.length.toLong)
    out.putArchiveEntry(e); out.write(pngBytes); out.closeArchiveEntry()
    out.close()

    val config = ConfigJson.parse(
      s"""{
         |  "urls": ["${base.resolve("imgs")}"],
         |  "extensions": ["png"],
         |  "decoders": ["torchrgb"],
         |  "postprocessors": [
         |    {"mapper": "image_transforms",
         |     "params": {"key": "png", "resize": "2", "layout": "chw"}}
         |  ]
         |}""".stripMargin)
    val row = GraftPipeline.create(spark, config).collect().head
    val d = row.getAs[org.apache.spark.sql.Row]("png")
    // torchvision Resize(2): shorter side 4 -> 2, aspect preserved -> 4x2
    assert(d.getAs[Int]("width") == 4 && d.getAs[Int]("height") == 2)
    assert(d.getAs[Int]("channels") == 3)
    val px = d.getAs[scala.collection.Seq[Float]]("pixels")
    assert(px.length == 3 * 4 * 2)
    // CHW layout, [0,1] scale: red channel ~1 on the left half
    val r00 = px(0) // channel 0 (R), y=0, x=0
    val b03 = px(2 * 2 * 4 + 0 * 4 + 3) // channel 2 (B), y=0, x=3 (right half)
    assert(r00 > 0.9f, s"red channel left half, got $r00")
    assert(b03 > 0.9f, s"blue channel right half, got $b03")
  }

  test("image spec decode modes: pil is HWC 0-255, l8 is single-channel luma") {
    val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff); img.setRGB(1, 0, 0x000000)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val bytes = baos.toByteArray
    val pil = graft.functions.ImageCodec.decodeAs("pil", bytes).get
    assert(pil.channels == 3 && pil.pixels.take(3) == Seq(255f, 255f, 255f))
    val l8 = graft.functions.ImageCodec.decodeAs("l8", bytes).get
    assert(l8.channels == 1 && l8.pixels == Seq(255f, 0f))
    val torch = graft.functions.ImageCodec.decodeAs("torchrgb", bytes).get
    assert(torch.channels == 3 && torch.pixels.forall(v => v >= 0f && v <= 1f))
  }

  test("operator registry resolves config-named operators") {
    val f = OperatorRegistry.filter("simple_key_filter", Map("keys" -> "txt,cls"))
    assert(f.isInstanceOf[SimpleKeyFilter])
    val m = OperatorRegistry.mapper("rescaler", Map("key" -> "jpg", "isfloat" -> "false"))
    assert(m.isInstanceOf[Rescaler])
    intercept[RuntimeException](OperatorRegistry.filter("nope"))
  }

  test("npy members decode to typed tensors through the pipeline (D3 npy/npz)") {
    // members are numpy-written fixtures (NpyCodecSpec's ground truth),
    // so the pipeline path is validated against the reference writer
    def res(name: String): Array[Byte] =
      Files.readAllBytes(Paths.get(getClass.getResource(s"/npy/$name").toURI))
    Files.createDirectories(base.resolve("npy"))
    writeTarBytes("npy/shard-00.tar", Seq(
      "t1.npy" -> res("f4_2x3.npy"),
      "t1.cls" -> "3".getBytes("UTF-8"),
      "t2.npy" -> res("f8_5.npy"),
      "t2.cls" -> "4".getBytes("UTF-8")))
    val config = PipelineConfig(
      urls = Seq(base.resolve("npy").toString),
      extensions = Seq("npy", "cls"))
    val df = GraftPipeline.create(spark, config)
    val rows = df.collect().map(r => r.getAs[String]("__key__") -> r).toMap
    assert(rows.keySet == Set("t1", "t2"))
    val t1 = rows("t1").getAs[org.apache.spark.sql.Row]("npy")
    assert(t1.getAs[scala.collection.Seq[Int]]("shape").toSeq == Seq(2, 3))
    assert(t1.getAs[scala.collection.Seq[Float]]("data").toSeq ==
      Seq(0f, 1.5f, 3f, 4.5f, 6f, 7.5f))
    val t2 = rows("t2").getAs[org.apache.spark.sql.Row]("npy")
    assert(t2.getAs[scala.collection.Seq[Int]]("shape").toSeq == Seq(5))
    assert(t2.getAs[scala.collection.Seq[Float]]("data").toSeq ==
      Seq(0.5f, 1.25f, -2.0f, 3.75f, 100.0f))
    assert(rows("t1").getAs[Long]("cls") == 3L)
  }
}
