package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ImageCodec, ImageDecode}
import graft.pipeline.{GraftPipeline, PipelineConfig}

/** The decode kernel against the per-pixel `ImageIO.read` + `getRGB`
  * decode it replaced, bit for bit, for every spec over every image
  * type the JDK codecs produce; the grayscale fix; and the plan shape
  * of the native decode expression.
  */
class ImageDecodeParitySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = SparkTestSession.get

  private val layouts: Map[String, (Boolean, Boolean, Boolean)] = Map(
    "pil" -> ((false, false, false)), "rgb" -> ((false, true, false)),
    "rgb8" -> ((false, false, false)), "l" -> ((true, true, false)),
    "l8" -> ((true, false, false)), "torchrgb" -> ((false, true, true)),
    "torchl" -> ((true, true, true)))

  /** The replaced decode, kept as the reference: `ImageIO.read`, an
    * optional nearest-neighbour resize through `setRGB`, and a per-pixel
    * `getRGB` loop per spec.
    */
  private def reference(spec: String, bytes: Array[Byte],
      maxSide: Option[Int] = None): Option[(Int, Int, Int, Seq[Float])] = {
    val (gray, unit, chw) = layouts(spec)
    Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))).map { img0 =>
      val img = maxSide match {
        case Some(m) if math.max(img0.getWidth, img0.getHeight) > m =>
          val scale = m.toDouble / math.max(img0.getWidth, img0.getHeight)
          val (nw, nh) = (math.max(1, (img0.getWidth * scale).toInt),
            math.max(1, (img0.getHeight * scale).toInt))
          val out = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until nh; x <- 0 until nw)
            out.setRGB(x, y, img0.getRGB((x.toLong * img0.getWidth / nw).toInt,
              (y.toLong * img0.getHeight / nh).toInt))
          out
        case _ => img0
      }
      val w = img.getWidth; val h = img.getHeight
      val c = if (gray) 1 else 3
      val out = new Array[Float](c * h * w)
      val scale = if (unit) 255.0f else 1.0f
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        if (gray) out(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000 / scale
        else if (chw) {
          out(y * w + x) = r / scale
          out(h * w + y * w + x) = g / scale
          out(2 * h * w + y * w + x) = b / scale
        } else {
          out((y * w + x) * 3) = r / scale
          out((y * w + x) * 3 + 1) = g / scale
          out((y * w + x) * 3 + 2) = b / scale
        }
      }
      (w, h, c, out.toSeq)
    }
  }

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer for type ${img.getType}")
    bos.toByteArray
  }

  private def randomImage(w: Int, h: Int, tpe: Int, rng: Random): BufferedImage = {
    val img = new BufferedImage(w, h, tpe)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rng.nextInt())
    img
  }

  private val sizes = Seq((1, 1), (7, 3), (4, 9), (33, 17))

  /** (name, payload) over every format × size the parity covers. */
  private lazy val fixtures: Seq[(String, Array[Byte])] = {
    val rng = new Random(7)
    for {
      (w, h) <- sizes
      (name, bytes) <- Seq(
        "rgb.png" -> encode(randomImage(w, h, BufferedImage.TYPE_INT_RGB, rng), "png"),
        "rgba.png" -> encode(randomImage(w, h, BufferedImage.TYPE_INT_ARGB, rng), "png"),
        "palette.png" -> encode(randomImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, rng), "png"),
        "gray16.png" -> {
          val img = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
          for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, rng.nextInt(65536))
          encode(img, "png")
        },
        "rgb.jpg" -> encode(randomImage(w, h, BufferedImage.TYPE_INT_RGB, rng), "jpg"),
        "palette.gif" -> encode(randomImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, rng), "gif"),
        "rgb.bmp" -> encode(randomImage(w, h, BufferedImage.TYPE_INT_RGB, rng), "bmp"))
    } yield s"${w}x${h}.$name" -> bytes
  }

  private val garbage: Array[Byte] = Array.tabulate[Byte](64)(i => (i * 37).toByte)
  private lazy val truncatedPng = fixtures.find(_._1 == "33x17.rgb.png").get._2.take(40)

  test("fixtures reach the bulk raster paths and the getRGB fallback") {
    val types = fixtures.map(f => javax.imageio.ImageIO.read(new ByteArrayInputStream(f._2)).getType).toSet
    Seq(BufferedImage.TYPE_3BYTE_BGR, BufferedImage.TYPE_4BYTE_ABGR,
      BufferedImage.TYPE_BYTE_INDEXED, BufferedImage.TYPE_USHORT_GRAY)
      .foreach(t => assert(types.contains(t), s"no fixture decodes to image type $t ($types)"))
  }

  test("decodeAs matches the getRGB decode bit for bit, every spec and format") {
    for ((name, bytes) <- fixtures; spec <- layouts.keys) {
      val got = ImageCodec.decodeAs(spec, bytes).map(d => (d.width, d.height, d.channels, d.pixels))
      assert(got == reference(spec, bytes), s"$spec on $name")
    }
  }

  test("packed raster reads match getRGB on every buffered image type, translated and sampled") {
    val rng = new Random(11)
    for (tpe <- 1 to 13) {
      val full = randomImage(9, 7, tpe, rng)
      for (img <- Seq(full, full.getSubimage(2, 1, 5, 4));
           (xs, ys) <- Seq((0 until img.getWidth, 0 until img.getHeight), (Seq(4, 0, 2, 2), Seq(3, 1)))) {
        val got = ImageCodec.packedRgb(img, xs.toArray, ys.toArray).toSeq.map(_ & 0xffffff)
        val want = for (y <- ys; x <- xs) yield
          if (tpe == BufferedImage.TYPE_BYTE_GRAY) img.getRaster.getSample(x, y, 0) * 0x010101
          else img.getRGB(x, y) & 0xffffff
        assert(got == want, s"image type $tpe ${img.getWidth}x${img.getHeight} at $xs x $ys")
      }
    }
  }

  private def rows(df: DataFrame, col: String): Seq[Option[(Int, Int, Int, Seq[Float])]] =
    df.select(col).collect().toSeq.map(r => Option(r.getStruct(0)).map(d =>
      (d.getInt(0), d.getInt(1), d.getInt(2), d.getSeq[Float](3).toSeq)))

  test("the decode expression matches the getRGB decode, codegen and interpreted") {
    import spark.implicits._
    val payloads = fixtures.map(_._2)
    // an RDD-backed frame runs the projection in whole-stage codegen; a
    // local one is folded by the optimizer's interpreted projection
    val frames = Seq(
      "codegen" -> spark.sparkContext.parallelize(payloads, 3).toDF("payload"),
      "interpreted" -> payloads.toDF("payload"))
    for ((mode, df) <- frames; spec <- layouts.keys) {
      val got = rows(df.select(ImageCodec.decodeUdf(spec)($"payload").as("d")), "d")
      assert(got == payloads.map(reference(spec, _)), s"$spec ($mode)")
    }
  }

  test("null, garbage and a truncated PNG decode to null through decodeAs and the column") {
    import spark.implicits._
    val bad = Seq(null, garbage, truncatedPng)
    for (spec <- layouts.keys; b <- bad) assert(ImageCodec.decodeAs(spec, b).isEmpty, spec)
    assert(ImageCodec.decode(truncatedPng).isEmpty)
    val frames = Seq(spark.sparkContext.parallelize(bad, 2).toDF("payload"), bad.toDF("payload"))
    for (df <- frames; spec <- layouts.keys)
      assert(rows(df.select(ImageCodec.decodeUdf(spec)($"payload").as("d")), "d")
        .forall(_.isEmpty), spec)
  }

  test("decodeImages maxSide samples the same pixels as a nearest resize before decode") {
    import spark.implicits._
    val rng = new Random(3)
    val imgs = Seq((64, 32), (33, 17), (5, 40), (16, 16))
      .map { case (w, h) => encode(randomImage(w, h, BufferedImage.TYPE_INT_RGB, rng), "png") }
    // sources read through getRGB rather than the bulk raster path
    val fallback = fixtures.filter(f => f._1.startsWith("33x17.") && !f._1.startsWith("33x17.rgb"))
    assert(fallback.map(_._1.drop(6)).toSet == Set("palette.png", "gray16.png", "palette.gif"))
    val all = imgs ++ fallback.map(_._2)
    val df = spark.sparkContext.parallelize(all, 2).toDF("payload")
    val got = rows(ImageCodec.decodeImages(df, "payload", maxSide = Some(16)), "decoded")
    assert(got == all.map(reference("torchrgb", _, Some(16))))
    assert(got.map(_.get._1) == Seq(16, 16, 2, 16, 16, 16, 16) &&
      got.map(_.get._2) == Seq(8, 8, 16, 16, 8, 8, 8))
  }

  test("8-bit grayscale PNGs decode to their stored samples, as PIL does") {
    val samples = Seq(0, 1, 64, 128, 200, 255)
    val img = new BufferedImage(3, 2, BufferedImage.TYPE_BYTE_GRAY)
    samples.zipWithIndex.foreach { case (v, i) => img.getRaster.setSample(i % 3, i / 3, 0, v) }
    val png = encode(img, "png")
    assert(javax.imageio.ImageIO.read(new ByteArrayInputStream(png)).getType ==
      BufferedImage.TYPE_BYTE_GRAY)
    // getRGB maps stored 128 through Java's linear-gray→sRGB curve
    assert(reference("l8", png).get._4(3) == 188f)
    val l8 = ImageCodec.decodeAs("l8", png).get
    assert(l8.channels == 1 && l8.pixels == samples.map(_.toFloat))
    val pil = ImageCodec.decodeAs("pil", png).get
    assert(pil.channels == 3 && pil.pixels == samples.flatMap(v => Seq.fill(3)(v.toFloat)))
    val torchl = ImageCodec.decodeAs("torchl", png).get
    assert(torchl.pixels == samples.map(_ / 255.0f))
  }

  test("8-bit gray+alpha PNGs decode to their stored gray samples, alpha dropped, as PIL does") {
    import java.awt.image.{ComponentColorModel, DataBuffer}
    val rng = new Random(13)
    val cm = new ComponentColorModel(
      java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_GRAY),
      true, false, java.awt.Transparency.TRANSLUCENT, DataBuffer.TYPE_BYTE)
    for ((w, h) <- sizes) {
      val img = new BufferedImage(cm, cm.createCompatibleWritableRaster(w, h), false, null)
      for (y <- 0 until h; x <- 0 until w) {
        img.getRaster.setSample(x, y, 0, rng.nextInt(256))
        img.getRaster.setSample(x, y, 1, rng.nextInt(256))
      }
      val png = encode(img, "png")
      val read = javax.imageio.ImageIO.read(new ByteArrayInputStream(png))
      assert(read.getType == BufferedImage.TYPE_CUSTOM && read.getRaster.getNumBands == 2)
      def gray(im: BufferedImage) =
        for (y <- 0 until h; x <- 0 until w) yield im.getRaster.getSample(x, y, 0).toFloat
      val stored = gray(read)
      assert(stored == gray(img))
      val l8 = ImageCodec.decodeAs("l8", png).get
      assert(l8.channels == 1 && l8.pixels == stored, s"l8 ${w}x$h")
      val pil = ImageCodec.decodeAs("pil", png).get
      assert(pil.channels == 3 && pil.pixels == stored.flatMap(v => Seq(v, v, v)), s"pil ${w}x$h")
      assert(ImageCodec.decodeAs("torchl", png).get.pixels == stored.map(_ / 255.0f),
        s"torchl ${w}x$h")
      // getRGB maps the stored samples through Java's linear-gray→sRGB curve
      if (stored.exists(v => v > 0 && v < 255)) assert(reference("l8", png).get._4 != stored)
    }
  }

  test("8-bit grayscale JPEGs decode to their stored samples too") {
    val rng = new Random(5)
    val img = new BufferedImage(9, 5, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 5; x <- 0 until 9) img.getRaster.setSample(x, y, 0, rng.nextInt(256))
    val jpg = encode(img, "jpg")
    val read = javax.imageio.ImageIO.read(new ByteArrayInputStream(jpg))
    assert(read.getType == BufferedImage.TYPE_BYTE_GRAY)
    // lossy: compare with the samples the reader itself stores
    val stored = for (y <- 0 until 5; x <- 0 until 9) yield read.getRaster.getSample(x, y, 0).toFloat
    assert(ImageCodec.decodeAs("l8", jpg).get.pixels == stored)
    assert(ImageCodec.decodeAs("pil", jpg).get.pixels == stored.flatMap(v => Seq(v, v, v)))
    assert(reference("l8", jpg).get._4 != stored)
  }

  private def decodeNodes(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) { case p if p.expressions.exists(_.exists(_.isInstanceOf[ImageDecode])) => p }

  /** Nodes compiled into a whole-stage codegen stage (not behind its input adapters). */
  private def codegenNodes(plan: SparkPlan): Seq[SparkPlan] = {
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    collect(plan) { case w: WholeStageCodegenExec => inStage(w.child) }.flatten
  }

  test("pipeline image decode plans one native expression inside whole-stage codegen") {
    val dir = Paths.get("target", "image-decode-plan").toAbsolutePath
    Files.createDirectories(dir)
    val tar = new TarArchiveOutputStream(new FileOutputStream(dir.resolve("shard-00.tar").toFile))
    for (i <- 0 until 4; (ext, bytes) <- Seq(
        "png" -> fixtures.find(_._1 == "7x3.rgb.png").get._2, "cls" -> s"$i".getBytes("UTF-8"))) {
      val e = new TarArchiveEntry(s"k$i.$ext")
      e.setSize(bytes.length.toLong)
      tar.putArchiveEntry(e); tar.write(bytes); tar.closeArchiveEntry()
    }
    tar.close()
    val useCache = javax.imageio.ImageIO.getUseCache
    val df = GraftPipeline.create(spark,
      PipelineConfig(urls = Seq(dir.toString), extensions = Seq("png", "cls")))
    val out = df.collect()
    assert(out.length == 4 && out.forall(_.getAs[Row]("png").getInt(0) == 7))
    val plan = df.queryExecution.executedPlan
    assert(decodeNodes(plan).nonEmpty && decodeNodes(plan).forall(codegenNodes(plan).contains),
      plan.treeString)
    assert(collect(plan) { case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u }) }.flatten
      .isEmpty, plan.treeString)

    import spark.implicits._
    val images = ImageCodec.decodeImages(
      spark.sparkContext.parallelize(fixtures.map(_._2), 2).toDF("payload"), "payload")
    assert(images.count() == fixtures.size)
    val imagesPlan = images.queryExecution.executedPlan
    val names = collect(imagesPlan) { case p => p.nodeName }
    assert(!names.exists(n => n.contains("MapPartitions") || n.contains("DeserializeToObject")),
      imagesPlan.treeString)
    assert(decodeNodes(imagesPlan).forall(codegenNodes(imagesPlan).contains), imagesPlan.treeString)
    assert(javax.imageio.ImageIO.getUseCache == useCache)
  }
}
