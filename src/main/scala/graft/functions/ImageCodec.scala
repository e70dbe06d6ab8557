package graft.functions

import java.awt.image.{BufferedImage, DataBufferByte, PixelInterleavedSampleModel}
import java.io.{ByteArrayInputStream, IOException}
import javax.imageio.ImageReader
import javax.imageio.spi.{IIORegistry, ImageReaderSpi}
import javax.imageio.stream.MemoryCacheImageInputStream

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Real in-JVM image decode for the multimodal path, built on
  * `javax.imageio` (ships with the JDK — PNG/JPEG/GIF/BMP). This is the
  * codec-backed implementation the [[Multimodal]] stub documents. Every
  * entry point runs one kernel, [[ImageCodec.decodePixels]]: a reused
  * per-thread `ImageReader` over an in-memory stream and bulk raster
  * reads. On a column the kernel is one native Catalyst expression,
  * [[ImageDecode]], so decoding stays inside whole-stage codegen.
  *
  * Decoded representation matches the reference's CHW float convention
  * (reference sdata/mappers/sample_mappers.py:160-165 asserts
  * channels-first): `struct(width, height, channels, pixels)` with
  * pixels normalized to [0,1] in channel-major order. Resampling honors
  * the torchvision interpolation codes the reference's configs carry
  * (nearest / bilinear / bicubic, see [[ImageCodec.Interp]]); kernels
  * are dependency-free and deterministic (SURVEY §7.3 risk 6 —
  * cross-library interpolation parity is approximate by nature, so
  * correctness-critical paths keep bytes + dims).
  */
object ImageCodec {

  val decodedSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pixels", ArrayType(FloatType), nullable = false)))

  /** Decoded image as a case class (encodes to [[decodedSchema]]).
    * Pixel layout and value scale depend on the decode spec (see
    * [[specs]]); the struct itself is layout-agnostic.
    */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
      pixels: Seq[Float])

  /** The webdataset autodecode image-spec vocabulary the reference
    * accepts as decoder strings (reference sdata/dataset.py:204-232
    * validates against `wds.autodecode.imagespecs`):
    * spec -> (grayscale, scale to [0,1], channel-major/CHW layout).
    *
    *  - "pil"/"rgb8": HWC, 8-bit values 0..255
    *  - "rgb":        HWC, floats in [0,1]
    *  - "l8"/"l":     single channel, 0..255 / [0,1]
    *  - "torchrgb"/"torchl": CHW (the channels-first tensor convention
    *    the reference's Rescaler asserts, sample_mappers.py:160-165)
    */
  private val specs: Map[String, (Boolean, Boolean, Boolean)] = Map(
    "pil" -> ((false, false, false)),
    "rgb" -> ((false, true, false)),
    "rgb8" -> ((false, false, false)),
    "l" -> ((true, true, false)),
    "l8" -> ((true, false, false)),
    "torchrgb" -> ((false, true, true)),
    "torchl" -> ((true, true, true)))

  def isImageSpec(s: String): Boolean = specs.contains(s)
  def imageSpecs: Set[String] = specs.keySet

  /** Decode bytes per a wds image spec ([[decodePixels]]). */
  def decodeAs(spec: String, bytes: Array[Byte]): Option[DecodedImage] =
    decodePixels(spec, bytes).map { case (w, h, c, px) =>
      DecodedImage(w, h, c, scala.collection.immutable.ArraySeq.unsafeWrapArray(px))
    }

  /** Column-level decoder for one spec (used by the D3 decode registry):
    * binary -> decoded struct, null for undecodable payloads.
    */
  def decodeUdf(spec: String): Column => Column = {
    require(isImageSpec(spec), s"unknown image spec '$spec'")
    c => Bridge.column(ImageDecode(Bridge.expression(c), spec))
  }

  /** The decode kernel: (width, height, channels, pixels laid out per
    * `spec`); None for a null payload, one no ImageIO reader recognizes
    * or any `NonFatal` its decode throws (a truncated PNG). Grayscale
    * uses the ITU-R 601-2 integer luma PIL's convert("L") uses: (299r +
    * 587g + 114b) / 1000. A side above `maxSide` scales down to it by
    * nearest neighbour at source index floor(x·w/nw); only the sampled
    * source pixels are read. */
  def decodePixels(spec: String, bytes: Array[Byte],
      maxSide: Int = Int.MaxValue): Option[(Int, Int, Int, Array[Float])] = {
    val (gray, unit, chw) = specs.getOrElse(spec,
      throw new IllegalArgumentException(
        s"unknown image spec '$spec' (known: ${specs.keys.toSeq.sorted.mkString(", ")})"))
    try Option(if (bytes == null) null else readImage(bytes)).map { img =>
      val w = img.getWidth; val h = img.getHeight
      val down = math.min(1.0, maxSide.toDouble / math.max(w, h))
      val (nw, nh) = if (down == 1.0) (w, h)
        else (math.max(1, (w * down).toInt), math.max(1, (h * down).toInt))
      val rgb = packedRgb(img, Array.tabulate(nw)(x => (x.toLong * w / nw).toInt),
        Array.tabulate(nh)(y => (y.toLong * h / nh).toInt))
      val plane = rgb.length
      val c = if (gray) 1 else 3
      val out = new Array[Float](Math.multiplyExact(c, plane))
      val scale = if (unit) 255.0f else 1.0f
      var o = 0
      while (o < plane) {
        val p = rgb(o)
        val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
        if (gray) out(o) = (299 * r + 587 * g + 114 * b) / 1000 / scale
        else if (chw) {
          out(o) = r / scale; out(plane + o) = g / scale; out(2 * plane + o) = b / scale
        } else {
          out(3 * o) = r / scale; out(3 * o + 1) = g / scale; out(3 * o + 2) = b / scale
        }
        o += 1
      }
      (nw, nh, c, out)
    } catch { case NonFatal(_) => None }
  }

  /** Readers by provider, per thread: a reader is stateful, and building
    * one per image costs about as much as reading a small image. */
  private val readers = ThreadLocal.withInitial[java.util.HashMap[ImageReaderSpi, ImageReader]](
    () => new java.util.HashMap())

  /** `ImageIO.read`'s provider choice (the first in registry order whose
    * `canDecodeInput` accepts the stream) and read call, over an in-memory
    * stream instead of the temp file the global `ImageIO.getUseCache`
    * default makes, with a cached reader; one that threw is dropped. */
  private def readImage(bytes: Array[Byte]): BufferedImage = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    def canDecode(spi: ImageReaderSpi): Boolean =
      try { in.mark(); val ok = spi.canDecodeInput(in); in.reset(); ok }
      catch { case _: IOException => false }
    try {
      IIORegistry.getDefaultInstance.getServiceProviders(classOf[ImageReaderSpi], true)
        .asScala.find(canDecode) match {
        case None => null
        case Some(spi) =>
          val cache = readers.get
          val reader = cache.computeIfAbsent(spi, _.createReaderInstance())
          try { reader.setInput(in, true, true); reader.read(0, reader.getDefaultReadParam) }
          catch { case e: Throwable => cache.remove(spi); throw e }
          finally reader.setInput(null)
      }
    } finally in.close()
  }

  /** 0x__RRGGBB of source pixel (xs(i), ys(j)) at j·xs.length + i. The
    * sRGB 8-bit interleaved types read the data buffer in bulk, bit-exact
    * with `getRGB`; 8-bit gray, with or without an alpha band, keeps its
    * stored gray sample as r = g = b and drops alpha, as PIL's L and LA
    * conversions do, where `getRGB` applies Java's linear-gray→sRGB
    * curve. Other types use `getRGB`. */
  private[graft] def packedRgb(img: BufferedImage, xs: Array[Int], ys: Array[Int]): Array[Int] = {
    import BufferedImage._
    val nw = xs.length
    val out = new Array[Int](Math.multiplyExact(nw, ys.length))
    val raster = img.getRaster
    val tx = raster.getSampleModelTranslateX; val ty = raster.getSampleModelTranslateY
    val cm = img.getColorModel
    val srgb = cm.getColorSpace.isCS_sRGB
    // the PNG reader's 8-bit gray+alpha is a TYPE_CUSTOM gray, alpha pair
    val grayAlpha = img.getType == TYPE_CUSTOM && cm.hasAlpha && cm.getNumColorComponents == 1 &&
      cm.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY
    (img.getType, raster.getSampleModel, raster.getDataBuffer) match {
      case (t, sm: PixelInterleavedSampleModel, db: DataBufferByte)
          if t == TYPE_BYTE_GRAY || (grayAlpha && sm.getNumBands == 2) ||
            (srgb && (t == TYPE_3BYTE_BGR || t == TYPE_4BYTE_ABGR)) =>
        val d = db.getData; val ps = sm.getPixelStride; val ss = sm.getScanlineStride
        val bands = sm.getBandOffsets
        val (ro, go, bo) = if (sm.getNumBands < 3) (bands(0), bands(0), bands(0))
          else (bands(0), bands(1), bands(2))
        var j = 0
        while (j < ys.length) {
          val row = db.getOffset + (ys(j) - ty) * ss - tx * ps
          var i = 0
          while (i < nw) {
            val k = row + xs(i) * ps
            out(j * nw + i) = (d(k + ro) & 0xff) << 16 | (d(k + go) & 0xff) << 8 | (d(k + bo) & 0xff)
            i += 1
          }
          j += 1
        }
      case _ =>
        for (j <- ys.indices; i <- xs.indices) out(j * nw + i) = img.getRGB(xs(i), ys(j))
    }
    out
  }

  @inline private def pixelAt(px: Seq[Float], w: Int, h: Int, c: Int,
      chw: Boolean, ch: Int, y: Int, x: Int): Float =
    if (chw) px(ch * h * w + y * w + x) else px((y * w + x) * c + ch)

  /** Interpolation modes for pixel resampling, named by the
    * torchvision/PIL constants the reference's configs carry
    * (example.yaml:20 `interpolation: 3`; PIL: NEAREST=0, BILINEAR=2,
    * BICUBIC=3). Cross-library pixel parity is approximate by nature
    * (SURVEY §7.3 risk 6) — what we guarantee is that each mode is the
    * standard kernel (half-pixel centers; Keys cubic a=-0.5) evaluated
    * deterministically.
    */
  sealed trait Interp
  object Interp {
    case object Nearest extends Interp
    case object Bilinear extends Interp
    case object Bicubic extends Interp
    case object Lanczos extends Interp

    /** PIL integer code or name → mode; rejects the codes we don't
      * implement (4=box, 5=hamming) rather than silently substituting
      * a different kernel.
      */
    def parse(s: String): Interp = s.trim.toLowerCase match {
      case "0" | "nearest" => Nearest
      case "1" | "lanczos" => Lanczos
      case "2" | "bilinear" => Bilinear
      case "3" | "bicubic" => Bicubic
      case other => throw new IllegalArgumentException(
        s"unsupported interpolation '$other' " +
          "(supported: 0/nearest, 1/lanczos, 2/bilinear, 3/bicubic)")
    }
  }

  /** Keys cubic convolution kernel, a = -0.5 (the PIL/torchvision
    * bicubic kernel). Defined for |t| < 2; weights at the 4 taps around
    * a sample point always sum to 1.
    */
  @inline private def cubicW(t: Double): Double = {
    val a = -0.5
    val at = math.abs(t)
    if (at <= 1.0) ((a + 2.0) * at - (a + 3.0)) * at * at + 1.0
    else if (at < 2.0) (((at - 5.0) * at + 8.0) * at - 4.0) * a
    else 0.0
  }

  @inline private def clampIdx(i: Int, n: Int): Int =
    if (i < 0) 0 else if (i >= n) n - 1 else i

  /** Lanczos-3 windowed sinc (the PIL LANCZOS kernel, a=3): 6 taps per
    * axis; tap weights are normalized to sum 1 (the kernel itself does
    * not), as PIL's resampler does.
    */
  @inline private def lanczosW(t: Double): Double = {
    val at = math.abs(t)
    if (at < 1e-12) 1.0
    else if (at >= 3.0) 0.0
    else {
      val pt = math.Pi * at
      3.0 * math.sin(pt) * math.sin(pt / 3.0) / (pt * pt)
    }
  }

  /** Resample to (nw, nh) with the given mode. Source coordinates use
    * half-pixel centers (sx = (x+0.5)·w/nw − 0.5) for the linear/cubic
    * kernels — the align_corners=False convention PIL and torchvision
    * share; nearest keeps the engine's historical floor(x·w/nw) mapping.
    * Bicubic and Lanczos can overshoot, so their output is clamped to
    * [0, clampHi].
    * `clampHi` is the pixel scale's ceiling — 255 for 8-bit specs
    * (pil/rgb8/l8), 1.0 for unit-scale specs (rgb/l/torch*): the
    * reference resizes BEFORE ToTensor on uint8 PIL data, so its
    * unit-scale output is the 255-clamped result divided by 255 —
    * clamping at 1.0 lands on the same values.
    */
  def resample(d: DecodedImage, nw: Int, nh: Int, chw: Boolean,
      mode: Interp, clampHi: Float = 255f): DecodedImage = {
    if (nw == d.width && nh == d.height) return d
    val (w, h, c) = (d.width, d.height, d.channels)
    val out = new Array[Float](c * nw * nh)
    @inline def put(ch: Int, y: Int, x: Int, v: Float): Unit =
      if (chw) out(ch * nh * nw + y * nw + x) = v
      else out((y * nw + x) * c + ch) = v
    @inline def src(ch: Int, y: Int, x: Int): Double =
      pixelAt(d.pixels, w, h, c, chw, ch, clampIdx(y, h), clampIdx(x, w)).toDouble
    val sxScale = w.toDouble / nw
    val syScale = h.toDouble / nh
    mode match {
      case Interp.Nearest =>
        var y = 0
        while (y < nh) {
          val sy = (y.toLong * h / nh).toInt
          var x = 0
          while (x < nw) {
            val sx = (x.toLong * w / nw).toInt
            var ch = 0
            while (ch < c) {
              put(ch, y, x, pixelAt(d.pixels, w, h, c, chw, ch, sy, sx))
              ch += 1
            }
            x += 1
          }
          y += 1
        }
      case Interp.Bilinear =>
        var y = 0
        while (y < nh) {
          val sy = (y + 0.5) * syScale - 0.5
          val y0 = math.floor(sy).toInt; val fy = sy - y0
          var x = 0
          while (x < nw) {
            val sx = (x + 0.5) * sxScale - 0.5
            val x0 = math.floor(sx).toInt; val fx = sx - x0
            var ch = 0
            while (ch < c) {
              val v =
                (1 - fy) * ((1 - fx) * src(ch, y0, x0) + fx * src(ch, y0, x0 + 1)) +
                  fy * ((1 - fx) * src(ch, y0 + 1, x0) + fx * src(ch, y0 + 1, x0 + 1))
              put(ch, y, x, v.toFloat)
              ch += 1
            }
            x += 1
          }
          y += 1
        }
      case Interp.Bicubic | Interp.Lanczos =>
        // separable taps around floor(s): Keys cubic (4, as is) or
        // Lanczos-3 (6, weights normalized to sum 1, as PIL does)
        val normalize = mode == Interp.Lanczos
        val taps = if (normalize) 6 else 4
        @inline def kernel(t: Double): Double = if (normalize) lanczosW(t) else cubicW(t)
        val back = taps / 2 - 1
        val wx = new Array[Double](taps); val wy = new Array[Double](taps)
        var y = 0
        while (y < nh) {
          val sy = (y + 0.5) * syScale - 0.5
          val y0 = math.floor(sy).toInt; val fy = sy - y0
          var wySum = 0.0
          var j = 0
          while (j < taps) { wy(j) = kernel(fy - (j - back)); wySum += wy(j); j += 1 }
          var x = 0
          while (x < nw) {
            val sx = (x + 0.5) * sxScale - 0.5
            val x0 = math.floor(sx).toInt; val fx = sx - x0
            var wxSum = 0.0
            var i = 0
            while (i < taps) { wx(i) = kernel(fx - (i - back)); wxSum += wx(i); i += 1 }
            val norm = wySum * wxSum
            var ch = 0
            while (ch < c) {
              var acc = 0.0
              j = 0
              while (j < taps) {
                var rowAcc = 0.0
                i = 0
                while (i < taps) {
                  rowAcc += wx(i) * src(ch, y0 + j - back, x0 + i - back)
                  i += 1
                }
                acc += wy(j) * rowAcc
                j += 1
              }
              if (normalize) acc /= norm
              val clamped = if (acc < 0.0) 0.0 else if (acc > clampHi) clampHi.toDouble else acc
              put(ch, y, x, clamped.toFloat)
              ch += 1
            }
            x += 1
          }
          y += 1
        }
    }
    DecodedImage(nw, nh, c,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }

  /** torchvision `Resize(size, interpolation)` semantics: scale so the
    * SHORTER side equals `size`, preserving aspect; resampling kernel
    * per [[Interp]] (the reference's shipped example requests bicubic —
    * example.yaml:19-20).
    */
  def resizeShorter(d: DecodedImage, size: Int, chw: Boolean,
      mode: Interp = Interp.Nearest, clampHi: Float = 255f): DecodedImage = {
    val (w, h) = (d.width, d.height)
    if (math.min(w, h) == size) return d
    val scale = size.toDouble / math.min(w, h)
    val nw = math.max(1, math.round(w * scale).toInt)
    val nh = math.max(1, math.round(h * scale).toInt)
    resample(d, nw, nh, chw, mode, clampHi)
  }

  /** torchvision `CenterCrop(size)` semantics on the decoded pixels;
    * crops are clamped to the image (no padding of small images).
    */
  def centerCrop(d: DecodedImage, size: Int, chw: Boolean): DecodedImage = {
    val nw = math.min(size, d.width); val nh = math.min(size, d.height)
    crop(d, (d.width - nw) / 2, (d.height - nh) / 2, nw, nh, chw)
  }

  /** Rectangular crop at (x0, y0), size nw×nh (caller guarantees the
    * window lies inside the image). Shared by center and random crops.
    */
  def crop(d: DecodedImage, x0: Int, y0: Int, nw: Int, nh: Int,
      chw: Boolean): DecodedImage = {
    if (nw == d.width && nh == d.height) return d
    val out = new Array[Float](d.channels * nw * nh)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        var ch = 0
        while (ch < d.channels) {
          val v = pixelAt(d.pixels, d.width, d.height, d.channels, chw, ch, y0 + y, x0 + x)
          if (chw) out(ch * nh * nw + y * nw + x) = v
          else out((y * nw + x) * d.channels + ch) = v
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    DecodedImage(nw, nh, d.channels,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }

  /** Decode bytes → (w, h, c, chw pixels in [0,1]); None on undecodable
    * payloads (feeds the engine error policy, not an exception). */
  def decode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
    decodePixels("torchrgb", bytes)

  /** Decode stage: appends a `decoded` struct column (CHW, [0,1]; null
    * for undecodable payloads — route via ErrorPolicy). Optional `maxSide`
    * downscales by nearest neighbour during decode, bounding row memory. */
  def decodeImages(df: DataFrame, payloadCol: String,
      maxSide: Option[Int] = None): DataFrame =
    df.withColumn("decoded", Bridge.column(ImageDecode(
      Bridge.expression(df.col(payloadCol)), "torchrgb", maxSide.getOrElse(Int.MaxValue))))
}

/** Binary payload → [[ImageCodec.decodedSchema]] struct per a wds image
  * spec, as a native expression: [[ImageCodec.decodePixels]] writes its
  * floats straight into an `UnsafeArrayData`, with no Scala UDF, encoder
  * or boxed `Seq[Float]` in between. Null for a null, unrecognized or
  * corrupt payload.
  */
case class ImageDecode(child: Expression, spec: String, maxSide: Int = Int.MaxValue)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = ImageCodec.decodedSchema
  override def nullable: Boolean = true

  def decodeRow(bytes: Array[Byte]): InternalRow =
    ImageCodec.decodePixels(spec, bytes, maxSide) match {
      case Some((w, h, c, px)) =>
        new GenericInternalRow(Array[Any](w, h, c, UnsafeArrayData.fromPrimitiveArray(px)))
      case None => null
    }

  override def nullSafeEval(input: Any): Any = decodeRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("imageDecode", this, classOf[ImageDecode].getName)
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = $ref.decodeRow($b);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): ImageDecode =
    copy(child = newChild)
}
