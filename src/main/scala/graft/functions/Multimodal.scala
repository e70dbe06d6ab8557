package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: images/audio/video as opaque `binary`
  * payloads plus a typed metadata struct, with decode / feature-extract /
  * resize / frame-sample stages.
  *
  * This is the Spark dual of the reference's decode layer (wds
  * autodecode handlers selected by extension, reference
  * sdata/datapipeline.py:149-204, sdata/dataset.py:204-232): payloads
  * stay bytes until a decode stage projects typed columns out of them.
  *
  * The actual codec call (JPEG decode etc.) is environment-dependent and
  * STUBBED here behind [[decodeStub]]: a deterministic fake that hashes
  * the payload instead of decoding pixels. Everything around it — the
  * schema contract, null/error propagation, partition-level batching —
  * is real: swap `decodeStub` for a codec-backed implementation (as
  * [[ImageCodec]] does: one column expression over a reader reused per
  * thread, never built per row) and nothing else changes.
  */
object Multimodal {

  /** Canonical multimodal metadata struct. */
  val metaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** Attach payload + metadata columns: `payload: binary`,
    * `media: struct(width, height, channels, n_frames)`.
    */
  def withMedia(df: DataFrame, payloadCol: Column, width: Column,
      height: Column, channels: Column, nFrames: Column): DataFrame =
    df.withColumn("payload", payloadCol.cast("binary"))
      .withColumn("media", struct(
        width.cast("int").as("width"),
        height.cast("int").as("height"),
        channels.cast("int").as("channels"),
        nFrames.cast("int").as("n_frames")))

  /** STUB decode: a deterministic payload digest standing in for pixel
    * decoding. Real implementation point — keep the signature:
    * binary payload in, fixed-type feature out.
    */
  def decodeStub(payload: Column): Column =
    PortableHash.detHash(md5(payload))

  /** Resize metadata transform: clamps the longer side to `maxSide`,
    * preserving aspect ratio (integer arithmetic, floor semantics —
    * matches what a real resize stage would record in metadata).
    */
  def resizeMeta(media: Column, maxSide: Int): Column = {
    val w = media.getField("width").cast("long")
    val h = media.getField("height").cast("long")
    val longSide = greatest(w, h)
    val needsResize = longSide > maxSide
    // floor of double division — exact for values < 2^53 and portable
    // (Spark's int cast truncates where DuckDB's rounds; floor first).
    val newW = when(needsResize, floor((w * maxSide) / longSide)).otherwise(w)
    val newH = when(needsResize, floor((h * maxSide) / longSide)).otherwise(h)
    struct(
      newW.cast("int").as("width"),
      newH.cast("int").as("height"),
      media.getField("channels").as("channels"),
      media.getField("n_frames").as("n_frames"))
  }

  /** Frame-sampling indexes: every `step`-th frame of `0 until n_frames`.
    * Returns an int array column; explode it to get one row per sampled
    * frame.
    */
  def sampleFrameIdx(media: Column, step: Int): Column =
    sequence(lit(0), media.getField("n_frames").cast("long") - 1, lit(step))

  /** Partition-level decode plumbing — the Scala analogue of a Pandas
    * `mapInPandas` decode stage: one codec instance per PARTITION (never
    * per row), rows streamed through it lazily.
    *
    * `mkCodec` constructs the per-partition codec (a real
    * implementation would initialize libjpeg/ffmpeg here; the test
    * fake hashes bytes); `decode` maps (codec, payload) to a feature
    * vector. Input column must be `payload: binary`; appends
    * `features: array<double>`. Partitioning, batch shape, and
    * null-propagation are the real contract a codec swap inherits.
    */
  def decodePartitioned[C](df: DataFrame, payloadCol: String,
      mkCodec: () => C, decode: (C, Array[Byte]) => Array[Double]): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField("features", ArrayType(DoubleType), nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val codec = mkCodec() // once per partition
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        val features = if (payload == null) null else decode(codec, payload)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ features)
      }
    }(enc)
  }
}
