package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Extension-driven decode registry — the engine's counterpart of the
  * wds autodecode handler chain (reference sdata/datapipeline.py:149-204
  * `KeyPassThroughDecoder`; sdata/dataset.py:204-232 string-spec
  * handlers).
  *
  * A decoder is a pure `Column => Column` on the raw `binary` member
  * column; declarative, so Catalyst prunes undecoded columns and decode
  * work for columns never referenced downstream ("partial decode" —
  * reference datapipeline.py:194-198 — falls out of column pruning for
  * free).
  */
object Decoders {

  /** One decode rule: how a member extension becomes a typed column. */
  final case class Decoder(name: String, decode: Column => Column)

  /** utf-8 text (reference wds `txt` handler + `_`-key passthrough,
    * datapipeline.py:185-189).
    */
  val utf8: Decoder = Decoder("utf8", c => decode(c, "UTF-8"))

  /** integer class label (wds `cls` handler). */
  val cls: Decoder = Decoder("cls", c => decode(c, "UTF-8").cast("long"))

  /** JSON metadata kept as a raw JSON string; field access via
    * `get_json_object` / `from_json` downstream (schema-on-read, like
    * the reference's decoded dict).
    */
  val json: Decoder = Decoder("json", c => decode(c, "UTF-8"))

  /** JSON parsed to a struct when the caller declares a schema. */
  def jsonAs(schema: DataType): Decoder =
    Decoder("json_struct", c => from_json(decode(c, "UTF-8"), schema))

  /** Image decode STUB (see graft.functions.Multimodal.decodeStub): the
    * pipeline keeps image bytes opaque + deterministic digest. [[image]]
    * is the real decoder of the same shape: a column expression, so
    * swapping one for the other leaves the pipeline as it is.
    */
  val imageStub: Decoder =
    Decoder("image_stub", c => graft.functions.Multimodal.decodeStub(c))

  /** Real image decode for a wds image-spec string ("pil", "torchrgb",
    * "l8", ... — the strings the reference validates against
    * `wds.autodecode.imagespecs`, sdata/dataset.py:204-232): one native
    * Catalyst expression, [[graft.functions.ImageDecode]], over the
    * [[graft.functions.ImageCodec]] kernel, planned inside whole-stage
    * codegen with the rest of the decode projection.
    */
  def image(spec: String): Decoder =
    Decoder(s"image_$spec", graft.functions.ImageCodec.decodeUdf(spec))

  /** Numpy tensor members (wds autodecode's `npy`/`npz` handlers) —
    * `struct(shape array<int>, data array<float>)`, every dtype widened
    * to float32; npz explodes to a name-keyed map of the same struct.
    */
  val npy: Decoder = Decoder("npy", c => graft.functions.NpyCodec.decodeNpyUdf(c))
  val npz: Decoder = Decoder("npz", c => graft.functions.NpyCodec.decodeNpzUdf(c))

  /** PCM WAV audio (wds autodecode's audio vocabulary; compressed
    * formats get the METADATA tier below — sample decode needs a codec
    * library and stays user-registered).
    */
  val wav: Decoder = Decoder("wav", c => graft.functions.WavCodec.decodeWavUdf(c))

  /** Compressed-audio METADATA (duration / sample rate / channels /
    * sample counts from frame headers and container pages, payload
    * bytes untouched — [[graft.functions.AudioMetaCodec]]).
    */
  val mp3: Decoder = Decoder("mp3_meta",
    c => graft.functions.AudioMetaCodec.decodeMp3MetaUdf(c))
  val flac: Decoder = Decoder("flac_meta",
    c => graft.functions.AudioMetaCodec.decodeFlacMetaUdf(c))
  val ogg: Decoder = Decoder("ogg_meta",
    c => graft.functions.AudioMetaCodec.decodeOggMetaUdf(c))

  /** ISO-BMFF video METADATA (timescale/duration/track handlers from
    * the moov box walk) and torch-checkpoint ZIP listings (entry names
    * + uncompressed sizes, nothing unpickled) —
    * [[graft.functions.ContainerMetaCodec]].
    */
  val mp4: Decoder = Decoder("mp4_meta",
    c => graft.functions.ContainerMetaCodec.decodeMp4MetaUdf(c))
  val webm: Decoder = Decoder("webm_meta",
    c => graft.functions.ContainerMetaCodec.decodeWebmMetaUdf(c))
  val pth: Decoder = Decoder("pth_meta",
    c => graft.functions.ContainerMetaCodec.decodePthMetaUdf(c))

  /** Y4M video METADATA (width/height/fps/frame count — frame headers
    * walked, pixel bytes untouched); luma frame extraction is
    * [[graft.functions.VideoCodec.sampleLumaFramesUdf]], applied
    * downstream where a query actually consumes pixels. Compressed
    * containers (mp4/webm) stay binary unless user-registered.
    */
  val y4m: Decoder = Decoder("y4m", c => graft.functions.VideoCodec.decodeMetaUdf(c))

  /** Member extensions treated as images (wds autodecode's extension
    * coverage, minus formats javax.imageio lacks).
    */
  val imageExtensions: Set[String] = Set("jpg", "jpeg", "png", "gif", "bmp")

  /** Default extension → decoder table (reference dataset.py:204-232).
    * Image extensions default to "pil" decode — the reference's default
    * decoder spec (`decoders: Optional[...] = "pil"`, dataset.py:127) —
    * so a pipeline declaring a jpg column gets decoded pixels out of the
    * box instead of raw bytes.
    */
  val defaults: Map[String, Decoder] =
    Map(
      "txt" -> utf8,
      "text" -> utf8,
      "json" -> json,
      "cls" -> cls,
      "npy" -> npy,
      "npz" -> npz,
      "wav" -> wav,
      "mp3" -> mp3,
      "flac" -> flac,
      "ogg" -> ogg,
      "oga" -> ogg,
      "opus" -> ogg,
      "mp4" -> mp4,
      "m4a" -> mp4,
      "mov" -> mp4,
      "webm" -> webm,
      "mkv" -> webm,
      "pth" -> pth,
      "pt" -> pth,
      "y4m" -> y4m) ++
      imageExtensions.map(_ -> image("pil")).toMap

  /** Resolve a config decoder list/map into the extension table:
    * list form (reference YAML `decoders: ["pil"]`) applies each image
    * spec to every image extension; map form pins specific extensions.
    * Unknown spec strings fail AT CONFIG LOAD, matching the
    * reference's assert against `wds.autodecode.imagespecs`
    * (dataset.py:211-218) — never executor-side mid-query.
    */
  def withSpecs(specList: Seq[String], byExt: Map[String, String]): Map[String, Decoder] = {
    (specList ++ byExt.values).foreach { spec =>
      require(graft.functions.ImageCodec.isImageSpec(spec),
        s"unknown decoder spec '$spec' (known image specs: " +
          s"${graft.functions.ImageCodec.imageSpecs.toSeq.sorted.mkString(", ")}; " +
          "non-image extensions txt/json/cls/npy/npz/wav/mp3/flac/y4m decode by default)")
    }
    val fromList = specList.foldLeft(defaults) { (m, spec) =>
      m ++ imageExtensions.map(_ -> image(spec)).toMap
    }
    fromList ++ byExt.map { case (ext, spec) => ext -> image(spec) }
  }
}
