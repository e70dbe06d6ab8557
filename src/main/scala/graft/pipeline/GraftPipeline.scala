package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.FutureAction
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{SampleFilter, SampleMapper, Sampling}
import graft.sources.{ShardExpand, ShardListing}

/** One stage of the pipeline: either a filter or a mapper (the
  * reference dispatches config entries by isinstance the same way —
  * sdata/dataset.py:182-201, 235-254).
  */
sealed trait PipelineStage
final case class FilterStage(f: SampleFilter) extends PipelineStage
final case class MapperStage(m: SampleMapper) extends PipelineStage

/** Declarative pipeline configuration — the Scala dual of the
  * reference's five-stage YAML (reference README.md:9-20,
  * sdata/dataset.py:124-256): base pipeline (urls, metadata, shuffling,
  * mixture, repeat) → preprocessors → decoders → postprocessors.
  */
final case class PipelineConfig(
    urls: Seq[String],
    extensions: Seq[String],
    metaSuffixes: Seq[String] = Nil,
    tarSampler: String => Boolean = _ => true,
    shardShuffleSeed: Option[Int] = None,
    prefixProbs: Map[String, Double] = Map.empty,
    mixtureTotal: Long = 0L,
    repeat: Int = 1,
    sampleShuffleSeed: Option[Int] = None,
    skipCorrupt: Boolean = false,
    overflowColumn: Boolean = false,
    preprocessors: Seq[PipelineStage] = Nil,
    decoders: Map[String, Decoders.Decoder] = Decoders.defaults,
    postprocessors: Seq[PipelineStage] = Nil,
    metaJoin: String = "shuffle",
    maxPartitionBytes: Option[Long] = None)

/** Config-string operator registry, replacing the reference's dynamic
  * `instantiate`/`make_callable` import machinery
  * (reference sdata/datapipeline.py:123-146): operators register under a
  * name; configs reference names + params. User extensions can still go
  * through reflection (`Class.forName`) but first-party ops resolve
  * statically — no executor-side import cost, no arbitrary code in
  * configs.
  */
object OperatorRegistry {
  private val filters = scala.collection.concurrent.TrieMap[String, Map[String, String] => SampleFilter]()
  private val mappers = scala.collection.concurrent.TrieMap[String, Map[String, String] => SampleMapper]()

  def registerFilter(name: String)(mk: Map[String, String] => SampleFilter): Unit =
    filters.put(name, mk)
  def registerMapper(name: String)(mk: Map[String, String] => SampleMapper): Unit =
    mappers.put(name, mk)

  def filter(name: String, params: Map[String, String] = Map.empty): SampleFilter =
    filters.getOrElse(name, sys.error(s"unknown filter: $name"))(params)
  def mapper(name: String, params: Map[String, String] = Map.empty): SampleMapper =
    mappers.getOrElse(name, sys.error(s"unknown mapper: $name"))(params)

  // first-party registrations
  import graft.operators._
  registerFilter("identity")(_ => IdentityFilter)
  registerFilter("simple_key_filter")(p =>
    SimpleKeyFilter(p("keys").split(",").toSeq))
  registerFilter("simple_size_filter")(p =>
    SimpleSizeFilter(
      height = p("height").toLong, width = p("width").toLong,
      mode = if (p.getOrElse("mode", "min") == "max") SizeFilterMode.Max else SizeFilterMode.Min,
      strict = p.getOrElse("strict", "true").toBoolean,
      heightKey = p.getOrElse("height_key", "height"),
      widthKey = p.getOrElse("width_key", "width")))
  registerFilter("text_quality_filter")(p =>
    TextQualityFilter(
      key = p.getOrElse("key", "txt"),
      minQuality = p.getOrElse("min_quality", "0.5").toDouble))
  registerFilter("lang_filter")(p =>
    LangFilter(
      key = p.getOrElse("key", "txt"),
      lang = p.getOrElse("lang", "en")))
  registerFilter("gopher_rules_filter")(p =>
    GopherRulesFilter(
      key = p.getOrElse("key", "txt"),
      minWords = p.getOrElse("min_words", "25").toLong,
      maxWords = p.getOrElse("max_words", "90").toLong,
      minMeanWl = p.getOrElse("min_mean_wl", "3.0").toDouble,
      maxMeanWl = p.getOrElse("max_mean_wl", "10.0").toDouble,
      minStopHits = p.getOrElse("min_stop_hits", "2").toLong))
  registerMapper("rescaler")(p =>
    Rescaler(key = p.getOrElse("key", "jpg"),
      isFloat = p.getOrElse("isfloat", "true").toBoolean))
  registerMapper("crop_to_square")(p =>
    CropToSquare(
      heightKey = p.getOrElse("height_key", "height"),
      widthKey = p.getOrElse("width_key", "width"),
      idKey = p.getOrElse("id_key", "__key__"),
      seed = p.getOrElse("seed", "42").toInt))
  // torchvision-transform dual over a DECODED image struct: params name
  // the pixel ops ("resize", "center_crop") applied in that order;
  // "layout" declares the decode spec's pixel layout (chw for torch*).
  registerMapper("image_transforms")(p => {
    val chw = p.getOrElse("layout", "hwc") == "chw"
    val seed = p.getOrElse("seed", "42").toInt
    // interpolation params are namespaced per op (a flat shared param
    // would let one transform silently override another's kernel):
    // `interpolation` → Resize; `rrc_interpolation` → RandomResizedCrop
    // (torchvision's RRC default is bilinear, code 2);
    // `rotation_interpolation` → RandomRotation (default nearest, as in
    // torchvision).
    val interp = graft.functions.ImageCodec.Interp.parse(
      p.getOrElse("interpolation", "nearest"))
    val rrcInterp = graft.functions.ImageCodec.Interp.parse(
      p.getOrElse("rrc_interpolation", "2"))
    // ops apply in the canonical torchvision chain order:
    // rrc → resize → pad → rotation → crops → flip → jitter → blur → normalize
    // (ConfigYaml rejects configs whose transform order differs, so
    // named params can't reorder a chain silently).
    // bicubic overshoot ceiling follows the decode spec's pixel scale:
    // chw layout ⇔ torch* specs (unit scale) → 1.0; hwc defaults to the
    // 8-bit pil scale → 255, overridable with scale=unit (the "rgb"/"l"
    // specs are unit-scale HWC).
    val clampHi =
      if (chw || p.get("scale").contains("unit")) 1.0f else 255.0f
    def pair(v: String, what: String): (Double, Double) = v.split(",") match {
      case Array(a, b) => (a.trim.toDouble, b.trim.toDouble)
      case _ => sys.error(s"image_transforms: $what needs 'lo,hi'")
    }
    def padSides(v: String): (Int, Int, Int, Int) =
      v.split(",").map(_.trim.toInt) match {
        case Array(a) => (a, a, a, a)
        case Array(lr, tb) => (lr, tb, lr, tb)
        case Array(l, t, r, b) => (l, t, r, b)
        case _ => sys.error("image_transforms: pad needs 1, 2 or 4 ints")
      }
    val slotted: Seq[Option[ImageOp]] = Seq(
      p.get("random_resized_crop").map(s => RandomResizedCropOp(s.toInt,
        p.get("rrc_scale").map(pair(_, "rrc_scale")).getOrElse((0.08, 1.0)),
        p.get("rrc_ratio").map(pair(_, "rrc_ratio")).getOrElse((0.75, 4.0 / 3.0)),
        seed, chw, rrcInterp, clampHi)),
      p.get("resize").map(s => PixelResizeOp(s.toInt, chw, interp, clampHi)),
      p.get("pad").map { s =>
        val (l, t, r, b) = padSides(s)
        PixelPadOp(l, t, r, b, p.getOrElse("pad_fill", "0").toDouble, chw)
      },
      p.get("rotation").map { s =>
        val (lo, hi) = pair(s, "rotation")
        val rotBilinear = p.getOrElse("rotation_interpolation", "0") match {
          case "0" | "nearest" => false
          case "2" | "bilinear" => true
          case other => sys.error("image_transforms: rotation_interpolation " +
            s"supports 0 (nearest) and 2 (bilinear), got $other")
        }
        RandomRotationOp(lo, hi, seed, chw, rotBilinear,
          p.getOrElse("rotation_fill", "0").toDouble)
      },
      p.get("affine_degrees").map { s =>
        val (lo, hi) = pair(s, "affine_degrees")
        val tr = p.get("affine_translate").map(pair(_, "affine_translate"))
        val sc = p.get("affine_scale").map(pair(_, "affine_scale"))
        val sh = p.get("affine_shear").map { v =>
          v.split(",").map(_.trim.toDouble) match {
            case Array(x) => (-x, x, 0.0, 0.0)
            case Array(a, b) => (a, b, 0.0, 0.0)
            case Array(a, b, cc, d) => (a, b, cc, d)
            case _ => sys.error("image_transforms: affine_shear needs 1, 2 or 4 values")
          }
        }.getOrElse((0.0, 0.0, 0.0, 0.0))
        val affBilinear = p.getOrElse("affine_interpolation", "0") match {
          case "0" | "nearest" => false
          case "2" | "bilinear" => true
          case other => sys.error("image_transforms: affine_interpolation " +
            s"supports 0 (nearest) and 2 (bilinear), got $other")
        }
        RandomAffineOp(lo, hi, tr, sc, sh, seed, chw, affBilinear,
          p.getOrElse("affine_fill", "0").toDouble)
      },
      p.get("random_crop").map(s => RandomCropOp(s.toInt, seed, chw)),
      p.get("center_crop").map(s => PixelCenterCropOp(s.toInt, chw)),
      p.get("hflip_p").map(s => RandomHFlipOp(s.toDouble, seed, chw)),
      {
        val cj = Seq("cj_brightness", "cj_contrast", "cj_saturation", "cj_hue")
          .map(k => p.get(k).map(pair(_, k)))
        if (cj.forall(_.isEmpty)) None
        else Some(ColorJitterOp(cj(0), cj(1), cj(2), cj(3), seed, chw, clampHi))
      },
      p.get("blur").map { s =>
        val (kx, ky) = s.split(",").map(_.trim.toInt) match {
          case Array(k) => (k, k)
          case Array(a, b) => (a, b)
          case _ => sys.error("image_transforms: blur needs 1 or 2 ints")
        }
        val (sLo, sHi) = p.get("blur_sigma").map { v =>
          v.split(",").map(_.trim.toDouble) match {
            case Array(x) => (x, x)
            case Array(a, b) => (a, b)
            case _ => sys.error("image_transforms: blur_sigma needs 1 or 2 values")
          }
        }.getOrElse((0.1, 2.0)) // torchvision GaussianBlur default sigma range
        GaussianBlurOp(kx, ky, sLo, sHi, seed, chw)
      },
      p.get("normalize_mean").map { m =>
        PixelNormalizeOp(
          m.split(",").toIndexedSeq.map(_.trim.toDouble),
          p.getOrElse("normalize_std",
            sys.error("image_transforms: normalize_mean needs normalize_std"))
            .split(",").toIndexedSeq.map(_.trim.toDouble),
          chw)
      })
    // canonical chain ranks (ConfigYaml's slots ×10; affine sits at 35
    // between rotation and the crops; ToTensor holds 90 as a layout
    // declaration, so normalize sits at 100, not 90)
    val slotRanks = Seq(0, 10, 20, 30, 35, 40, 50, 60, 70, 80, 100)
    // registered user ops (ConfigYaml's unknown-transform escape hatch)
    // carry their chain rank in the param key — user ranks fall between
    // canonical slots, so one sort interleaves them at their registered
    // position
    val UserOpKey = "user_op_(\\d+)_(.+)".r
    val userOps = p.toSeq.collect { case (UserOpKey(rank, name), enc) =>
      val up = enc.split("\\|").filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(a, b) => a -> b
          case _ => sys.error(s"image_transforms: bad user op param '$kv'")
        }
      }.toMap
      rank.toInt -> ImageTransforms.buildConfigOp(name, up,
        ImageTransforms.UserOpContext(chw, seed, clampHi))
    }
    val allOps =
      (slotRanks.zip(slotted).collect { case (r, Some(op)) => (r, op) } ++ userOps)
        .sortBy(_._1).map(_._2)
    require(allOps.nonEmpty, "image_transforms needs at least one pixel op " +
      "(random_resized_crop / resize / pad / rotation / random_crop / " +
      "center_crop / hflip_p / cj_* / blur / normalize_mean / a registered user op)")
    ImageTransforms(allOps,
      key = p.getOrElse("key", "jpg"),
      strict = p.getOrElse("strict", "true").toBoolean,
      idKey = p.getOrElse("id_key", "__key__"))
  })
}

/** The `create_dataset` dual (reference sdata/dataset.py:124-256): folds
  * a [[PipelineConfig]] into ONE lazy DataFrame plan:
  *
  *   listing (expand, sample, meta semi-filter J4) →
  *   wds-tar scan (assembly inside the reader — no shuffle) →
  *   sample-level metadata joins (J2, collision-renamed P11) →
  *   preprocessors → decode → postprocessors →
  *   mixture / shuffle / repeat.
  *
  * Laziness matches the reference exactly: nothing runs until an action.
  * The stage ORDER also matches its manual optimizations (§4.1): cheap
  * metadata filters run against raw bytes before decode; Catalyst
  * additionally reorders/pushes every deterministic native predicate.
  */
object GraftPipeline {

  def create(spark: SparkSession, config: PipelineConfig): DataFrame = {
    // 1. listing layer (driver-side, like the reference's fsspec listing)
    val mainShards0 = ShardListing.listShards(spark, config.urls, config.tarSampler)
    // 2. per-suffix metadata existence semi-filter (J4)
    val mainShards = config.metaSuffixes.foldLeft(mainShards0) { (shards, suffix) =>
      val metaDirs = config.urls.map(u =>
        if (ShardExpand.isBraceExpand(u)) u else ShardListing.metaDir(u, suffix))
      val metaShards = ShardListing.listShards(spark, metaDirs)
      ShardListing.semiFilterByMeta(shards, metaShards, suffix)
    }
    require(mainShards.nonEmpty,
      if (mainShards0.isEmpty) s"no shards matched ${config.urls}"
      else s"metadata existence filter (suffixes: ${config.metaSuffixes.mkString(",")}) " +
        s"dropped all ${mainShards0.size} shards from ${config.urls}")
    // 3. deterministic shard shuffle (X1) — driver-side, seeded
    val ordered = config.shardShuffleSeed match {
      case Some(seed) => mainShards.sortBy(p => graft.functions.PortableHash.detHashJvm(s"$p:$seed"))
      case None => mainShards
    }

    // 4. scan: one InputPartition per shard, samples assembled in-reader.
    // In metaJoin=zip mode the scan ALSO carries each shard's aligned
    // meta shards (resolved by the same listing) and the source zips
    // them in-reader — zero shuffle (see WdsTarZipReader's rationale).
    val zipMode = config.metaJoin match {
      case "zip" => true
      case "shuffle" => false
      case other => sys.error(s"metaJoin must be 'shuffle' or 'zip', got '$other'")
    }
    def scan(shards: Seq[String]): DataFrame = {
      val r = spark.read.format("wds-tar")
        .option("shards", shards.mkString(","))
        .option("extensions", config.extensions.mkString(","))
        .option("errorPolicy", if (config.skipCorrupt) "skip" else "fail")
        .option("overflow", config.overflowColumn.toString)
      val withPack = config.maxPartitionBytes match {
        case Some(b) => r.option("maxPartitionBytes", b.toString)
        case None => r
      }
      val withMeta =
        if (!zipMode || config.metaSuffixes.isEmpty) withPack
        else withPack.option("metaShards", config.metaSuffixes.map { sfx =>
          sfx + ":" +
            ShardListing.resolveMetaShards(spark, shards, sfx).mkString(",")
        }.mkString(";"))
      withMeta.load()
    }

    var df = scan(ordered)

    // 5. sample-level metadata joins (J2): meta shard columns come in
    // renamed ext -> ext_suffix on collision (P11,
    // reference datapipeline.py:225-245). Meta shards are discovered by
    // LISTING the suffixed sibling directory (reference
    // datapipeline.py:386-410), so both the reference layout (same
    // basename) and graft's sink layout (basename_suffix) load; a
    // missing or empty meta dir fails loudly instead of joining empty.
    // (metaJoin=zip resolves the same listing but joins in-reader above;
    // the shuffle join below is the order-independent fallback.)
    if (!zipMode) config.metaSuffixes.foreach { suffix =>
      val metaShards = ShardListing.resolveMetaShards(spark, ordered, suffix)
      val meta0 = spark.read.format("wds-tar")
        .option("shards", metaShards.mkString(","))
        .option("extensions", config.extensions.mkString(","))
        .option("errorPolicy", if (config.skipCorrupt) "skip" else "fail")
        .load()
      df = metaJoinShuffle(df, meta0, suffix)
    }

    // 6-8. stage folds: filters → Filter nodes, mappers → projections.
    // With profiling on (spark.graft.profile, the SDATA_PROFILE dual)
    // every stage boundary gets a timing instrument; off (default) the
    // plan is untouched.
    val profiling = graft.core.Profiling.enabled(spark)
    if (profiling) graft.core.Profiling.reset()
    def probe(d: DataFrame, stage: String): DataFrame =
      if (profiling) graft.core.Profiling.instrument(d, stage) else d
    def fold(prefix: String, stages: Seq[PipelineStage])(d0: DataFrame): DataFrame =
      stages.zipWithIndex.foldLeft(d0) {
        case (acc, (FilterStage(f), i)) => probe(f(acc), s"$prefix:$i:${f.getClass.getSimpleName}")
        case (acc, (MapperStage(m), i)) => probe(m(acc), s"$prefix:$i:${m.getClass.getSimpleName}")
      }

    df = probe(df, "scan")
    df = fold("pre", config.preprocessors)(df)
    df = probe(decodeStage(df, config), "decode")
    df = fold("post", config.postprocessors)(df)

    // 9. mixture (X3) / repeat (X7) / sample shuffle (X2).
    // prefixProbs keys are URL prefixes (reference PrefixResampler
    // matches shard keys with startswith); qualify them through the
    // same filesystem as the listing so a schemeless "/data/web" config
    // key matches the listed "file:/data/web/..." shard paths.
    if (config.prefixProbs.nonEmpty) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val qualified = config.prefixProbs.map { case (k, v) =>
        val p = new org.apache.hadoop.fs.Path(k)
        p.getFileSystem(hconf).makeQualified(p).toString -> v
      }
      df = Sampling.prefixMixture(df, prefixCol = "__url__", idCol = "__key__",
        qualified, config.mixtureTotal, config.shardShuffleSeed.getOrElse(0))
    }
    if (config.repeat > 1) df = Sampling.repeatCycle(df, config.repeat)
    config.sampleShuffleSeed.foreach { seed =>
      df = Sampling.detShuffle(df, Seq(graft.sources.wdstar.WdsTarSource.KeyCol), seed)
    }
    df
  }

  /** Shared shuffle-mode meta join: collision rename (P11), stem suffix
    * strip, inner equi-join on `__key__`.
    */
  private def metaJoinShuffle(df: DataFrame, meta0: DataFrame,
      suffix: String): DataFrame = {
    var meta = meta0.drop(graft.sources.wdstar.WdsTarSource.UrlCol)
    meta.columns.filter(c => c != graft.sources.wdstar.WdsTarSource.KeyCol).foreach { c =>
      if (df.columns.contains(c)) meta = meta.withColumnRenamed(c, s"${c}_$suffix")
    }
    // meta keys carry the suffix on the stem: strip it for the join
    meta = meta.withColumn(graft.sources.wdstar.WdsTarSource.KeyCol,
      regexp_replace(col(graft.sources.wdstar.WdsTarSource.KeyCol), s"_$suffix$$", ""))
    df.join(meta, Seq(graft.sources.wdstar.WdsTarSource.KeyCol), "inner")
  }

  /** Streaming dual of [[create]] — the same config assembles a
    * CONTINUOUS pipeline over a growing shard directory (the wds-tar
    * micro-batch source, shards-as-offsets): stream scan → stream-static
    * meta join per suffix → preprocessors → decode → postprocessors.
    * Feed the result to `writeStream` (e.g. the wds-tar streaming sink
    * for continuous re-sharding, or a windowed aggregation from
    * [[graft.streaming.StreamOps]]).
    *
    * Semantics that are batch-only stay batch-only, loudly: shuffles,
    * mixture, and repeat reorder a bounded corpus (a stream is its own
    * epoch); `metaJoin=zip` needs the batch scan's aligned partitions.
    * The meta side of the stream-static join is a batch read of the
    * suffixed sibling directory — Spark re-plans the static side each
    * micro-batch, so meta shards that arrive WITH new main shards are
    * visible by the batch that needs them.
    */
  def createStream(spark: SparkSession, config: PipelineConfig): DataFrame = {
    require(config.urls.length == 1 && !ShardExpand.isBraceExpand(config.urls.head),
      "streaming pipeline takes exactly one directory url (the source " +
        "lists it; brace patterns enumerate a FIXED shard set)")
    require(config.shardShuffleSeed.isEmpty && config.sampleShuffleSeed.isEmpty &&
      config.prefixProbs.isEmpty && config.repeat == 1,
      "shuffles/mixture/repeat are bounded-corpus semantics; not valid on a stream")
    require(config.metaJoin == "shuffle",
      "metaJoin=zip is batch-only; the stream joins meta by key (stream-static)")
    val dir = config.urls.head
    var df = spark.readStream.format("wds-tar")
      .option("path", dir)
      .option("extensions", config.extensions.mkString(","))
      .option("errorPolicy", if (config.skipCorrupt) "skip" else "fail")
      .option("overflow", config.overflowColumn.toString)
      .load()
    config.metaSuffixes.foreach { suffix =>
      val meta0 = spark.read.format("wds-tar")
        .option("path", ShardListing.metaDir(dir, suffix))
        .option("extensions", config.extensions.mkString(","))
        .option("errorPolicy", if (config.skipCorrupt) "skip" else "fail")
        .load()
      df = metaJoinShuffle(df, meta0, suffix)
    }
    def fold(stages: Seq[PipelineStage])(d0: DataFrame): DataFrame =
      stages.foldLeft(d0) {
        case (acc, FilterStage(f)) => f(acc)
        case (acc, MapperStage(m)) => m(acc)
      }
    fold(config.postprocessors)(
      decodeStage(fold(config.preprocessors)(df), config))
  }

  /** Decode stage (D1-D3): rewrites each configured extension column via
    * its decoder; undeclared extensions stay binary (partial decode).
    * Collision-renamed metadata columns (`ext_suffix`, P11) decode with
    * the base extension's decoder — an intentional upgrade over the
    * reference, whose extension-keyed handler chain leaves them as raw
    * bytes (wds autodecode matches the literal key "txt_meta" against no
    * handler).
    */
  private def decodeStage(df: DataFrame, config: PipelineConfig): DataFrame = {
    val targets = config.extensions.flatMap { ext =>
      Seq(ext -> ext) ++ config.metaSuffixes.map(sfx => s"${ext}_$sfx" -> ext)
    }
    targets.foldLeft(df) { case (d, (colName, ext)) =>
      config.decoders.get(ext) match {
        case Some(dec) if d.columns.contains(colName) =>
          d.withColumn(colName, dec.decode(col(colName)))
        case _ => d
      }
    }
  }

  /** The `create_loader` dual (reference sdata/dataset.py:51-121): a
    * batched local iterator at the engine edge. Collation is a no-op —
    * partitions are already columnar (SURVEY.md §2.4 A3); `partial`
    * mirrors the keep-last-short-batch flag.
    *
    * Rows arrive in partition order, the sequence `df.collect()` gives,
    * from one Spark job per partition. Those jobs run ahead of the
    * consumer, the dual of the reference's `num_workers` prefetch: the
    * loader keeps `sc.defaultParallelism` partition jobs in flight, so
    * it holds at most `defaultParallelism + 1` partitions in memory (the
    * window plus the one being drained). Opening the loader is one SQL
    * execution that plans the frame and submits the first window;
    * `hasNext` waits for the rows of the next batch. If a partition job
    * fails, `hasNext`/`next()` throw its error, after every batch
    * completed before it, and the jobs still in flight are cancelled.
    * An abandoned loader lets its in-flight jobs finish.
    */
  def loader(df: DataFrame, batchSize: Int, partial: Boolean = true): Iterator[Seq[Row]] =
    prefetchedRows(df).grouped(batchSize).withPartial(partial)

  /** `df`'s rows in partition order, fetched by per-partition jobs kept
    * `sc.defaultParallelism` ahead of the consumer (see [[loader]]).
    * Every job is submitted from the caller's thread, so job tags,
    * scheduler pool and other local properties apply as they would to
    * a job the caller ran itself.
    */
  private def prefetchedRows(df: DataFrame): Iterator[Row] = {
    val sc = df.sparkSession.sparkContext
    Bridge.withPlannedRows(df, "loader") { (rdd, fromRow) =>
      val nParts = rdd.getNumPartitions
      val inFlight = scala.collection.mutable.Queue[FutureAction[Array[InternalRow]]]()
      var submitted = 0
      def submitNext(): Unit = if (submitted < nParts) {
        val out = new Array[Array[InternalRow]](1)
        // one RDD per job: a failed stage aborts every active job whose
        // lineage holds the stage's RDD, so jobs sharing `rdd` would fail
        // the partitions before the broken one along with it
        val copied = rdd.mapPartitions(_.map(_.copy()))
        inFlight.enqueue(sc.submitJob(copied, (rows: Iterator[InternalRow]) => rows.toArray,
          Seq(submitted), (_: Int, part: Array[InternalRow]) => out(0) = part, out(0)))
        submitted += 1
      }
      (0 until sc.defaultParallelism).foreach(_ => submitNext())
      new Iterator[Row] {
        private var current: Iterator[InternalRow] = Iterator.empty
        private var failure: Throwable = null
        override def hasNext: Boolean = {
          while (failure == null && !current.hasNext && inFlight.nonEmpty) {
            try {
              current = Await.result(inFlight.dequeue(), Duration.Inf).iterator
              submitNext()
            } catch {
              case e: Throwable =>
                inFlight.foreach(_.cancel())
                inFlight.clear()
                failure = e
            }
          }
          if (failure != null) throw failure
          current.hasNext
        }
        override def next(): Row =
          if (hasNext) fromRow(current.next()) else Iterator.empty.next()
      }
    }
  }
}
