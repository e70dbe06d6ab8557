package graft.sources.wdstar

import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{ShardExpand, ShardListing}

/** "wds-tar" DataSource V2: reads webdataset-layout tar shards as rows.
  *
  * This is the engine's one custom physical component (SURVEY.md §4.3).
  * Semantics re-implemented from the reference's tar loading + sample
  * assembly chain (reference sdata/custom_datapipes.py:339-408
  * `TarArchiveLoaderAndCloser`; :284-336 `Dataset2SamplesConverter`;
  * sdata/datapipeline.py:489-495 member group-by):
  *
  *  - one sample per group of consecutive tar members sharing a filename
  *    stem; columns are the member extensions, values the raw bytes;
  *  - reserved columns `__key__` (stem) and `__url__` (shard path)
  *    (custom_datapipes.py:319-320);
  *  - corrupt shards/members warn and skip, matching `warn_and_continue`
  *    (custom_datapipes.py:400-408) when `errorPolicy=skip` (default
  *    `fail`, Spark's norm);
  *  - unknown extensions land in the `__overflow__` map column when
  *    `overflow=true` — no data loss under schema drift.
  *
  * Scale design: shard = `InputPartition` (the reference's unit of
  * distribution, datapipeline.py:446-457, maps 1:1 onto Spark's task
  * parallelism); members stream through a bounded buffer — a whole shard
  * is never materialized; sample assembly happens inside the reader
  * (members of one sample are adjacent in a tar by construction), so
  * reading 100 TB of tars costs ZERO shuffle. Column pruning
  * (`SupportsPushDownRequiredColumns`) skips buffering bytes of unused
  * extensions — a projection of `__key__` alone never allocates payload
  * memory.
  *
  * Options: `shards` (comma-separated paths/brace patterns) or `path`
  * (dir to list recursively); `extensions` (comma list → binary columns);
  * `errorPolicy` (`fail`|`skip`); `overflow` (`true`|`false`);
  * `maxPartitionBytes` (+ `openCostInBytes`, default 4 MiB) — pack
  * consecutive small shards into one partition up to the byte budget
  * ([[WdsTarSource.packShards]]; default off = 1:1 shard:partition).
  *
  * Tar-format tolerance (the reference accepts "any member python's
  * tarfile yields", custom_datapipes.py:339-408): PAX extended headers
  * and GNU `@LongLink` records — the two encodings of >100-char member
  * paths and non-ascii names — are resolved by commons-compress before
  * this reader sees the entry, so stems, pushdown, and assembly always
  * operate on the logical name (WdsTarSourceSpec pins both modes).
  * Member SIZES above the 8 GiB ustar octal field (PAX `size` attribute
  * or GNU base-256 encoding) parse the same way; a single member is
  * still bounded by the JVM's 2 GiB array limit at buffering time, and
  * a member larger than that fails the shard under `errorPolicy=fail`
  * (skips it under `skip`) rather than truncating silently — a sample
  * that size belongs in a chunked layout, not one tar member.
  */
class WdsTarTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wds-tar"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val exts = WdsTarSource.extensionsOf(options)
      .getOrElse(WdsTarSource.inferExtensions(options))
    WdsTarSource.schemaFor(exts, options.getBoolean("overflow", false),
      WdsTarSource.metaShardsOf(options).keys.toSeq.sorted)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WdsTarTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

object WdsTarSource {
  val KeyCol = "__key__"
  val UrlCol = "__url__"
  val OverflowCol = "__overflow__"

  /** The active session's Hadoop conf as a broadcast, made once per scan
    * or write, as Spark's own file sources ship it.
    */
  def broadcastConf(): Broadcast[SerializableConfiguration] = {
    val spark = SparkSession.active
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }

  def extensionsOf(options: CaseInsensitiveStringMap): Option[Seq[String]] = {
    val exts = options.get("extensions")
    if (exts == null || exts.trim.isEmpty) None
    else Some(exts.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** Schema inference when `extensions` is not declared: stream the
    * FIRST shard's member names (no payload bytes are read) and take
    * the observed extension set, sorted. This mirrors how the
    * reference discovers keys at runtime per sample (SURVEY.md §7.3
    * risk 2) while keeping a fixed plan-time schema; heterogeneous
    * later shards still land in null columns or the `overflow` map.
    */
  def inferExtensions(options: CaseInsensitiveStringMap): Seq[String] = {
    val first = shardsOf(options).headOption.getOrElse(
      throw new IllegalArgumentException("wds-tar: no shards to infer a schema from"))
    val path = new Path(first)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val in = path.getFileSystem(conf).open(path)
    val tar = new TarArchiveInputStream(in)
    try {
      val exts = scala.collection.mutable.LinkedHashSet[String]()
      var entry = tar.getNextEntry
      var n = 0
      while (entry != null && n < 10000) {
        if (entry.isFile) {
          val e = ShardExpand.memberExtension(entry.getName)
          if (e.nonEmpty) exts += e
        }
        n += 1
        entry = tar.getNextEntry
      }
      require(exts.nonEmpty, s"wds-tar: no members with extensions in $first")
      exts.toSeq.sorted
    } finally tar.close()
  }

  def schemaFor(extensions: Seq[String], overflow: Boolean,
      metaSuffixes: Seq[String] = Nil): StructType = {
    val base = StructType(Seq(
      StructField(KeyCol, StringType, nullable = false),
      StructField(UrlCol, StringType, nullable = false)) ++
      extensions.map(e => StructField(e, BinaryType, nullable = true)) ++
      metaSuffixes.flatMap(sfx =>
        extensions.map(e => StructField(s"${e}_$sfx", BinaryType, nullable = true))))
    if (overflow)
      base.add(StructField(OverflowCol, MapType(StringType, BinaryType), nullable = false))
    else base
  }

  /** Parse the `metaShards` option: `sfx:p1,p2,...;sfx2:q1,q2,...` —
    * per suffix, meta shard paths aligned 1:1 (by position) with the
    * expanded `shards` list. Set by [[graft.pipeline.GraftPipeline]] in
    * `metaJoin=zip` mode from [[graft.sources.ShardListing.resolveMetaShards]].
    */
  def metaShardsOf(options: CaseInsensitiveStringMap): Map[String, Seq[String]] = {
    val raw = options.get("metaShards")
    if (raw == null || raw.trim.isEmpty) Map.empty
    else raw.split(";").map(_.trim).filter(_.nonEmpty).map { part =>
      val colon = part.indexOf(':')
      require(colon > 0, s"wds-tar: metaShards entry needs 'suffix:paths', got '$part'")
      part.substring(0, colon) ->
        part.substring(colon + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.toMap
  }

  def shardsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val explicit = Option(options.get("shards"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .map(ShardExpand.expandAll)
    val listed = Option(options.get("path")).map { dir =>
      ShardListing.listShards(SparkSession.active, Seq(dir))
    }
    val shards = explicit.orElse(listed).getOrElse(
      throw new IllegalArgumentException("wds-tar requires 'shards' or 'path'"))
    shards.filter(ShardExpand.tarFilter)
  }

  /** Projection-aware sample→row assembly shared by the walking and
    * indexed readers: `members` is (extension, bytes-or-null) in member
    * order; null bytes are presence markers for pruned declared
    * extensions (they keep `__overflow__` membership stable under
    * column pruning).
    */
  private[wdstar] def assembleSample(readSchema: StructType,
      declaredExts: Set[String], stem: String, url: String,
      members: Seq[(String, Array[Byte])]): InternalRow = {
    val values = new Array[Any](readSchema.length)
    var i = 0
    val byExt = members.toMap
    readSchema.fields.foreach { f =>
      values(i) = f.name match {
        case KeyCol => UTF8String.fromString(stem)
        case UrlCol => UTF8String.fromString(url)
        case OverflowCol =>
          val extras = members.filterNot(m => declaredExts.contains(m._1))
          new ArrayBasedMapData(
            new GenericArrayData(extras.map(m => UTF8String.fromString(m._1)).toArray[Any]),
            new GenericArrayData(extras.map(_._2).toArray[Any]))
        case ext => byExt.getOrElse(ext, null)
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  /** Small-shard packing (Spark's `FilePartition` discipline applied to
    * tars): with `maxPartitionBytes` set, consecutive shards pack into
    * one partition until the byte budget — each shard padded by
    * `openCostInBytes` (default 4 MiB, Spark's default) so thousands of
    * tiny shards don't collapse into one task. Order-preserving and
    * deterministic: shard order within and across partitions is the
    * listed order, so seeded-shuffle semantics are unchanged. Default is
    * OFF (1:1, the reference's shard=worker unit): a normal webdataset
    * corpus has ~100 MB–1 GB shards where 1:1 is right; packing is for
    * corpora of many small shards (e.g. per-source re-shards or metadata
    * tars) where a 100 TB listing would otherwise mean millions of
    * scheduler tasks. Sizes come from one driver-side `getFileStatus`
    * per shard — the same metadata pass a listing already paid.
    */
  def packShards(shards: Seq[String], options: CaseInsensitiveStringMap): Seq[Seq[String]] = {
    val maxBytes = Option(options.get("maxPartitionBytes")).map(_.trim.toLong)
    maxBytes match {
      case None => shards.map(Seq(_))
      case Some(budget) =>
        require(budget > 0, s"wds-tar: maxPartitionBytes must be positive, got $budget")
        val openCost = Option(options.get("openCostInBytes"))
          .map(_.trim.toLong).getOrElse(4L * 1024 * 1024)
        val conf = SparkSession.active.sessionState.newHadoopConf()
        val out = Seq.newBuilder[Seq[String]]
        val cur = Seq.newBuilder[String]
        var curBytes = 0L
        var curN = 0
        shards.foreach { s =>
          val p = new Path(s)
          val cost = p.getFileSystem(conf).getFileStatus(p).getLen + openCost
          if (curN > 0 && curBytes + cost > budget) {
            out += cur.result(); cur.clear(); curBytes = 0L; curN = 0
          }
          cur += s; curBytes += cost; curN += 1
        }
        if (curN > 0) out += cur.result()
        out.result()
    }
  }
}

class WdsTarTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"wds-tar(${options.get("shards")}${options.get("path")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new WdsTarScanBuilder(tableSchema, options)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WdsTarWriteBuilder(info.schema(), info.options())
}

class WdsTarScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep declared field order regardless of projection order
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** `__url__` / `__key__` predicates are recorded for shard pruning and
    * in-reader sample skipping (see [[ShardFilters]]); ALL filters are
    * returned as residual so Spark re-applies them — advisory pushdown,
    * correctness never depends on the source's evaluation.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(f =>
      ShardFilters.supported(f, WdsTarSource.UrlCol) ||
        ShardFilters.supported(f, WdsTarSource.KeyCol))
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = new WdsTarScan(required, fullSchema, options, pushed)
}

class WdsTarScan(requiredSchema: StructType, fullSchema: StructType,
    options: CaseInsensitiveStringMap,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch {
  private val metaShards = WdsTarSource.metaShardsOf(options)
  // Declared sample extensions come from the FULL table schema, not the
  // pruned one: __overflow__ holds members outside the declared columns,
  // and that set must not change when a declared column is pruned from
  // the projection (column pruning must never change column VALUES).
  // Zip-mode meta columns (`ext_sfx`) are not member extensions.
  private def declaredExts: Set[String] = fullSchema.fieldNames
    .filterNot(Set(WdsTarSource.KeyCol, WdsTarSource.UrlCol,
      WdsTarSource.OverflowCol))
    .filterNot(n => metaShards.keys.exists(sfx => n.endsWith(s"_$sfx")))
    .toSet
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(metaShards.isEmpty,
      "wds-tar: metaShards (zip meta join) is batch-only; stream the main " +
        "corpus and join meta with a stream-static join instead")
    new WdsTarMicroBatchStream(requiredSchema, declaredExts, options,
      checkpointLocation, pushed)
  }
  override def description(): String = "wds-tar scan"

  private def urlFilters = pushed.filter(
    ShardFilters.supported(_, WdsTarSource.UrlCol))
  private def keyFilters = pushed.filter(
    ShardFilters.supported(_, WdsTarSource.KeyCol))

  /** Shard pruning: a tar whose path fails a pushed `__url__` predicate
    * never becomes a partition — it is never listed as work, never
    * opened. The scan's partition count IS the pruned count (or, with
    * `maxPartitionBytes` set, the packed count over pruned shards).
    * Zip-mode meta shards follow their main shard through pruning and
    * packing — alignment is positional in the original listing.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val ufs = urlFilters
    val all = WdsTarSource.shardsOf(options)
    metaShards.foreach { case (sfx, metas) =>
      require(metas.length == all.length,
        s"wds-tar: metaShards for '$sfx' has ${metas.length} entries but " +
          s"${all.length} main shards — the lists must align positionally")
    }
    val metaFor: Map[String, Map[String, String]] =
      if (metaShards.isEmpty) Map.empty
      else all.zipWithIndex.map { case (s, i) =>
        s -> metaShards.map { case (sfx, metas) => sfx -> metas(i) }
      }.toMap
    val pruned = all.filter(s => ufs.forall(ShardFilters.eval(_, s)))
    WdsTarSource.packShards(pruned, options)
      .map(group => WdsTarInputPartition(group,
        if (metaFor.isEmpty) Nil else group.map(metaFor)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    WdsTarReaderFactory(requiredSchema, declaredExts, WdsTarSource.broadcastConf(),
      skipErrors = "skip".equalsIgnoreCase(options.getOrDefault("errorPolicy", "fail")),
      keyFilters = keyFilters.toSeq,
      useIndex = !"false".equalsIgnoreCase(options.getOrDefault("index", "true")))
}

/** One scan partition: a group of shards (singleton unless packed), plus
  * — in zip meta-join mode — each shard's suffix→meta-shard map, aligned
  * by position with `shardPaths`.
  */
case class WdsTarInputPartition(shardPaths: Seq[String],
    metas: Seq[Map[String, String]] = Nil) extends InputPartition

/** Per-task reader factory. The Hadoop conf rides in a broadcast made
  * once per scan: inline, every job's task binary would re-serialize the
  * whole `Configuration` and every task would re-parse it.
  */
case class WdsTarReaderFactory(readSchema: StructType, declaredExts: Set[String],
    confBc: Broadcast[SerializableConfiguration], skipErrors: Boolean,
    keyFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    useIndex: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WdsTarInputPartition]
    val conf = confBc.value.value
    def mk(i: Int): PartitionReader[InternalRow] = {
      val metas = if (p.metas.isEmpty) Map.empty[String, String] else p.metas(i)
      if (metas.isEmpty) {
        // selective read: with pushed __key__ predicates and an offset
        // sidecar present, seek to matching samples instead of walking
        // (the existence probe costs one FS call — only paid when key
        // predicates were actually pushed)
        val indexed = useIndex && keyFilters.nonEmpty && {
          val idx = new Path(WdsTarIndex.indexPath(p.shardPaths(i)))
          idx.getFileSystem(conf).exists(idx)
        }
        if (indexed)
          new WdsTarIndexedReader(p.shardPaths(i), readSchema, declaredExts,
            conf, skipErrors, keyFilters)
        else
          new WdsTarPartitionReader(p.shardPaths(i), readSchema, declaredExts,
            conf, skipErrors, keyFilters)
      } else
        new WdsTarZipReader(p.shardPaths(i), metas, readSchema, declaredExts,
          conf, skipErrors, keyFilters)
    }
    if (p.shardPaths.lengthCompare(1) == 0) mk(0)
    else new WdsTarChainedReader(p.shardPaths.indices.map(i => () => mk(i)))
  }
}

/** Reads the shards of a packed partition sequentially — at most one
  * shard's stream open at a time, so a packed partition holds no more
  * memory than a 1:1 one.
  */
class WdsTarChainedReader(makers: Seq[() => PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private val it = makers.iterator
  private var cur: PartitionReader[InternalRow] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = it.next()()
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false
  }

  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Streams one tar shard: assembles consecutive same-stem members into
  * rows. Never holds more than one sample's bytes; closes the stream in
  * `close()` (the reference's leak fix, custom_datapipes.py:390-399, is
  * the reader lifecycle here).
  */
class WdsTarPartitionReader(shardPath: String, readSchema: StructType,
    declaredExts: Set[String], conf: Configuration, skipErrors: Boolean,
    keyFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends PartitionReader[InternalRow] with Logging {

  private val wantKey = readSchema.fieldNames.contains(WdsTarSource.KeyCol)
  private val wantUrl = readSchema.fieldNames.contains(WdsTarSource.UrlCol)
  private val wantOverflow = readSchema.fieldNames.contains(WdsTarSource.OverflowCol)
  private val wantedExts: Set[String] = readSchema.fieldNames
    .filterNot(Set(WdsTarSource.KeyCol, WdsTarSource.UrlCol, WdsTarSource.OverflowCol))
    .toSet

  private val path = new Path(shardPath)
  private val in = path.getFileSystem(conf).open(path)
  private val tar = new TarArchiveInputStream(in)

  private var currentRow: InternalRow = _
  private var pendingStem: String = _
  private var pendingWanted = true
  private var pendingMembers = mutable.ArrayBuffer[(String, Array[Byte])]()
  private var exhausted = false

  /** Pushed `__key__` predicate over a sample stem: false means the
    * sample's members stream past without buffering a byte.
    */
  private def stemWanted(stem: String): Boolean =
    keyFilters.forall(ShardFilters.eval(_, stem))

  override def next(): Boolean = {
    currentRow = null
    while (currentRow == null && !(exhausted && pendingMembers.isEmpty)) {
      val entry = if (exhausted) null else nextEntrySafe()
      if (entry == null) {
        exhausted = true
        if (pendingMembers.nonEmpty) { currentRow = assemble(); pendingMembers.clear() }
      } else if (entry.isFile) {
        val stem = ShardExpand.sampleKey(entry.getName)
        if (pendingStem != null && stem != pendingStem && pendingMembers.nonEmpty) {
          currentRow = assemble()
          pendingMembers.clear()
        }
        if (stem != pendingStem) pendingWanted = stemWanted(stem)
        pendingStem = stem
        val ext = ShardExpand.memberExtension(entry.getName)
        if (!pendingWanted) {
          // pushed-key skip: no member of this sample is buffered
        } else if (wantedExts.contains(ext) ||
            (wantOverflow && !declaredExts.contains(ext))) {
          // A truncated member leaves the stream misaligned — under
          // skip policy drop the incomplete sample and the rest of the
          // shard (same contract as a corrupt header), keeping the rows
          // already emitted; under fail policy propagate.
          try pendingMembers += ((ext, readBytes(entry)))
          catch {
            case e: Exception if skipErrors =>
              logWarning(s"wds-tar: failed reading member ${entry.getName} " +
                s"in $shardPath — dropping sample and rest of shard (${e.getMessage})")
              pendingMembers.clear()
              exhausted = true
            case e: Exception =>
              throw new RuntimeException(
                s"wds-tar: failed reading member ${entry.getName} in $shardPath", e)
          }
        } else {
          pendingMembers += ((ext, null)) // presence marker; bytes skipped
        }
      }
    }
    currentRow != null
  }

  private def nextEntrySafe(): TarArchiveEntry =
    try tar.getNextEntry
    catch {
      case e: Exception if skipErrors =>
        logWarning(s"wds-tar: corrupt shard $shardPath — skipping rest (${e.getMessage})")
        // the in-flight sample sits on a corrupt stream: drop it rather
        // than emit a possibly-partial row. Keeps row membership
        // independent of the projection (with payload columns pruned
        // the truncation would otherwise go unnoticed here and the
        // partial sample would leak through as a key-only row).
        pendingMembers.clear()
        null
      case e: Exception =>
        throw new RuntimeException(s"wds-tar: failed reading $shardPath", e)
    }

  private def readBytes(entry: TarArchiveEntry): Array[Byte] = {
    require(entry.getSize <= Int.MaxValue,
      s"wds-tar: member ${entry.getName} exceeds 2 GiB (${entry.getSize} bytes)")
    val size = entry.getSize.toInt
    val buf = new Array[Byte](size)
    var off = 0
    while (off < size) {
      val n = tar.read(buf, off, size - off)
      if (n < 0) throw new java.io.EOFException(
        s"wds-tar: truncated member ${entry.getName} in $shardPath")
      off += n
    }
    buf
  }

  private def assemble(): InternalRow =
    WdsTarSource.assembleSample(readSchema, declaredExts, pendingStem,
      shardPath, pendingMembers.toSeq)

  override def get(): InternalRow = currentRow

  override def close(): Unit = {
    tar.close()
  }
}

/** Seek-based selective reader: consumes a shard's `.tar.idx` sidecar
  * (see [[WdsTarIndex]]), filters it by the pushed `__key__` predicates,
  * and reads ONLY the matching samples via `seek(offset)` — a shard with
  * zero matches never opens its tar at all. Emits rows in offset (= tar)
  * order, so results are identical to the sequential walk; the stem at
  * every seek target is verified against the index entry, and a
  * mismatch (stale or corrupt sidecar) fails the shard loudly — or,
  * under `errorPolicy=skip`, skips just that sample: unlike the walking
  * reader, a bad region cannot misalign later samples because every
  * sample re-seeks.
  */
class WdsTarIndexedReader(shardPath: String, readSchema: StructType,
    declaredExts: Set[String], conf: Configuration, skipErrors: Boolean,
    keyFilters: Seq[org.apache.spark.sql.sources.Filter])
    extends PartitionReader[InternalRow] with Logging {

  private val path = new Path(shardPath)
  private val fs = path.getFileSystem(conf)

  /** Matching samples as (start offset, end offset, key): a sample's
    * extent runs to the NEXT index entry (or EOF), so reads are bounded
    * to the sample's own region — the reader never probes a
    * neighboring sample's header, and a corrupt neighbor cannot fail a
    * healthy sample.
    */
  private val matches: Seq[(Long, Long, String)] = {
    val idx = new Path(WdsTarIndex.indexPath(shardPath))
    val len = fs.getFileStatus(idx).getLen
    require(len <= 64L * 1024 * 1024, s"wds-tar index too large: $len bytes")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(idx)
    try in.readFully(0, buf) finally in.close()
    val entries = WdsTarIndex.parse(buf)
    if (entries.isEmpty) Nil
    else {
      val shardLen = fs.getFileStatus(path).getLen
      val ends = entries.drop(1).map(_._1) :+ shardLen
      entries.zip(ends)
        .map { case ((off, key), end) => (off, end, key) }
        .filter { case (_, _, key) => keyFilters.forall(ShardFilters.eval(_, key)) }
    }
  }

  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private val it = matches.iterator
  private var currentRow: InternalRow = _

  override def next(): Boolean = {
    currentRow = null
    while (currentRow == null && it.hasNext) {
      val (off, end, key) = it.next()
      try {
        if (in == null) in = fs.open(path) // zero matches: never opened
        in.seek(off)
        // bound the tar stream to the sample's region: end-of-sample is
        // the region's EOF, never a peek at the next sample's header
        val tar = new TarArchiveInputStream(
          new org.apache.commons.compress.utils.BoundedInputStream(
            new NonSeekableView(in), end - off))
        val members = mutable.ArrayBuffer[(String, Array[Byte])]()
        var entry = tar.getNextEntry
        require(entry != null && ShardExpand.sampleKey(entry.getName) == key,
          s"wds-tar index: offset $off of $shardPath does not start sample " +
            s"'$key' (found ${if (entry == null) "end of archive" else entry.getName})")
        while (entry != null) {
          require(ShardExpand.sampleKey(entry.getName) == key,
            s"wds-tar index: region of '$key' at $off contains foreign member " +
              s"${entry.getName}")
          if (entry.isFile) {
            val ext = ShardExpand.memberExtension(entry.getName)
            val wanted = readSchema.fieldNames.contains(ext) ||
              (readSchema.fieldNames.contains(WdsTarSource.OverflowCol) &&
                !declaredExts.contains(ext))
            members += ((ext, if (wanted) readBytes(tar, entry) else null))
          }
          entry = tar.getNextEntry
        }
        currentRow = WdsTarSource.assembleSample(readSchema, declaredExts,
          key, shardPath, members.toSeq)
      } catch {
        case e: Exception if skipErrors =>
          logWarning(s"wds-tar: indexed read of sample '$key' at $off in " +
            s"$shardPath failed — skipping sample (${e.getMessage})")
        case e: Exception =>
          throw new RuntimeException(
            s"wds-tar: indexed read of sample '$key' at $off in $shardPath failed", e)
      }
    }
    currentRow != null
  }

  /** Shields the shared FSDataInputStream from wrapper close() calls so
    * one open stream serves every seek.
    */
  private final class NonSeekableView(inner: java.io.InputStream)
      extends java.io.FilterInputStream(inner) {
    override def close(): Unit = () // owner closes `in`
  }

  private def readBytes(tar: TarArchiveInputStream, entry: TarArchiveEntry): Array[Byte] = {
    require(entry.getSize <= Int.MaxValue,
      s"wds-tar: member ${entry.getName} exceeds 2 GiB (${entry.getSize} bytes)")
    val size = entry.getSize.toInt
    val buf = new Array[Byte](size)
    var o = 0
    while (o < size) {
      val n = tar.read(buf, o, size - o)
      if (n < 0) throw new java.io.EOFException(
        s"wds-tar: truncated member ${entry.getName} in $shardPath")
      o += n
    }
    buf
  }

  override def get(): InternalRow = currentRow

  override def close(): Unit = if (in != null) { in.close(); in = null }
}
