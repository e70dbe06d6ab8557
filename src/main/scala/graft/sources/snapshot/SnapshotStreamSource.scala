package graft.sources.snapshot

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** "graft-snapshot" streaming source: a [[SnapshotLog]] table AS a
  * stream — the Delta-style "table is also a change feed" capability.
  *
  * {{{
  * spark.readStream.format("graft-snapshot").option("table", path).load()
  * }}}
  *
  * Options: `startingVersion` (offset to resume past) or
  * `startingTimestamp` (epoch millis or 'yyyy-MM-dd[ HH:mm:ss]' UTC —
  * serve versions committed after the instant; mutually exclusive),
  * `maxVersionsPerTrigger` (bounded catch-up batches), `columns` (the
  * declared projection — see below). `Trigger.AvailableNow` is
  * supported: the drain target pins at query start and the stream
  * self-terminates when it reaches it. The WRITE half is the V1 sink
  * hook on this same provider ([[SnapshotSink]]):
  * `df.writeStream.format("graft-snapshot")`.
  *
  * Offsets are manifest VERSIONS: a micro-batch (start, end] is exactly
  * the data files present in `end`'s manifest but not `start`'s, so each
  * committed version is consumed once and only once, the checkpoint is a
  * single version number, and a restart resumes from the committed
  * version with no rescans. The covered range must be append-only
  * (append / stream-append / evolve-schema / rename-column, plus a
  * metadata-only drop-column of a column the stream does not select —
  * era alignment: later batches serve the surviving schema the stream
  * projects anyway, and only a stream that actually SELECTED the
  * dropped column refuses); a delete, upsert, compact, or restore
  * inside the range fails the stream loudly — a file-diff over rewrites
  * would double-count, and the downstream there is a fresh full read
  * (same contract as [[SnapshotLog.readChanges]]).
  *
  * Scale: planning never lists the data directory (one small manifest
  * read per version) and each new file becomes one InputPartition — a
  * 100 TB table streaming a daily increment plans in milliseconds and
  * reads only the increment. Column pruning reaches the parquet reader
  * (the requested projection is pushed to the page level), and files
  * predating an [[SnapshotLog.evolveSchema]] serve added columns as
  * NULL, exactly like the batch read.
  *
  * The per-file reader decodes flat primitive schemas (long/int/double/
  * float/boolean/string/binary/date) plus arrays, structs, and
  * scalar-keyed maps of them nested to any depth (the typed-metadata
  * shapes riding beside multimodal payloads — struct-of-struct,
  * array<struct>, map<string,...>); other types are refused at stream
  * construction, not mid-query.
  *
  * Streaming a BRANCH fork (`_branches/<name>`) defaults its start
  * past the fork-base marker, so a write-audit-publish stream carries
  * the branch's own additions, never a replay of the parent's file
  * list; a rebase inside the streamed range fails loudly and a fresh
  * stream resumes past the new marker.
  */
class SnapshotTableProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-snapshot"

  /** The SINK face (`df.writeStream.format("graft-snapshot")`): Spark
    * falls back to this V1 hook because the V2 table advertises no
    * STREAMING_WRITE — deliberate, since the V1 contract hands each
    * micro-batch over as a DataFrame, which is exactly what the
    * exactly-once manifest-commit machinery consumes (stats, schema
    * alignment, constraints, layouts all ride the batch write path).
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val table = SnapshotStreamSource.tableOf(opts)
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot sink is append-only (got $outputMode) — keyed " +
        "update/complete shapes belong to foreachBatch + " +
        "SnapshotLog.upsertMORBatch/applyChanges")
    require(partitionColumns.isEmpty,
      "graft-snapshot sink takes no partitionBy — clustering is " +
        "declared on the TABLE (ALTER TABLE ... CLUSTER BY) and " +
        "appends conform to it")
    val statsCols = Option(opts.get("statscols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    new SnapshotSink(table, statsCols)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val table = SnapshotStreamSource.tableOf(options)
    val spark = SparkSession.active
    val v = SnapshotLog.latestVersion(spark, table).getOrElse(
      // a SINK may target a not-yet-committed table (its first
      // micro-batch creates it) and Spark resolves the table before
      // the sink fallback; the READ path refuses the empty schema
      // loudly at newScanBuilder
      return new StructType())
    val full = StructType.fromDDL(SnapshotLog.manifest(spark, table, v).schemaDdl)
    // `columns` = the stream's DECLARED projection. Spark does not push
    // a streaming query's projection into a v2 micro-batch source, so
    // without it every batch decodes every column; with it the per-file
    // reader decodes only these (real column pruning for streams), and
    // a later metadata-only DROP COLUMN of an undeclared column streams
    // through without restart (planInputPartitions narrows its refusal
    // to columns the stream actually reads).
    Option(options.get("columns")) match {
      case None => full
      case Some(cs) =>
        val want = cs.split(",").map(_.trim).filter(_.nonEmpty)
        val missing = want.filterNot(full.fieldNames.contains)
        require(missing.isEmpty,
          s"graft-snapshot: columns ${missing.toSeq.sorted.mkString(", ")} " +
            s"not in table schema ${full.fieldNames.toSeq}")
        StructType(full.fields.filter(f => want.contains(f.name)))
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotStreamTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

object SnapshotStreamSource {
  private[snapshot] def tableOf(options: CaseInsensitiveStringMap): String = {
    val t = Option(options.get("table")).orElse(Option(options.get("path")))
    require(t.isDefined, "graft-snapshot requires the 'table' (or 'path') option")
    t.get
  }

  private[snapshot] val SupportedTypes: Set[DataType] = Set(
    LongType, IntegerType, DoubleType, FloatType, BooleanType,
    StringType, BinaryType, DateType)

  private[snapshot] def supported(dt: DataType): Boolean = dt match {
    // fully recursive nesting: arrays of anything supported (embeddings,
    // array<struct> annotations, array<array> frames), structs of
    // anything supported at ANY depth — multimodal metadata is routinely
    // struct-of-struct two deep, and the reader decodes it recursively;
    // maps (multimodal metadata's native map<string,...> shape) carry
    // scalar keys (parquet requires keys non-null; scalar is the shape
    // Spark writes) and any supported value type
    case ArrayType(et, _) => supported(et)
    case StructType(fields) =>
      fields.nonEmpty && fields.forall(f => supported(f.dataType))
    case MapType(kt, vt, _) => SupportedTypes.contains(kt) && supported(vt)
    case other => SupportedTypes.contains(other)
  }

  import org.apache.spark.sql.sources._

  private def scalarOk(v: Any): Boolean = v match {
    case _: Number | _: String => true
    case _ => false
  }

  /** Filters the manifest stats can act on: range/equality over a
    * scalar. Everything else streams unpruned (and is re-applied by
    * Spark anyway — all pushdown here is advisory).
    */
  private[snapshot] def prunable(f: Filter): Boolean = f match {
    case EqualTo(_, v) => scalarOk(v)
    case GreaterThan(_, v) => scalarOk(v)
    case GreaterThanOrEqual(_, v) => scalarOk(v)
    case LessThan(_, v) => scalarOk(v)
    case LessThanOrEqual(_, v) => scalarOk(v)
    case IsNull(_) | IsNotNull(_) => true // answered by null counts
    case In(_, vs) => vs != null && vs.nonEmpty && vs.forall(scalarOk)
    case _ => false
  }

  /** [[SnapshotLog.cmp]]'s order (UTF-8 byte order for strings, the order
    * the stats were made in); None on a type mismatch, which never prunes.
    */
  private def cmpAny(a: Any, b: Any): Option[Int] = (a, b) match {
    case (_: Number, _: Number) | (_: String, _: String) => Some(SnapshotLog.cmp(a, b))
    case _ => None
  }

  /** Could this file hold a matching row? Range predicates test the
    * per-column [min,max] (which describe only non-null values);
    * IS [NOT] NULL tests the per-column null count against 0 / the
    * file's row count. Missing stats (all-null file, undeclared
    * column), unknown null counts, and incomparable types answer
    * TRUE — unknown never prunes.
    */
  /** The write-side Bloom hashed the column's SPARK string cast, so a
    * probe may consult it only when its own string rendering provably
    * matches — same runtime class as the (widened) stats values, whose
    * Java toString IS that rendering for long/double/string. A
    * cross-typed probe (Integer vs a long column, Long vs a double
    * column — "5" vs "5.0") skips the Bloom tier and keeps the range
    * verdict: a skipped tier only costs an open, a mis-rendered probe
    * would silently LOSE rows.
    */
  private def bloomComparable(statsMin: Any, v: Any): Boolean =
    (statsMin, v) match {
      case (_: java.lang.Long, _: java.lang.Long) => true
      case (_: java.lang.Double, _: java.lang.Double) => true
      case (_: String, _: String) => true
      case _ => false
    }

  /** Point membership test for one (column, value): inside the
    * [min,max] window AND admitted by the per-file Bloom when one was
    * written and the probe's rendering is trustworthy
    * ([[bloomComparable]]) — the readPoint two-tier skip, available to
    * EqualTo / In pruning. One-sided: a Bloom miss proves absence; a
    * hit may still be a false positive (wasted open, never a lost row).
    */
  private def mayHold(file: SnapshotLog.FileEntry, c: String, v: Any): Boolean =
    file.stats.get(c).forall { case (mn, mx) =>
      cmpAny(mn, v).forall(_ <= 0) && cmpAny(mx, v).forall(_ >= 0) } &&
      (file.stats.get(c) match {
        case Some((mn, _)) if bloomComparable(mn, v) =>
          file.blooms.get(c).forall(b64 => SnapshotLog.bloomMightContain(
            SnapshotLog.bloomDecode(b64), String.valueOf(v)))
        case _ => true // no stats or cross-typed probe: range verdict stands
      })

  private[snapshot] def mightMatch(file: SnapshotLog.FileEntry,
      f: Filter): Boolean = {
    val stats = file.stats
    f match {
      case EqualTo(c, v) => mayHold(file, c, v)
      case In(c, vs) => vs.exists(v => mayHold(file, c, v))
      case GreaterThan(c, v) => stats.get(c).forall { case (_, mx) =>
        cmpAny(mx, v).forall(_ > 0) }
      case GreaterThanOrEqual(c, v) => stats.get(c).forall { case (_, mx) =>
        cmpAny(mx, v).forall(_ >= 0) }
      case LessThan(c, v) => stats.get(c).forall { case (mn, _) =>
        cmpAny(mn, v).forall(_ < 0) }
      case LessThanOrEqual(c, v) => stats.get(c).forall { case (mn, _) =>
        cmpAny(mn, v).forall(_ <= 0) }
      case IsNull(c) => file.nulls.get(c).forall(_ > 0)
      case IsNotNull(c) => file.nulls.get(c).forall(_ < file.rows)
      case _ => true
    }
  }

  private[snapshot] def validate(schema: StructType): Unit =
    schema.fields.foreach(f => require(supported(f.dataType),
      s"graft-snapshot streaming supports primitive columns " +
        s"(long/int/double/float/boolean/string/binary/date) plus " +
        s"arrays, structs, and scalar-keyed maps of them nested to any " +
        s"depth; '${f.name}' is ${f.dataType.sql} — read it in batch " +
        s"via SnapshotLog.read"))
}

class SnapshotStreamTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"graft-snapshot(${SnapshotStreamSource.tableOf(options)})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // an empty schema means inferSchema found no committed version —
    // tolerated there for the SINK face, refused here where a READ is
    // actually being planned
    require(tableSchema.fields.nonEmpty,
      "graft-snapshot: no committed version in " +
        SnapshotStreamSource.tableOf(options))
    new SnapshotScanBuilder(tableSchema, options)
  }
}

class SnapshotScanBuilder(fullSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep declared field order regardless of projection order
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** Range/equality predicates are recorded for manifest-stats FILE
    * pruning inside each micro-batch (the streaming face of
    * [[SnapshotLog.readPruned]]); ALL filters return as residual so
    * Spark re-applies them — pruning is advisory, correctness never
    * depends on it (a file with no stats for the column always
    * survives).
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(SnapshotStreamSource.prunable)
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = new SnapshotScan(required, options, pushed)
}

class SnapshotScan(requiredSchema: StructType,
    options: CaseInsensitiveStringMap,
    pushed: Array[org.apache.spark.sql.sources.Filter]) extends Scan {
  override def readSchema(): StructType = requiredSchema
  override def description(): String = "graft-snapshot scan"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    SnapshotStreamSource.validate(requiredSchema)
    new SnapshotMicroBatchStream(requiredSchema, options, pushed)
  }
}

class SnapshotMicroBatchStream(requiredSchema: StructType,
    options: CaseInsensitiveStringMap,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  /** Trigger.AvailableNow: pin the catch-up TARGET at query start —
    * the stream drains everything committed up to this version (in
    * maxVersionsPerTrigger-bounded batches if set) and then STOPS,
    * ignoring versions that land while it drains. The batch-style
    * "process today's backlog and exit" face of the source.
    */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(committedLatest)

  private val table = SnapshotStreamSource.tableOf(options)

  /** Stream start. Explicit `startingVersion` wins. The default is 0
    * (consume everything) — EXCEPT on a branch fork, where v1 is a
    * `branch:<v>` marker snapshotting the parent's whole file list:
    * streaming a write-audit-publish branch means auditing THE
    * BRANCH'S OWN ADDITIONS, so the default start resolves past the
    * newest fork-base marker and the first batch is the first
    * branch-local append — never a surprise full-table replay of the
    * 100 TB parent through a marker version whose op would otherwise
    * fail the append-only check. Pass `startingVersion=0` explicitly
    * to stream the fork base too (the marker version itself is then
    * treated as the initial snapshot, like any start offset).
    */
  private val startVersion: Long = {
    val sv = options.getLong("startingVersion", -1L)
    val st = Option(options.get("startingTimestamp"))
    require(sv < 0 || st.isEmpty,
      "graft-snapshot: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    if (sv >= 0) sv
    else st match {
      case Some(raw) =>
        // the Delta startingTimestamp role: serve every version
        // committed AT OR AFTER the instant (inclusive — Delta's
        // contract). The offset is "last consumed version", so it
        // resolves to the newest version STRICTLY BEFORE the instant
        // (versionAt(millis - 1); a commit stamped exactly at the
        // instant is served, never skipped; nothing existed yet → 0 =
        // everything). Accepts epoch millis or
        // 'yyyy-MM-dd[ HH:mm:ss[.fff]]' (UTC — the engine's pinned
        // session timezone).
        val t = raw.trim
        val millis =
          try t.toLong
          catch {
            case _: NumberFormatException =>
              val norm =
                if (t.length == 10) t + "T00:00:00" else t.replace(' ', 'T')
              try java.time.LocalDateTime.parse(norm)
                .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              catch {
                case e: java.time.format.DateTimeParseException =>
                  throw new IllegalArgumentException(
                    s"cannot parse startingTimestamp '$t' — expected " +
                      "'yyyy-MM-dd[ HH:mm:ss[.fff]]' (UTC) or epoch " +
                      "millis", e)
              }
          }
        SnapshotLog.versionAt(SparkSession.active, table, millis - 1)
          .getOrElse(0L)
      case None if SnapshotLog.isBranchPath(table) =>
        SnapshotLog.forkMarkerVersion(SparkSession.active, table)
          .getOrElse(0L)
      case None => 0L
    }
  }

  /** Backlog admission control: cap how many committed VERSIONS one
    * micro-batch may cover (the Delta `maxFilesPerTrigger` role). A
    * stream restarted against a long-idle 100 TB table then catches up
    * in bounded batches instead of one giant first batch that spills or
    * blows past executor memory.
    */
  private val maxVersionsPerTrigger: Option[Int] = {
    val v = options.getInt("maxVersionsPerTrigger", 0)
    require(v >= 0, s"maxVersionsPerTrigger must be positive, got $v")
    if (v == 0) None else Some(v)
  }

  private def spark = SparkSession.active

  /** Physical-name mapping captured ONCE, at stream construction — the
    * same name era as `requiredSchema`'s logical names. Physical names
    * never change, so this one mapping serves every batch even when a
    * `rename-column` lands INSIDE the streamed range: that manifest
    * keys its map by the NEW logical names, and resolving it per batch
    * with construction-era names would miss — the reader would request
    * a column no file carries and silently null-fill. If the latest
    * manifest's logical schema doesn't cover the stream's names (a
    * rename raced stream start between schema inference and here),
    * walk back to the manifest era the names came from.
    */
  private val physByStreamName: Map[String, String] = {
    val needed = requiredSchema.fieldNames.toSet
    var v = SnapshotLog.latestVersion(spark, table).getOrElse(0L)
    var out: Option[Map[String, String]] = None
    while (v >= 1 && out.isEmpty) {
      val m =
        try Some(SnapshotLog.manifest(spark, table, v))
        catch { case _: java.io.FileNotFoundException => None } // expired
      m match {
        case None => v = 0 // expired prefix: no older era to find
        case Some(mm) =>
          val logical = StructType.fromDDL(mm.schemaDdl).fieldNames.toSet
          if (needed.subsetOf(logical)) out = Some(mm.physical)
          else v -= 1
      }
    }
    out.getOrElse(Map.empty)
  }

  private def committedLatest: Long =
    math.max(SnapshotLog.latestVersion(spark, table).getOrElse(0L), startVersion)

  override def initialOffset(): Offset = SnapshotOffset(startVersion)

  override def latestOffset(): Offset = SnapshotOffset(committedLatest)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxFiles(_): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[SnapshotOffset].version
    // under Trigger.AvailableNow the drain target was pinned at query
    // start; otherwise chase the live head
    val head = availableNowCap
      .map(cap => math.min(cap, committedLatest))
      .getOrElse(committedLatest)
    val capped = limit match {
      case mf: ReadMaxFiles => math.min(head, s0 + mf.maxFiles())
      case _ => head
    }
    SnapshotOffset(math.max(capped, s0))
  }

  override def deserializeOffset(json: String): Offset = SnapshotOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[SnapshotOffset].version
    val e0 = end.asInstanceOf[SnapshotOffset].version
    if (e0 <= s0) return Array.empty
    // file-diff batches are exact only over append-shaped history —
    // same loud refusal as readChanges (evolve-schema adds no files and
    // composes; a rewrite means "re-read the snapshot downstream")
    ((s0 + 1) to e0).foreach { v =>
      val op = SnapshotLog.manifest(spark, table, v).op
      // a branch's CREATION marker (always v1) is append-shaped from
      // empty — the fork-base snapshot adds files and removes none; a
      // rebase marker (v>1) re-points shared history at main's current
      // file list (which a main compact may have rewritten wholesale),
      // so a file-diff across it can double-count — refuse loudly
      if (op.startsWith("branch:"))
        require(v == 1,
          s"graft-snapshot stream: version $v is '$op' — the branch was " +
            "rebased mid-stream, re-pointing shared history; restart the " +
            "stream (its default start resumes past the new fork marker)")
      // rename-column composes like evolve-schema: it adds/removes no
      // files, and the reader's name mapping rides the rename-stable
      // PHYSICAL namespace, so a file-diff across it stays exact
      else if (op == "drop-column") {
        // a metadata-only drop moves no files, so the file-diff stays
        // exact — the stream continues WITHOUT restart as long as it
        // never selected the dropped column (era alignment: batches
        // after the drop serve the surviving schema, which is what the
        // stream projects anyway). A stream that DID select it refuses,
        // narrowed to actual use.
        val droppedHere = StructType.fromDDL(
          SnapshotLog.manifest(spark, table, v - 1).schemaDdl)
          .fieldNames.toSet --
          StructType.fromDDL(
            SnapshotLog.manifest(spark, table, v).schemaDdl).fieldNames
        val used = droppedHere intersect requiredSchema.fieldNames.toSet
        require(used.isEmpty,
          s"graft-snapshot stream: version $v dropped column(s) " +
            s"${used.toSeq.sorted.mkString(", ")} this stream selects — " +
            "restart the stream against the current schema")
      }
      else require(op == "append" || op == "stream-append" ||
          op == "evolve-schema" || op == "rename-column",
        s"graft-snapshot stream: version $v is '$op' — streaming requires " +
          "append-only history past the starting offset; restart the " +
          "stream from a fresh full read instead")
    }
    val target = SnapshotLog.manifest(spark, table, e0)
    val basePaths =
      if (s0 == 0) Set.empty[String]
      else SnapshotLog.manifest(spark, table, s0).files.map(_.path).toSet
    target.files.filterNot(f => basePaths(f.path))
      // manifest-stats file pruning per batch (streaming readPruned):
      // a file whose [min,max] provably excludes every pushed predicate
      // never becomes a partition; unknown stats never prune, and Spark
      // re-applies every filter as residual
      .filter(f => pushed.forall(p => SnapshotStreamSource.mightMatch(f, p)))
      .map(f => SnapshotInputPartition(
        SnapshotLog.resolveRel(new Path(table), f.path).toString): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // files carry PHYSICAL column names (column mapping): hand the
    // reader the required schema under physical names — decode is
    // positional, so rows come back in logical order regardless. The
    // mapping is [[physByStreamName]], captured at stream construction
    // in the SAME name era as requiredSchema — renames landing inside
    // the streamed range (allowed: they move no files) re-key later
    // manifests' maps but never invalidate construction-era logical →
    // physical, because physical names are fixed for life.
    val phys = physByStreamName
    val readerSchema =
      if (phys.isEmpty) requiredSchema
      else StructType(requiredSchema.fields.map(f =>
        phys.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
    SnapshotReaderFactory(readerSchema, spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf())))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = highest consumed version. One-line JSON (Spark's
  * OffsetSeqLog is line-oriented — see the wds-tar offset's note).
  */
case class SnapshotOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object SnapshotOffset {
  private val JsonForm = """\{"version":(\d+)\}""".r
  def parse(json: String): SnapshotOffset = json.trim match {
    case JsonForm(v) => SnapshotOffset(v.toLong)
    case other => SnapshotOffset(other.trim.toLong)
  }
}

case class SnapshotInputPartition(file: String) extends InputPartition

/** Per-task reader factory; the Hadoop conf rides in one broadcast per
  * micro-batch scan rather than inline in every task.
  */
case class SnapshotReaderFactory(schema: StructType,
    confBc: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SnapshotPartitionReader(
      p.asInstanceOf[SnapshotInputPartition].file, schema, confBc.value.value)
}

/** Row-group reader for one immutable snapshot data file. The requested
  * projection (required columns ∩ columns the file actually has) is
  * pushed to parquet-level column selection, so pruned columns are never
  * decoded; required columns the file lacks — added by a later
  * evolveSchema — fill with NULL, matching the batch read's
  * explicit-schema semantics. An empty intersection (count(*)-style
  * pruning, or a file predating every requested column) short-circuits
  * to emitting footer-counted empty rows without decoding anything.
  */
class SnapshotPartitionReader(file: String, schema: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {
  import org.apache.parquet.HadoopReadOptions
  import org.apache.parquet.conf.HadoopParquetConfiguration
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.schema.MessageType

  private val path = new Path(file)

  /** Options over the passed conf: parquet-hadoop's defaults build a fresh
    * `Configuration`, re-parsing Hadoop's default resources per file.
    */
  private[graft] val readOptions = HadoopReadOptions.builder(conf, path).build()

  private val (fileSchema, footerRows) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf), readOptions)
    try (r.getFooter.getFileMetaData.getSchema,
      r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
    finally r.close()
  }

  // columns to decode: required ∩ present, with the FILE's type nodes
  private val present = schema.fields.filter(f => fileSchema.containsField(f.name))
  private def fileTypeOf(name: String) =
    fileSchema.getType(fileSchema.getFieldIndex(name))
  present.foreach { f =>
    val t = fileTypeOf(f.name)
    f.dataType match {
      case _: ArrayType => require(!t.isPrimitive,
        s"graft-snapshot: column '${f.name}' in $file is not list-encoded")
      case _: StructType => require(!t.isPrimitive,
        s"graft-snapshot: column '${f.name}' in $file is not group-encoded")
      case _: MapType => require(!t.isPrimitive,
        s"graft-snapshot: column '${f.name}' in $file is not map-encoded")
      case _ => require(t.isPrimitive && !t.isRepetition(
          org.apache.parquet.schema.Type.Repetition.REPEATED),
        s"graft-snapshot: column '${f.name}' in $file is not a flat primitive")
    }
  }

  private val reader: ParquetReader[Group] =
    if (present.isEmpty) null
    else {
      val requested = new MessageType(fileSchema.getName,
        present.map(f => fileTypeOf(f.name)): _*)
      val c = new Configuration(conf)
      c.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        requested.toString)
      // built from an InputFile: the Path builder starts from a fresh conf
      new ParquetReader.Builder[Group](HadoopInputFile.fromPath(path, c),
          new HadoopParquetConfiguration(c)) {
        override protected def getReadSupport() = new GroupReadSupport()
      }.build()
    }

  // position of each required column inside the requested group (-1 = null)
  private val groupIdx: Array[Int] = {
    val byName = present.map(_.name).zipWithIndex.toMap
    schema.fields.map(f => byName.getOrElse(f.name, -1))
  }

  private var cur: Group = _
  private var emptyRowsLeft: Long = if (present.isEmpty) footerRows else 0L

  override def next(): Boolean =
    if (reader == null) {
      emptyRowsLeft -= 1; emptyRowsLeft >= 0
    } else { cur = reader.read(); cur != null }

  /** Boxed decode of one defined scalar at (group, fieldIdx) — shared by
    * list elements and struct fields.
    */
  private def leaf(g: Group, fi: Int, dt: DataType): Any = dt match {
    case FloatType => g.getFloat(fi, 0)
    case DoubleType => g.getDouble(fi, 0)
    case LongType => g.getLong(fi, 0)
    case IntegerType => g.getInteger(fi, 0)
    case BooleanType => g.getBoolean(fi, 0)
    case StringType => UTF8String.fromBytes(g.getBinary(fi, 0).getBytes)
    case BinaryType => g.getBinary(fi, 0).getBytes
    case DateType => g.getInteger(fi, 0)
    case o => throw new IllegalStateException(s"unreachable leaf type $o")
  }

  /** Spark's 3-level list encoding: field -> repeated "list" group ->
    * optional "element". Elements recurse: scalars via [[leaf]], struct
    * elements via [[decodeStruct]], nested lists via this method.
    */
  private def decodeList(lg: Group, et: DataType): Any = {
    val n = lg.getFieldRepetitionCount(0)
    val arr = new Array[Any](n)
    var j = 0
    while (j < n) {
      val el = lg.getGroup(0, j)
      arr(j) =
        if (el.getFieldRepetitionCount(0) == 0) null
        else et match {
          case st: StructType => decodeStruct(el.getGroup(0, 0), st)
          case ArrayType(et2, _) => decodeList(el.getGroup(0, 0), et2)
          case MapType(kt, vt, _) => decodeMap(el.getGroup(0, 0), kt, vt)
          case _ => leaf(el, 0, et)
        }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** Parquet MAP encoding: field -> repeated "key_value" group with a
    * required key (position 0) and an optional value (position 1).
    * Positional access covers both the modern `key_value` and legacy
    * `map` group names. Values recurse like list elements; keys are
    * scalar by [[SnapshotStreamSource.supported]].
    */
  private def decodeMap(mg: Group, kt: DataType, vt: DataType): Any = {
    val n = mg.getFieldRepetitionCount(0)
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var j = 0
    while (j < n) {
      val kv = mg.getGroup(0, j)
      keys(j) = leaf(kv, 0, kt)
      vals(j) =
        if (kv.getType.getFieldCount < 2 || kv.getFieldRepetitionCount(1) == 0) null
        else vt match {
          case st: StructType => decodeStruct(kv.getGroup(1, 0), st)
          case ArrayType(et2, _) => decodeList(kv.getGroup(1, 0), et2)
          case MapType(k2, v2, _) => decodeMap(kv.getGroup(1, 0), k2, v2)
          case _ => leaf(kv, 1, vt)
        }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }

  /** Struct column: a plain group whose fields are optional scalars,
    * 3-level lists, or NESTED structs (recursion to any depth — the
    * multimodal-metadata shape). Fields are matched by NAME against the
    * file's group (order-independent); an undefined field stays null.
    */
  private def decodeStruct(sg: Group, st: StructType): InternalRow = {
    val out = new GenericInternalRow(st.length)
    val gt = sg.getType
    var k = 0
    while (k < st.length) {
      val f = st.fields(k)
      // a field the file's group never had (out-of-band writer, future
      // struct-member evolution) null-fills like every other absent
      // column in this reader
      if (gt.containsField(f.name)) {
        val fi = gt.getFieldIndex(f.name)
        if (sg.getFieldRepetitionCount(fi) > 0) {
          f.dataType match {
            case ArrayType(et, _) => out.update(k, decodeList(sg.getGroup(fi, 0), et))
            case nested: StructType =>
              out.update(k, decodeStruct(sg.getGroup(fi, 0), nested))
            case MapType(kt, vt, _) =>
              out.update(k, decodeMap(sg.getGroup(fi, 0), kt, vt))
            case dt => out.update(k, leaf(sg, fi, dt))
          }
        }
      }
      k += 1
    }
    out
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val gi = groupIdx(i)
      if (gi >= 0 && cur.getFieldRepetitionCount(gi) > 0) {
        schema.fields(i).dataType match {
          case LongType => row.setLong(i, cur.getLong(gi, 0))
          case IntegerType => row.setInt(i, cur.getInteger(gi, 0))
          case DoubleType => row.setDouble(i, cur.getDouble(gi, 0))
          case FloatType => row.setFloat(i, cur.getFloat(gi, 0))
          case BooleanType => row.setBoolean(i, cur.getBoolean(gi, 0))
          case StringType =>
            row.update(i, UTF8String.fromBytes(cur.getBinary(gi, 0).getBytes))
          case BinaryType => row.update(i, cur.getBinary(gi, 0).getBytes)
          case DateType => row.setInt(i, cur.getInteger(gi, 0))
          case ArrayType(et, _) => row.update(i, decodeList(cur.getGroup(gi, 0), et))
          case st: StructType => row.update(i, decodeStruct(cur.getGroup(gi, 0), st))
          case MapType(kt, vt, _) =>
            row.update(i, decodeMap(cur.getGroup(gi, 0), kt, vt))
          case other => throw new IllegalStateException(
            s"unreachable: $other passed validation")
        }
      } // else stays null
      i += 1
    }
    row
  }

  override def close(): Unit = if (reader != null) reader.close()
}
