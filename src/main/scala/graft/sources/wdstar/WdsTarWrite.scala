package graft.sources.wdstar

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Batch write path for the wds-tar source: each partition writes one
  * `shard-<partition>-<task>.tar` under the `path` option; members are
  * named `<__key__>.<ext>` per non-null extension column. The reference
  * has no sink at all (SURVEY.md §2.1 S9) — this closes the loop so a
  * pipeline can be tar→transform→tar.
  *
  * Meta-shard output: with `metaSuffixes` set (comma list), columns
  * named `<ext>_<suffix>` write to a SIBLING `<path>_<suffix>` dir in a
  * shard with the SAME basename and unsuffixed member stems — the
  * reference layout `ShardListing.resolveMetaShards` discovers and the
  * zip meta join consumes. Main and meta shards are written in ONE
  * pass over the partition, so sample order is aligned by construction:
  * the sink produces exactly the layout `metaJoin=zip` reads back with
  * zero shuffle.
  *
  * Commit protocol: writers emit `.inprogress` files and rename on task
  * commit (all of a task's shards — main and meta — rename together),
  * so a failed/speculative task never leaves a partial shard visible;
  * job commit is a no-op, abort best-effort deletes.
  *
  * Scale: shard sizing follows upstream partitioning — repartition to
  * control shard count/size; writes are embarrassingly parallel, no
  * shuffle, no driver involvement beyond listing.
  *
  * Usage note: like all DataSource V2 tables, writes require an
  * explicit `mode("append")` or `mode("overwrite")` — Spark rejects the
  * default ErrorIfExists mode for V2 sources.
  */
class WdsTarWriteBuilder(schema: StructType, options: java.util.Map[String, String])
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  private def metaSuffixes: Seq[String] = {
    val raw = options.get("metaSuffixes")
    if (raw == null || raw.trim.isEmpty) Nil
    else raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  // `index=true`: write a `<shard>.tar.idx` offset sidecar per main
  // shard (see WdsTarIndex). Opt-in so default layouts stay pure tars.
  private def writeIndex: Boolean =
    "true".equalsIgnoreCase(options.getOrDefault("index", "false"))

  // shard-rolling limits (the reference ShardWriter's maxcount/maxsize,
  // sdata's wds writer contract): a task whose partition exceeds either
  // bound rolls to `<shard>-c0001.tar`, `-c0002.tar`, ... instead of
  // producing one oversized shard. Default: no rolling (shard sizing
  // follows upstream partitioning, names unchanged).
  private def maxSamples: Long = {
    val raw = options.get("maxSamplesPerShard")
    if (raw == null) Long.MaxValue
    else { val v = raw.toLong; require(v >= 1, s"maxSamplesPerShard $v < 1"); v }
  }
  private def maxBytes: Long = {
    val raw = options.get("maxShardBytes")
    if (raw == null) Long.MaxValue
    else { val v = raw.toLong; require(v >= 1, s"maxShardBytes $v < 1"); v }
  }

  override def build(): Write = new Write {
    private def prepared: (String, Broadcast[SerializableConfiguration]) = {
      val dir = options.get("path")
      require(dir != null, "wds-tar write requires the 'path' option")
      val confBc = WdsTarSource.broadcastConf()
      if (doTruncate) {
        (dir +: metaSuffixes.map(graft.sources.ShardListing.metaDir(dir, _)))
          .foreach { d =>
            val p = new Path(d)
            val fs = p.getFileSystem(confBc.value.value)
            if (fs.exists(p)) {
              fs.listStatus(p).filter { st =>
                val n = st.getPath.getName
                n.endsWith(".tar") || n.endsWith(".tar.idx")
              }.foreach(st => fs.delete(st.getPath, false))
            }
          }
      }
      (dir, confBc)
    }

    override def toBatch: BatchWrite = {
      val (dir, confBc) = prepared
      new WdsTarBatchWrite(dir, schema, confBc, metaSuffixes, writeIndex,
        maxSamples, maxBytes)
    }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val (dir, confBc) = prepared
      new WdsTarStreamingWrite(dir, schema, confBc, metaSuffixes, writeIndex,
        maxSamples, maxBytes)
    }
  }
}

class WdsTarBatchWrite(dir: String, schema: StructType,
    confBc: Broadcast[SerializableConfiguration], metaSuffixes: Seq[String] = Nil,
    writeIndex: Boolean = false, maxSamples: Long = Long.MaxValue,
    maxBytes: Long = Long.MaxValue)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    WdsTarWriterFactory(dir, schema, confBc, metaSuffixes, writeIndex,
      maxSamples, maxBytes)

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Per-task writer factory; the Hadoop conf rides in the write's one
  * broadcast (see [[WdsTarReaderFactory]]).
  */
case class WdsTarWriterFactory(dir: String, schema: StructType,
    confBc: Broadcast[SerializableConfiguration], metaSuffixes: Seq[String] = Nil,
    writeIndex: Boolean = false, maxSamples: Long = Long.MaxValue,
    maxBytes: Long = Long.MaxValue)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WdsTarDataWriter(dir, schema, confBc.value, metaSuffixes,
      f"shard-$partitionId%05d-$taskId.tar",
      f".shard-$partitionId%05d-$taskId.tar.inprogress",
      overwriteFinal = false, writeIndex = writeIndex,
      maxSamples = maxSamples, maxBytes = maxBytes)
}

case class WdsTarCommit(path: String) extends WriterCommitMessage

class WdsTarDataWriter(dir: String, schema: StructType,
    conf: SerializableConfiguration, metaSuffixes: Seq[String],
    shardName: String, tmpName: String, overwriteFinal: Boolean = false,
    writeIndex: Boolean = false, maxSamples: Long = Long.MaxValue,
    maxBytes: Long = Long.MaxValue)
    extends DataWriter[InternalRow] {

  def this(dir: String, schema: StructType, conf: SerializableConfiguration,
      metaSuffixes: Seq[String], partitionId: Int, taskId: Long) =
    this(dir, schema, conf, metaSuffixes,
      f"shard-$partitionId%05d-$taskId.tar",
      f".shard-$partitionId%05d-$taskId.tar.inprogress")

  def this(dir: String, schema: StructType, conf: SerializableConfiguration,
      metaSuffixes: Seq[String], partitionId: Int, taskId: Long,
      writeIndex: Boolean) =
    this(dir, schema, conf, metaSuffixes,
      f"shard-$partitionId%05d-$taskId.tar",
      f".shard-$partitionId%05d-$taskId.tar.inprogress",
      overwriteFinal = false, writeIndex = writeIndex)

  private val keyIdx = schema.fieldIndex(WdsTarSource.KeyCol)
  private def suffixOf(name: String): Option[String] =
    metaSuffixes.find(sfx => name.endsWith(s"_$sfx"))
  private val payloadFields = schema.fields.zipWithIndex.filter { case (f, _) =>
    f.name != WdsTarSource.KeyCol && f.name != WdsTarSource.UrlCol &&
      (f.dataType == BinaryType || f.dataType == StringType)
  }

  /** One output stream per destination: the main shard plus a sibling
    * shard per meta suffix, each with the fields routed to it (the meta
    * member name strips the `_suffix` back off the column name).
    */
  private case class Dest(tmp: Path, fin: Path,
      fields: Seq[(String, org.apache.spark.sql.types.StructField, Int)]) {
    val fs = fin.getFileSystem(conf.value)
    fs.mkdirs(fin.getParent)
    val out = new TarArchiveOutputStream(fs.create(tmp, true))
    out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
  }

  // --- shard rolling (the reference ShardWriter's maxcount/maxsize):
  // chunk 0 keeps the task's plain shard name, chunk k>0 appends
  // `-c000k` before `.tar`. A replayed streaming epoch regenerates the
  // same names for the chunks it writes; chunks beyond its final seq
  // (a previous attempt that packed differently) are swept in commit()
  private def chunkShardName(seq: Int): String =
    if (seq == 0) shardName
    else shardName.stripSuffix(".tar") + f"-c$seq%04d.tar"
  private def chunkTmpName(seq: Int): String =
    if (seq == 0) tmpName
    else tmpName.stripSuffix(".tar.inprogress") + f"-c$seq%04d.tar.inprogress"

  private def mkDests(seq: Int): Seq[Dest] = {
    val main = Dest(new Path(dir, chunkTmpName(seq)),
      new Path(dir, chunkShardName(seq)),
      payloadFields.collect {
        case (f, i) if suffixOf(f.name).isEmpty => (f.name, f, i)
      }.toSeq)
    val metas = metaSuffixes.map { sfx =>
      val mdir = graft.sources.ShardListing.metaDir(dir, sfx)
      Dest(new Path(mdir, chunkTmpName(seq)),
        new Path(mdir, chunkShardName(seq)),
        payloadFields.collect {
          case (f, i) if f.name.endsWith(s"_$sfx") =>
            (f.name.dropRight(sfx.length + 1), f, i)
        }.toSeq)
    }
    main +: metas
  }

  private var chunkSeq = 0
  private var chunkSamples = 0L
  private var dests: Seq[Dest] = mkDests(0)
  // (tmp, fin, fs) of closed chunks, renamed together at task commit so
  // a mid-task failure never leaves a partial task visible
  private val pendingRenames = scala.collection.mutable.ArrayBuffer
    .empty[(Path, Path, org.apache.hadoop.fs.FileSystem)]

  // sample-offset index entries for the MAIN shard of the CURRENT
  // chunk (see WdsTarIndex): (first member header offset, key), one
  // per row that wrote a member
  private var indexEntries =
    if (writeIndex) scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    else null

  private def idxTmp(seq: Int) =
    new Path(dir, chunkTmpName(seq).stripSuffix(".inprogress") + ".idx.inprogress")
  private def idxFin(seq: Int) = new Path(dir, chunkShardName(seq) + ".idx")

  /** Close the current chunk's streams (and write its index sidecar),
    * queueing every file for the single rename pass at task commit.
    */
  private def finishChunk(): Unit = {
    dests.foreach { d =>
      d.out.close()
      pendingRenames += ((d.tmp, d.fin, d.fs))
    }
    if (indexEntries != null) {
      val fs = dests.head.fs
      val out = fs.create(idxTmp(chunkSeq), true)
      out.write(WdsTarIndex.render(indexEntries.toSeq))
      out.close()
      pendingRenames += ((idxTmp(chunkSeq), idxFin(chunkSeq), fs))
    }
  }

  override def write(row: InternalRow): Unit = {
    // roll when ANY destination hit the byte bound — a meta sibling
    // whose payloads dominate must not grow unbounded behind a small
    // main shard
    if (chunkSamples > 0 && (chunkSamples >= maxSamples ||
        dests.exists(_.out.getBytesWritten >= maxBytes))) {
      finishChunk()
      chunkSeq += 1
      chunkSamples = 0
      dests = mkDests(chunkSeq)
      if (indexEntries != null)
        indexEntries = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    }
    val key = row.getUTF8String(keyIdx).toString
    dests.foreach { d =>
      // index the MAIN shard only: offset of the row's first member
      // header there (rows writing no main member stay unindexed,
      // matching what a sequential walk of the shard would yield)
      var firstInDest = true
      d.fields.foreach { case (ext, f, i) =>
        if (!row.isNullAt(i)) {
          val bytes = f.dataType match {
            case BinaryType => row.getBinary(i)
            case StringType => row.getUTF8String(i).getBytes
          }
          if (firstInDest && indexEntries != null && (d eq dests.head)) {
            indexEntries += ((d.out.getBytesWritten, key))
          }
          firstInDest = false
          val e = new TarArchiveEntry(s"$key.$ext")
          e.setSize(bytes.length.toLong)
          d.out.putArchiveEntry(e)
          d.out.write(bytes)
          d.out.closeArchiveEntry()
        }
      }
    }
    chunkSamples += 1
  }

  override def commit(): WriterCommitMessage = {
    finishChunk()
    pendingRenames.foreach { case (tmp, fin, fs) =>
      // streaming epoch replay rewrites the same deterministic shard
      // name: drop the stale file so the rename lands (idempotent)
      if (overwriteFinal && fs.exists(fin)) fs.delete(fin, false)
      fs.rename(tmp, fin)
    }
    // replay hygiene: if a previous attempt of this epoch rolled into
    // MORE chunks than this one (partition row order is not guaranteed
    // across re-execution, and byte-based boundaries follow it), its
    // stale higher-numbered chunks would duplicate samples — delete
    // every chunk of this shard's family beyond what we just wrote.
    // The sweep globs ONLY this partition's shard stem (`<stem>*`), so
    // a long-running stream with thousands of partitions lists O(own
    // chunks) per task commit, never the whole output directory.
    if (overwriteFinal) {
      val stem = shardName.stripSuffix(".tar") + "-c"
      (dir +: metaSuffixes.map(graft.sources.ShardListing.metaDir(dir, _)))
        .foreach { d =>
          val p = new Path(d)
          val fs = p.getFileSystem(conf.value)
          val matches = fs.globStatus(new Path(p, stem + "*"))
          if (matches != null) matches.foreach { st =>
            val n = st.getPath.getName
            val isChunk = n.startsWith(stem) &&
              (n.endsWith(".tar") || n.endsWith(".tar.idx"))
            if (isChunk) {
              val seqStr = n.stripPrefix(stem).takeWhile(_.isDigit)
              if (seqStr.nonEmpty && seqStr.toInt > chunkSeq)
                fs.delete(st.getPath, false)
            }
          }
        }
    }
    WdsTarCommit(new Path(dir, shardName).toString)
  }

  override def abort(): Unit = {
    dests.foreach { d =>
      try d.out.close() catch { case _: Exception => () }
      d.fs.delete(d.tmp, false)
    }
    pendingRenames.foreach { case (tmp, _, fs) => fs.delete(tmp, false) }
    if (indexEntries != null) dests.head.fs.delete(idxTmp(chunkSeq), false)
  }

  override def close(): Unit = ()
}

/** Streaming sink half of the tar loop (the source already streams via
  * MICRO_BATCH_READ): `df.writeStream.format("wds-tar").option("path",
  * dir)` re-shards a continuous pipeline with the same member naming
  * and rename-on-commit protocol as the batch sink.
  *
  * Exactly-once story: each epoch's partition writes the DETERMINISTIC
  * shard name `shard-e<epoch>-p<partition>.tar` (tmp names carry the
  * task id so speculative attempts never collide); a replayed epoch
  * re-commits the same names, overwriting its own partial output
  * instead of duplicating shards — idempotent under the micro-batch
  * retry contract. Epoch commit is a no-op (task renames are the
  * atomic unit), abort is best-effort, matching the batch sink.
  */
class WdsTarStreamingWrite(dir: String, schema: StructType,
    confBc: Broadcast[SerializableConfiguration], metaSuffixes: Seq[String] = Nil,
    writeIndex: Boolean = false, maxSamples: Long = Long.MaxValue,
    maxBytes: Long = Long.MaxValue)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    WdsTarStreamingWriterFactory(dir, schema, confBc, metaSuffixes, writeIndex,
      maxSamples, maxBytes)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

case class WdsTarStreamingWriterFactory(dir: String, schema: StructType,
    confBc: Broadcast[SerializableConfiguration], metaSuffixes: Seq[String] = Nil,
    writeIndex: Boolean = false, maxSamples: Long = Long.MaxValue,
    maxBytes: Long = Long.MaxValue)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new WdsTarDataWriter(dir, schema, confBc.value, metaSuffixes,
      shardName = f"shard-e$epochId%06d-p$partitionId%05d.tar",
      tmpName = f".shard-e$epochId%06d-p$partitionId%05d-$taskId.tar.inprogress",
      overwriteFinal = true, writeIndex = writeIndex,
      maxSamples = maxSamples, maxBytes = maxBytes)
}
