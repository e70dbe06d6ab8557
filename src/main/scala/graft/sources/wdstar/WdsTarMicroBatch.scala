package graft.sources.wdstar

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ShardListing

/** Micro-batch streaming over a growing directory of tar shards —
  * continuous ingestion (SURVEY.md §4.4: "shards-as-offsets").
  *
  * The offset is simply the count of shards already processed from the
  * lexicographically-sorted listing; each trigger re-lists the
  * directory and emits any new shards as one partition each. Shards
  * must be append-only and named monotonically (the webdataset
  * convention, `shard-000123.tar`) — a new shard sorting *before* a
  * processed one is detected and rejected rather than silently skipped.
  * The batch reader is reused verbatim: same assembly, pruning and
  * error-policy semantics in both execution modes.
  */
class WdsTarMicroBatchStream(schema: StructType, declaredExts: Set[String],
    options: CaseInsensitiveStringMap, checkpointLocation: String,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream {

  private val dir = {
    val d = options.get("path")
    require(d != null, "wds-tar streaming requires the 'path' option")
    d
  }

  private def listSorted(): Seq[String] =
    ShardListing.listShards(SparkSession.active, Seq(dir)).sorted

  @volatile private var lastSeen: Seq[String] = Nil

  override def initialOffset(): Offset = WdsTarOffset(0, "")

  override def latestOffset(): Offset = {
    lastSeen = listSorted()
    WdsTarOffset(lastSeen.length, lastSeen.lastOption.getOrElse(""))
  }

  override def deserializeOffset(json: String): Offset = WdsTarOffset.parse(json)

  /** The committed prefix is identified by (count, name of last shard in
    * the prefix). A later listing must be a strict APPEND of that
    * prefix: if a new shard sorts before the committed boundary it
    * shifts slice indices — silently re-emitting processed shards and
    * skipping the newcomer — so that case fails loudly instead.
    */
  private def checkAppendOnly(shards: Seq[String], o: WdsTarOffset): Unit = {
    val n = o.shardCount
    if (n > 0 && o.lastShard.nonEmpty) {
      require(shards.length >= n && shards(n - 1) == o.lastShard,
        s"wds-tar stream: listing is not an append of the committed prefix " +
          s"(expected shard #${n - 1} to be '${o.lastShard}', " +
          s"found '${shards.lift(n - 1).getOrElse("<missing>")}'); " +
          "shards must be named so new files sort after existing ones")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[WdsTarOffset]
    val eo = end.asInstanceOf[WdsTarOffset]
    val shards = if (lastSeen.length >= eo.shardCount) lastSeen else listSorted()
    require(shards.length >= eo.shardCount,
      s"wds-tar stream: directory shrank below committed offset " +
        s"(${eo.shardCount} > ${shards.length})")
    checkAppendOnly(shards, so)
    checkAppendOnly(shards, eo)
    // __url__ pruning composes with offsets: the offset always indexes
    // the FULL sorted listing (so commit progress is filter-independent),
    // and a pruned shard simply contributes no partition to its batch.
    val ufs = pushed.filter(ShardFilters.supported(_, WdsTarSource.UrlCol))
    shards.slice(so.shardCount, eo.shardCount)
      .filter(s => ufs.forall(ShardFilters.eval(_, s)))
      .map(s => WdsTarInputPartition(Seq(s)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    WdsTarReaderFactory(schema, declaredExts, WdsTarSource.broadcastConf(),
      skipErrors = "skip".equalsIgnoreCase(options.getOrDefault("errorPolicy", "fail")),
      keyFilters = pushed.filter(ShardFilters.supported(_, WdsTarSource.KeyCol)).toSeq)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Offset = (shards committed, name of the last committed shard). The
  * name pins the identity of the committed prefix so an out-of-order
  * arrival is detected (see checkAppendOnly) rather than double-read.
  *
  * Serialization MUST be a single line: Spark's OffsetSeqLog writes one
  * line per source, so an embedded newline splits this offset into what
  * a restarted query reads back as TWO sources and the checkpoint
  * becomes unrecoverable ("There are [2] sources in the checkpoint
  * offsets..."). An earlier `<count>\n<lastShard>` encoding had exactly
  * that failure — in-process runs never re-read their own offsets, so
  * only a cross-process restart (WdsTarStreamSpec's restart case) sees
  * it. Now a one-line JSON object; parse keeps reading the legacy
  * bare-count form.
  */
case class WdsTarOffset(shardCount: Int, lastShard: String) extends Offset {
  override def json(): String = {
    val esc = lastShard.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    s"""{"shardCount":$shardCount,"lastShard":"$esc"}"""
  }
}

object WdsTarOffset {
  private val JsonForm = """\{"shardCount":(\d+),"lastShard":"(.*)"\}""".r

  def parse(json: String): WdsTarOffset = json match {
    case JsonForm(n, last) => WdsTarOffset(n.toInt, unescape(last))
    case legacy => legacy.split("\n", 2) match {
      case Array(n) => WdsTarOffset(n.trim.toInt, "")
      case Array(n, last) => WdsTarOffset(n.trim.toInt, last)
    }
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
        case 'u' if i + 6 <= s.length =>
          sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        case c => sb += c; i += 2
      } else { sb += s(i); i += 1 }
    }
    sb.toString
  }
}
