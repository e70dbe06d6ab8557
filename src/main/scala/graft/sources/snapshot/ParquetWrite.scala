package graft.sources.snapshot

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.functions.{BloomWordsAgg, KmvAgg}
import graft.sources.snapshot.SnapshotLog.FileEntry

/** The snapshot format's parquet write (data files, deletion vectors and
  * equality-delete keys): one Spark job in one named SQL execution, so
  * listeners and `Observation`s see it, and nothing after it. Its tasks
  * read the conf `ParquetFileFormat.prepareWrite` prepared from one
  * broadcast and write part files under attempt-unique names straight
  * into the caller's attempt directory (no `_temporary`, no `_SUCCESS`:
  * the manifest publish is the only commit), each renamed in place from
  * a hidden name once the task's files are whole. Each task returns its
  * files' manifest entries, the sketches updated per row through
  * [[BloomWordsAgg]] and [[KmvAgg]]'s own `update`.
  */
private[graft] object ParquetWrite {

  /** The write's SQL execution name, as listeners see it. */
  val ExecutionName = "snapshotWrite"

  /** Write `df` into directory `rel` of table `tbl`; an entry per file,
    * by path. `column` maps an entry's stats/bloom/ndv column to the
    * frame's (a physical name). `keepEmpty` writes a zero-row file for a
    * frame with no rows, so the directory reads back as an empty table.
    */
  def write(df: DataFrame, tbl: Path, rel: String, fs: FileSystem,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = SnapshotLog.DefaultBloomBits, ndvCols: Seq[String] = Nil,
      column: String => String = identity, keepEmpty: Boolean = false): Seq[FileEntry] = {
    val task = prepare(df, tbl, rel, fs, statsCols, bloomCols, bloomBits, ndvCols, column)
    try {
      val written = Bridge.withExecution(df, ExecutionName) { qe =>
        df.sparkSession.sparkContext.runJob(qe.executedPlan.execute(), task)
      }.flatten.toSeq
      if (written.isEmpty && keepEmpty) {
        val w = task.open(0, UUID.randomUUID(), 0)
        w.close()
        task.publish(fs, new Path(w.path))
      }
      written.sortBy(_.path)
    } finally task.confBc.destroy()
  }

  /** The per-task function of a [[write]], with a fresh conf broadcast. */
  private[graft] def prepare(df: DataFrame, tbl: Path, rel: String, fs: FileSystem,
      statsCols: Seq[String], bloomCols: Seq[String], bloomBits: Int,
      ndvCols: Seq[String], column: String => String): ParquetWriteTask = {
    val spark = df.sparkSession
    val schema = df.schema
    val options = ForkFreeLocalFileSystem.writeOptions(fs)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    val conf = job.getConfiguration
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val resolver = spark.sessionState.conf.resolver
    def ordinal(c: String): Int = schema.fieldNames.indexWhere(resolver(_, column(c)))
      .ensuring(_ >= 0, s"no column '${column(c)}'")
    // a sketch hashes the column's string form (`col.cast("string")`)
    def asString(c: String): Expression = {
      val i = ordinal(c)
      val ref = BoundReference(i, schema(i).dataType, nullable = true)
      if (ref.dataType == StringType) ref else Cast(ref, StringType, Some(tz))
    }
    new ParquetWriteTask(
      spark.sparkContext.broadcast(new SerializableConfiguration(conf)), factory, schema,
      new Path(tbl, rel).toString, rel,
      factory.getFileExtension(new TaskAttemptContextImpl(conf, new TaskAttemptID())),
      spark.sessionState.conf.maxRecordsPerFile,
      statsCols.toArray, statsCols.map(ordinal).toArray,
      bloomCols.toArray, bloomCols.map(c => BloomWordsAgg(asString(c), bloomBits,
        SnapshotLog.BloomSeedBase, SnapshotLog.BloomK)).toArray,
      ndvCols.toArray, ndvCols.map(c => KmvAgg(asString(c), SnapshotLog.NdvK)).toArray)
  }

  /** A stats bound as the manifest records it: integral types as Long,
    * floating types as Double (a float's exact value, a zero as `zero`),
    * any other type as Spark's external value.
    */
  private[snapshot] def bound(dt: DataType, zero: Double): Any => Any = dt match {
    case ByteType | ShortType | IntegerType | LongType => _.asInstanceOf[Number].longValue()
    case FloatType | DoubleType => v =>
      val d = v.asInstanceOf[Number].doubleValue()
      if (d == 0.0) zero else d
    case _ => CatalystTypeConverters.createToScalaConverter(dt)
  }
}

/** The per-task half of [[ParquetWrite]]: one entry per part file, a new
  * file every `maxRecords` (`spark.sql.files.maxRecordsPerFile`) rows.
  */
private[graft] final class ParquetWriteTask(
    val confBc: Broadcast[SerializableConfiguration], factory: OutputWriterFactory,
    schema: StructType, dir: String, rel: String, ext: String, maxRecords: Long,
    statsCols: Array[String], statsOrd: Array[Int],
    bloomCols: Array[String], bloomAggs: Array[BloomWordsAgg],
    ndvCols: Array[String], kmvAggs: Array[KmvAgg])
    extends ((TaskContext, Iterator[InternalRow]) => Array[FileEntry]) with Serializable {

  /** A writer of file `file` of a task, under a hidden name (`_part-...`,
    * which Spark's listing skips) until [[publish]] renames it.
    */
  private[graft] def open(partition: Int, uuid: UUID, file: Int): OutputWriter =
    factory.newInstance(f"$dir/_part-$partition%05d-$uuid-c$file%03d$ext", schema,
      new TaskAttemptContextImpl(confBc.value.value,
        new TaskAttemptID(new TaskID("graft", 0, TaskType.MAP, partition), 0)))

  /** Give a closed file (and its `.crc`) its visible name. */
  private[snapshot] def publish(fs: FileSystem, hidden: Path): Unit =
    if (!fs.rename(hidden, visible(hidden))) throw new java.io.IOException(s"cannot rename $hidden")

  private def visible(hidden: Path) = new Path(hidden.getParent, hidden.getName.stripPrefix("_"))

  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[FileEntry] = {
    val uuid = UUID.randomUUID() // per attempt: a retry never reuses a name
    lazy val fs = new Path(dir).getFileSystem(confBc.value.value)
    val out = Array.newBuilder[FileEntry]
    var paths = List.empty[Path] // hidden names, the open file first
    var writer: OutputWriter = null
    var stats: FileStats = null
    def finish(): Unit = {
      writer.close()
      writer = null
      out += stats.entry(s"$rel/${visible(paths.head).getName}",
        fs.getFileStatus(paths.head).getLen)
    }
    try {
      while (rows.hasNext) {
        val row = rows.next()
        if (writer != null && maxRecords > 0 && stats.rows >= maxRecords) finish()
        if (writer == null) {
          writer = open(ctx.partitionId, uuid, paths.size)
          paths ::= new Path(writer.path)
          stats = new FileStats
        }
        writer.write(row)
        stats.update(row)
      }
      if (writer != null) finish()
      // renamed only once every file is whole: a sidecar reads back as
      // its whole directory, so an attempt that dies (a lost executor runs
      // no catch) must leave nothing visible there
      paths.reverse.foreach(publish(fs, _))
    } catch { case t: Throwable =>
      def quietly(body: => Any): Unit = try body catch { case e: Throwable => t.addSuppressed(e) }
      if (writer != null) quietly(writer.close())
      paths.foreach(p => Seq(p, visible(p)).foreach(f => quietly(fs.delete(f, false))))
      throw t
    }
    out.result()
  }

  /** One file's manifest figures, updated per row. Min and max are Spark's:
    * its ordering (NaN above every number, -0.0 equal to 0.0, strings in
    * UTF-8 byte order), nulls skipped. A zero bound is recorded as parquet
    * records it, -0.0 for a min and 0.0 for a max, as the manifest's
    * `Double.compare` orders -0.0 below 0.0 and either may be in the file.
    */
  private final class FileStats {
    var rows = 0L
    private val types = statsOrd.map(schema(_).dataType)
    private val get = types.map(InternalRow.getAccessor(_))
    private val order = types.map(TypeUtils.getInterpretedOrdering)
    private val mins, maxs = new Array[Any](statsOrd.length)
    private val nulls = new Array[Long](statsOrd.length)
    private val blooms = bloomAggs.map(_.createAggregationBuffer())
    private val kmvs = kmvAggs.map(_.createAggregationBuffer())

    def update(row: InternalRow): Unit = {
      rows += 1
      for (i <- statsOrd.indices) {
        if (row.isNullAt(statsOrd(i))) nulls(i) += 1
        else {
          val v = get(i)(row, statsOrd(i))
          // copied: a row's strings and structs point into a reused buffer
          if (mins(i) == null || order(i).lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
          if (maxs(i) == null || order(i).gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
        }
      }
      for (i <- blooms.indices) bloomAggs(i).update(blooms(i), row)
      for (i <- kmvs.indices) kmvAggs(i).update(kmvs(i), row)
    }

    // a column with no non-null value gets no bounds, bloom or sketch
    def entry(path: String, bytes: Long): FileEntry = {
      FileEntry(path, rows, bytes,
        stats = statsCols.indices.collect { case i if mins(i) != null => statsCols(i) ->
          (ParquetWrite.bound(types(i), -0.0)(mins(i)), ParquetWrite.bound(types(i), 0.0)(maxs(i)))
        }.toMap,
        blooms = bloomCols.zip(blooms).collect {
          case (c, w) if w.exists(_ != 0L) => c -> b64(w) }.toMap,
        ndvs = ndvCols.zip(kmvs).collect { case (c, k) if !k.isEmpty =>
          c -> b64(k.toArray.map(_.asInstanceOf[java.lang.Long].longValue)) }.toMap,
        nulls = statsCols.zip(nulls).toMap)
    }
  }

  /** Words as the manifest stores a bloom or sketch: big-endian base64. */
  private def b64(words: Array[Long]): String = java.util.Base64.getEncoder.encodeToString(
    words.foldLeft(java.nio.ByteBuffer.allocate(words.length * 8))(_.putLong(_)).array())
}
