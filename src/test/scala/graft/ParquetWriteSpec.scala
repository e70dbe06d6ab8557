package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CommitSketches
import graft.sources.snapshot.{ParquetWrite, SnapshotLog}
import graft.sources.snapshot.SnapshotLog.FileEntry

/** The snapshot write's task-side manifest figures equal what a harvest
  * of the written files reports: the parquet footers where they can
  * vouch for a column, else one Spark aggregation per file, plus the
  * commit-sketch aggregation for blooms and NDV sketches.
  */
class ParquetWriteSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private def dir(name: String): String = {
    val t = java.nio.file.Paths.get("target", name).toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    t
  }

  // ---- a harvest of written files: footers, else a scan, then sketches ----

  private object FooterFallback extends Exception with scala.util.control.NoStackTrace

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case _ => throw new IllegalArgumentException(s"incomparable $a, $b")
  }

  /** Footer stats of plain numeric columns, widened to Long/Double; None
    * when some column is another type or carries unusable statistics.
    */
  private def footerEntries(fs: FileSystem, dataDir: Path, dataRel: String,
      statsCols: Seq[String]): Option[Seq[FileEntry]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = fs.listStatus(dataDir).filter(st => st.isFile && {
      val n = st.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    })
    try {
      Some(parts.toSeq.map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          def chunksOf(c: String) = blocks.map(b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c)
              .getOrElse(throw FooterFallback))
          val stats = statsCols.flatMap { c =>
            val chunks = chunksOf(c)
            chunks.headOption.foreach { ch =>
              val pt = ch.getPrimitiveType
              val ok = pt.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
                  pt.getLogicalTypeAnnotation == null || pt.getLogicalTypeAnnotation
                    .isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
                case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
                  pt.getLogicalTypeAnnotation == null
                case _ => false
              }
              if (!ok) throw FooterFallback
            }
            def widen(x: Any): Any = x match {
              case n: java.lang.Integer => n.longValue()
              case n: java.lang.Long => n.longValue()
              case n: java.lang.Float => n.doubleValue()
              case n: java.lang.Double => n.doubleValue()
              case _ => throw FooterFallback
            }
            val present = chunks.filter { ch =>
              val s = ch.getStatistics
              if (s == null) throw FooterFallback
              if (s.hasNonNullValue) true
              else if (s.isNumNullsSet && s.getNumNulls == ch.getValueCount) false
              else throw FooterFallback
            }
            if (present.isEmpty) None
            else {
              val mins = present.map(ch => widen(ch.getStatistics.genericGetMin))
              val maxs = present.map(ch => widen(ch.getStatistics.genericGetMax))
              Some(c -> (mins.reduce((a, b) => if (cmp(a, b) <= 0) a else b),
                maxs.reduce((a, b) => if (cmp(a, b) >= 0) a else b)))
            }
          }.toMap
          val nulls = statsCols.flatMap { c =>
            val chunks = chunksOf(c)
            if (chunks.forall(ch => ch.getStatistics != null && ch.getStatistics.isNumNullsSet))
              Some(c -> chunks.map(_.getStatistics.getNumNulls).sum)
            else None
          }.toMap
          FileEntry(dataRel + "/" + st.getPath.getName, rows, st.getLen, stats, nulls = nulls)
        } finally reader.close()
      }.filter(_.rows > 0L))
    } catch { case FooterFallback => None }
  }

  /** Spark's min, max and null count per file and column. */
  private def scanEntries(dataDir: Path, dataRel: String,
      statsCols: Seq[String]): Seq[FileEntry] = {
    val aggs = count(lit(1)).cast("long").as("__rows") +: statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")))
    spark.read.parquet(dataDir.toString).groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect().toSeq.map { r =>
        val abs = r.getString(0)
        val stats = statsCols.flatMap { c =>
          val (mn, mx) = (r.getAs[Any](s"__min_$c"), r.getAs[Any](s"__max_$c"))
          if (mn == null || mx == null) None else Some(c -> (mn, mx))
        }.toMap
        FileEntry(dataRel + "/" + abs.substring(abs.lastIndexOf('/') + 1),
          r.getAs[Long]("__rows"), 0L, stats,
          nulls = statsCols.map(c => c -> r.getAs[Long](s"__nulls_$c")).toMap)
      }
  }

  private def b64(words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** The harvest of `dataDir`, and whether the footers served it:
    * physical column names in, entries keyed by logical names out.
    */
  private def harvest(fs: FileSystem, tbl: String, dataRel: String,
      physical: Map[String, String], statsCols: Seq[String], bloomCols: Seq[String],
      ndvCols: Seq[String], footers: Boolean): (Seq[FileEntry], Boolean) = {
    val dataDir = new Path(tbl, dataRel)
    val toPhys = (c: String) => physical.getOrElse(c, c)
    val toLogical = (statsCols ++ bloomCols ++ ndvCols).map(c => toPhys(c) -> c).toMap
    val statsP = statsCols.map(toPhys)
    val sketches = bloomCols.map(c => CommitSketches.bloomWords(col(toPhys(c)),
      SnapshotLog.DefaultBloomBits, 7001, 3)) ++
      ndvCols.map(c => CommitSketches.kmv(col(toPhys(c)), SnapshotLog.NdvK))
    val sketchRows = spark.read.parquet(dataDir.toString)
      .groupBy(input_file_name().as("__file")).agg(sketches.head, sketches.tail: _*)
      .collect().map { r =>
        val f = r.getString(0)
        f.substring(f.lastIndexOf('/') + 1) -> r
      }.toMap
    val fromFooters = if (footers) footerEntries(fs, dataDir, dataRel, statsP) else None
    val entries = fromFooters.getOrElse(scanEntries(dataDir, dataRel, statsP))
    def rekey[A](m: Map[String, A]) = m.map { case (c, v) => toLogical(c) -> v }
    entries.map { e =>
      val name = e.path.substring(e.path.lastIndexOf('/') + 1)
      val r = sketchRows(name)
      val blooms = bloomCols.zipWithIndex.flatMap { case (c, i) =>
        val w = r.getSeq[Long](1 + i).toArray
        if (w.exists(_ != 0L)) Some(c -> b64(w)) else None
      }.toMap
      val ndvs = ndvCols.zipWithIndex.flatMap { case (c, i) =>
        val k = r.getSeq[Long](1 + bloomCols.size + i).toArray
        if (k.nonEmpty) Some(c -> b64(k)) else None
      }.toMap
      e.copy(bytes = fs.getFileStatus(new Path(dataDir, name)).getLen, blooms = blooms,
        ndvs = ndvs, stats = rekey(e.stats), nulls = rekey(e.nulls))
    }.sortBy(_.path) -> fromFooters.isDefined
  }

  // ---- the manifest's JSON round trip, for values not yet published ----

  private val mapper = new ObjectMapper()

  private def viaJson(v: Any): Any = {
    val m = new java.util.HashMap[String, Object]()
    m.put("v", v.asInstanceOf[Object])
    mapper.readValue(mapper.writeValueAsString(m), classOf[java.util.Map[String, Object]])
      .get("v") match {
      case n: java.lang.Integer => n.longValue()
      case n: java.lang.Long => n.longValue()
      case n: Number => n.doubleValue()
      case o => o
    }
  }

  /** Equal as the manifest stores it; a double's sign of zero and NaN count. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case _ => a == b
  }

  // ---- seeded frames over every stats-able column type ----

  private val Schema = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType), StructField("d", DoubleType),
    StructField("str", StringType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("dec", DecimalType(12, 3)),
    StructField("nothing", LongType),
    // zero bounds: z's min and zn's max are a zero
    StructField("z", DoubleType), StructField("zn", FloatType)))

  private val Strings = Seq("", "a", "ab", "é", "", "😀", "𐀀x",
    "zz", "Z", "\u0000")
  private val Floats = Seq(0.0f, -0.0f, 1.1f, -3.25f, 0.1f, Float.MaxValue,
    Float.MinPositiveValue, -Float.MaxValue, Float.PositiveInfinity)
  private val Doubles = Seq(0.0, -0.0, 0.1, -2.5, 1e300, Double.MinPositiveValue,
    Double.NegativeInfinity)

  /** `n` rows over 4 partitions, of which partition 1 is empty; doubles
    * and floats hold NaN only when `nan`.
    */
  private def frame(seed: Int, n: Int, nan: Boolean): DataFrame = {
    val rnd = new Random(seed)
    def orNull[A](a: => A): Any = if (rnd.nextInt(8) == 0) null else a
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val rows = (0 until n).map { _ =>
      Row(orNull((rnd.nextInt(256) - 128).toByte),
        orNull((rnd.nextInt(65536) - 32768).toShort),
        orNull(if (rnd.nextInt(20) == 0) pick(Seq(Int.MinValue, Int.MaxValue)) else rnd.nextInt(1000) - 500),
        orNull(if (rnd.nextInt(20) == 0) pick(Seq(Long.MinValue, Long.MaxValue)) else rnd.nextLong() % 100000L),
        orNull(if (nan && rnd.nextInt(30) == 0) Float.NaN
          else if (rnd.nextInt(3) == 0) pick(Floats) else rnd.nextFloat() * 10 - 5),
        orNull(if (nan && rnd.nextInt(30) == 0) Double.NaN
          else if (rnd.nextInt(3) == 0) pick(Doubles) else rnd.nextGaussian()),
        orNull(if (rnd.nextInt(2) == 0) pick(Strings) else rnd.alphanumeric.take(rnd.nextInt(6)).mkString),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(40000) - 20000L))),
        orNull(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          rnd.nextInt(2000000000).toLong, rnd.nextInt(1000000) * 1000L))),
        orNull(new java.math.BigDecimal(java.math.BigInteger.valueOf(rnd.nextLong() % 1000000000L), 3)),
        null,
        orNull(pick(Seq(0.0, 0.5, 2.0))),
        orNull(pick(Seq(-0.0f, -1.0f))))
    }
    val rdd = spark.sparkContext.parallelize(rows, 4)
      .mapPartitionsWithIndex((i, it) => if (i == 1) Iterator.empty else it)
    spark.createDataFrame(rdd, Schema)
  }

  /** The files `v` added over its parent, and their attempt directory. */
  private def addedAt(t: String, v: Long): (Seq[FileEntry], String) = {
    val before = SnapshotLog.manifest(spark, t, v - 1).files.map(_.path).toSet
    val added = SnapshotLog.manifest(spark, t, v).files.filterNot(f => before(f.path))
      .sortBy(_.path)
    val rels = added.map(f => f.path.substring(0, f.path.lastIndexOf('/'))).distinct
    assert(rels.size == 1, rels)
    (added, rels.head)
  }

  test("task-side manifest entries equal a footer/scan harvest of the written files") {
    val numeric = Seq("b", "s", "i", "l", "f", "d", "nothing", "z", "zn")
    val all = Schema.fieldNames.toSeq
    val blooms = Seq("l", "str", "ts", "d", "nothing")
    val ndvs = Seq("i", "str", "dec", "nothing")
    var zeroSigns = 0
    var footerZeros = 0
    var floatDecimals = 0
    var nanBounds = 0
    for (seed <- Seq(3, 17, 29, 41)) {
      val t = dir(s"parquet-write-prop-$seed")
      val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      SnapshotLog.commit(frame(seed, 40, nan = false).limit(0), t, "append", Nil)
      // physical names: `i` is stored as its first name after the rename
      SnapshotLog.renameColumn(spark, t, "i", "i_now")
      def logical(c: String) = if (c == "i") "i_now" else c
      val physical = Map("i_now" -> "i")
      for ((cols, tryFooters, v) <- Seq((numeric, true, 3L), (all, false, 4L))) {
        val df = frame(seed * 31 + v.toInt, 300, nan = seed == 41).withColumnRenamed("i", "i_now")
        SnapshotLog.commit(df, t, "append", cols.map(logical), bloomCols = blooms,
          ndvCols = ndvs.map(logical))
        val (got, rel) = addedAt(t, v)
        val (want, footers) = harvest(fs, t, rel, physical, cols.map(logical), blooms,
          ndvs.map(logical), tryFooters)
        if (!tryFooters || seed != 41) assert(footers == tryFooters)
        val spark0 = scanEntries(new Path(t, rel), rel, cols)
          .map(e => e.path -> e.stats).toMap
        assert(got.size == 3 && got.map(_.path) == want.map(_.path), (got, want))
        got.zip(want).foreach { case (g, w) =>
          val ctx = s"seed $seed v$v ${g.path}"
          assert(g.rows == w.rows && g.bytes == w.bytes, ctx)
          assert(g.nulls == w.nulls && g.nulls("nothing") == g.rows, ctx)
          assert(g.blooms == w.blooms && g.ndvs == w.ndvs, ctx)
          assert(g.blooms.keySet == blooms.toSet - "nothing", ctx)
          assert(g.stats.keySet == w.stats.keySet && !g.stats.contains("nothing"), ctx)
          for ((c, (gMin, gMax)) <- g.stats; ((wMin, wMax), (sMin, sMax)) <- Seq(
              (w.stats(c), spark0(g.path)(if (c == "i_now") "i" else c)))) {
            for ((gv, wv, sv, signed) <- Seq((gMin, viaJson(wMin), sMin, -0.0),
                (gMax, viaJson(wMax), sMax, 0.0))) {
              if (footers && (wv match { case w: Double => w == 0.0; case _ => false }))
                footerZeros += 1
              if (!same(gv, wv)) {
                (c, wv, sv) match {
                  // the scan kept whichever zero Spark's min/max saw
                  // first; the task, like the footers, records a zero
                  // min as -0.0 and a zero max as 0.0
                  case (_, w: Double, _) if w == 0.0 && !footers =>
                    assert(same(gv, signed), s"$ctx $c: $gv, want $signed")
                    zeroSigns += 1
                  // a scanned float lands in the manifest as its shortest
                  // decimal; the task records the float's exact value
                  case ("f", w: Double, s: java.lang.Float) if !footers =>
                    assert(gv == s.doubleValue() && w.toFloat == s.floatValue(), s"$ctx: $gv vs $w")
                    floatDecimals += 1
                  case _ => fail(s"$ctx $c: task $gv, harvest $wv")
                }
              }
            }
            if (Set("f", "d")(c) && (sMax match {
                case x: java.lang.Float => x.isNaN; case x: java.lang.Double => x.isNaN
                case _ => false })) {
              assert(gMax == "NaN", s"$ctx $c: NaN is Spark's max, got $gMax")
              nanBounds += 1
            }
          }
        }
      }
    }
    // the named edge cases were exercised
    assert(zeroSigns > 0 && footerZeros > 0 && floatDecimals > 0 && nanBounds > 0,
      (zeroSigns, footerZeros, floatDecimals, nanBounds))
  }

  test("a zero bound never lets a range delete drop or skip a file wrongly") {
    import spark.implicits._
    // Spark's min/max see -0.0 and 0.0 as equal: {-1.0, -0.0} has the
    // max -0.0, which the manifest must record as 0.0
    def table(name: String): String = {
      val t = dir(name)
      SnapshotLog.commit(Seq(-1.0, -0.0).toDF("d").coalesce(1), t, "append", Seq("d"))
      t
    }
    def left(t: String) = SnapshotLog.read(spark, t).as[Double].collect().toSeq
    val below = table("parquet-write-zero-below")
    SnapshotLog.deleteWhere(spark, below,
      Seq(SnapshotLog.ColumnRange("d", None, Some(0.0), hiStrict = true)), Nil)
    assert(left(below).map(java.lang.Double.compare(_, -0.0)) == Seq(0), left(below))
    val atOrAbove = table("parquet-write-zero-above")
    SnapshotLog.deleteWhere(spark, atOrAbove,
      Seq(SnapshotLog.ColumnRange("d", Some(0.0), None)), Nil)
    assert(left(atOrAbove) == Seq(-1.0), left(atOrAbove))
  }

  test("a killed attempt's unfinished file stays out of a sidecar's directory listing") {
    val d = dir("parquet-write-killed")
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys = spark.range(0, 10, 1, 2).toDF("k")
    // an attempt killed mid-write runs no cleanup: its writer never closes
    val task = ParquetWrite.prepare(keys, new Path(d), "keys", fs, Nil, Nil,
      SnapshotLog.DefaultBloomBits, Nil, identity)
    val killed = try task.open(0, java.util.UUID.randomUUID(), 0)
    finally task.confBc.destroy()
    try {
      assert(new java.io.File(d, "keys").list().exists(_.endsWith(".parquet")))
      assert(ParquetWrite.write(keys, new Path(d), "keys", fs).map(_.rows).sum == 10L)
      assert(spark.read.parquet(s"$d/keys").count() == 10L)
    } finally killed.close()
  }

  test("spark.sql.files.maxRecordsPerFile splits a task's rows into several files") {
    import spark.implicits._
    val t = dir("parquet-write-max-records")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try SnapshotLog.commit((0L until 100L).toDF("k").coalesce(1), t, "append", Seq("k"))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val files = SnapshotLog.manifest(spark, t, 1L).files
    assert(files.map(_.rows) == Seq(40L, 40L, 20L), files)
    assert(files.map(_.path.takeRight(19)).map(_.take(4)) == Seq("c000", "c001", "c002"))
    assert(files.map(_.stats("k")) == Seq((0L, 39L), (40L, 79L), (80L, 99L)))
    assert(SnapshotLog.read(spark, t).count() == 100L)
  }

  test("a failing CHECK constraint leaves no new version and no attempt directory") {
    import spark.implicits._
    val t = dir("parquet-write-check")
    SnapshotLog.commit((0L until 10L).toDF("k"), t, "append", Seq("k"))
    SnapshotLog.addConstraint(spark, t, "small", "k < 100")
    val v = SnapshotLog.latestVersion(spark, t).get
    def attempts = new java.io.File(t, "data").list().toSet
    val before = attempts
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.commit((95L until 105L).toDF("k").repartition(3), t, "append", Seq("k"))
    }
    assert(e.getMessage.contains("constraint 'small'"), e.getMessage)
    assert(SnapshotLog.latestVersion(spark, t).contains(v))
    assert(attempts == before, attempts -- before)
  }

  test("a task that fails mid-write leaves none of its files behind") {
    val d = dir("parquet-write-task-failure")
    val boom = udf((k: Long) => if (k == 150L) throw new IllegalStateException("boom") else k)
    // one task: file c000 is full, c001 is open when row 150 throws
    val keys = spark.range(0, 200, 1, 1).toDF("k").select(boom(col("k")).as("k"))
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    val e = try intercept[Exception](ParquetWrite.write(keys, new Path(d), "keys", fs))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.toString.contains("boom")), e)
    val left = Option(new java.io.File(d, "keys").list()).toSeq.flatten
    assert(left.isEmpty, left)
  }

  test("an empty sidecar write leaves a directory that reads back empty") {
    val d = dir("parquet-write-empty")
    val keys = spark.range(0, 10).toDF("k").where("k < 0")
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ParquetWrite.write(keys, new Path(d), "keys", fs, keepEmpty = true).isEmpty)
    val back = spark.read.parquet(s"$d/keys")
    assert(back.schema.fieldNames.toSeq == Seq("k") && back.count() == 0L)
  }
}
