package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.SnapshotLog
import graft.sources.snapshot.SnapshotLog.FileEntry

/** The keyed mutations' candidacy probe on driver-held rows
  * (`driverKeyProbe`, no Spark job) against the same probe as one Spark
  * aggregation (`aggKeyProbe`): on seeded frames of every key type the
  * two agree on the row count, the touched files and the duplicate
  * verdict, including the keys Spark's grouping normalizes (NaN,
  * -0.0) and files whose bounds are NaN or missing.
  */
class KeyProbeParitySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  /** A NaN whose bits differ from `Double.NaN`'s. */
  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)

  /** Key columns: a type and the small domain its values come from, so
    * keys repeat.
    */
  private val domains: Map[String, (DataType, IndexedSeq[Any])] = Map(
    "long" -> (LongType, IndexedSeq[Any](-3L, 0L, 1L, 2L, 7L, Long.MaxValue, Long.MinValue)),
    "int" -> (IntegerType, IndexedSeq[Any](-1, 0, 1, 5, 9, Int.MaxValue)),
    "date" -> (DateType, (0 until 6).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 2, 27).plusDays(d.toLong)))),
    "decimal" -> (DecimalType(10, 2), IndexedSeq[Any](new java.math.BigDecimal("1.5"),
      new java.math.BigDecimal("1.50"), new java.math.BigDecimal("-0.25"),
      new java.math.BigDecimal("0"), new java.math.BigDecimal("0.00"),
      new java.math.BigDecimal("12345678.99"))),
    "string" -> (StringType, IndexedSeq[Any]("", "a", "b", "𝔘", "𝔘a",
      "a𝔘", "😀", "😀😀", "\u00e9", "e\u0301")),
    "double" -> (DoubleType, IndexedSeq[Any](Double.NaN, otherNaN, -0.0, 0.0, 1.5, -2.25,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)))

  private val shapes: Seq[Seq[String]] = Seq(Seq("long"), Seq("int"), Seq("date"),
    Seq("decimal"), Seq("string"), Seq("double"), Seq("long", "string"),
    Seq("double", "int"), Seq("date", "decimal"), Seq("string", "double"))

  private def frame(keys: Seq[String], rows: Seq[Seq[Any]]) = {
    val schema = StructType(keys.zipWithIndex.map { case (k, i) =>
      StructField(s"k$i", domains(k)._1) } :+ StructField("v", LongType))
    spark.createDataFrame(java.util.Arrays.asList(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r :+ i.toLong) }: _*), schema)
  }

  /** The probes must agree; returns their common verdict. */
  private def parity(what: String, keys: Seq[String], rows: Seq[Seq[Any]],
      files: Seq[FileEntry], dupCheck: Boolean = true) = {
    val df = frame(keys, rows)
    val keyCols = keys.indices.map(i => s"k$i")
    val local = SnapshotLog.driverKeyProbe(df, files, keyCols, dupCheck)
    assert(local.isDefined, s"$what: the driver probe did not run")
    val agg = SnapshotLog.aggKeyProbe(df, files, keyCols, dupCheck)
    assert(local.get == agg, s"$what: rows=$rows files=$files")
    agg
  }

  private def file(i: Int, stats: Map[String, (Any, Any)]) =
    FileEntry(s"data/f$i", 1L, 1L, stats)

  test("NaNs, signed zeros, emoji and NULL key parts dedup as Spark groups them") {
    val none = Seq.empty[FileEntry]
    assert(parity("two NaNs", Seq("double"), Seq(Seq(Double.NaN), Seq(otherNaN)), none).dupKeys)
    assert(parity("signed zeros", Seq("double"), Seq(Seq(-0.0), Seq(0.0)), none).dupKeys)
    assert(!parity("distinct doubles", Seq("double"), Seq(Seq(1.5), Seq(-1.5)), none).dupKeys)
    assert(parity("emoji", Seq("string"), Seq(Seq("😀"), Seq("😀")), none).dupKeys)
    assert(!parity("composed vs decomposed", Seq("string"), Seq(Seq("\u00e9"), Seq("e\u0301")),
      none).dupKeys)
    assert(parity("decimal scale", Seq("decimal"),
      Seq(Seq(new java.math.BigDecimal("1.5")), Seq(new java.math.BigDecimal("1.50"))), none).dupKeys)
    assert(parity("NaN composite", Seq("double", "int"),
      Seq(Seq[Any](Double.NaN, 1), Seq[Any](otherNaN, 1)), none).dupKeys)
    assert(!parity("NaN composite, other part", Seq("double", "int"),
      Seq(Seq[Any](Double.NaN, 1), Seq[Any](Double.NaN, 2)), none).dupKeys)
    assert(!parity("NULL key part", Seq("double", "int"),
      Seq(Seq[Any](null, 1), Seq[Any](null, 1), Seq[Any](0.0, null), Seq[Any](-0.0, null)), none).dupKeys)
    val p = parity("empty", Seq("long"), Nil, Seq(file(0, Map.empty)))
    assert(p.rows == 0L && p.touched.isEmpty && !p.dupKeys)
  }

  test("the driver probe agrees with the aggregation probe on seeded frames") {
    var dups, touchedSome, touchedNone, nanBounds = 0
    (0 until 60).foreach { i =>
      val rng = new Random(4200L + i)
      val keys = shapes(i % shapes.size)
      def draw(k: String) = { val d = domains(k)._2; d(rng.nextInt(d.size)) }
      // distinct raw tuples, so a duplicate is either an exact copy (one
      // case in three) or two values only grouping equates (two NaNs,
      // two zeros, two scales of one decimal); then NULL key parts
      val tuples = keys.foldLeft(Seq(Seq.empty[Any])) { (acc, k) =>
        for (t <- acc; v <- domains(k)._2) yield t :+ v }
      val picked = rng.shuffle(tuples).take(rng.nextInt(math.min(24, tuples.size) + 1))
      val rows = (if (picked.nonEmpty && rng.nextInt(3) == 0)
          picked :+ picked(rng.nextInt(picked.size)) else picked)
        .map(_.map(v => if (rng.nextInt(10) == 0) null else v))
      val files = (0 until rng.nextInt(6)).map { f =>
        file(f, keys.zipWithIndex.flatMap { case (k, j) =>
          rng.nextInt(6) match {
            case 0 => None
            case 1 if k == "double" =>
              nanBounds += 1
              Some(s"k$j" -> (if (rng.nextBoolean()) (Double.NaN, Double.NaN)
                else (draw(k), Double.NaN)))
            case _ => Some(s"k$j" -> (draw(k), draw(k)))
          }
        }.toMap)
      }
      val p = parity(s"case $i (${keys.mkString(",")})", keys, rows, files,
        dupCheck = i % 5 != 4)
      if (p.dupKeys) dups += 1
      if (p.touched.nonEmpty) touchedSome += 1 else touchedNone += 1
    }
    // every verdict family actually occurred
    assert(dups > 5 && touchedSome > 5 && touchedNone > 5 && nanBounds > 0,
      (dups, touchedSome, touchedNone, nanBounds))
  }

  test("key columns resolve as the frame resolves them") {
    val df = frame(Seq("long", "string"), Seq(Seq[Any](1L, "a"), Seq[Any](1L, "a")))
    assert(SnapshotLog.driverKeyProbe(df, Nil, Seq("K0", "K1"), dupCheck = true)
      .exists(_.dupKeys))
  }

  test("a batch whose rows times files pass the cap is left to the aggregation") {
    import spark.implicits._
    val files = (0 until 64).map(i => file(i, Map("k0" -> (i * 100L, i * 100L + 99L))))
    val fit = (SnapshotLog.DriverProbeCells / files.size).toInt
    // at the cap, through a projection and a filter: probed on the driver
    val atCap = (0L until fit.toLong).map(k => (k * 7L, k)).toDF("k0", "v")
      .select(col("k0"), col("v") + 1 as "v").where(col("v") > 0)
    assert(SnapshotLog.smallLocal(atCap, files))
    val local = SnapshotLog.driverKeyProbe(atCap, files, Seq("k0"), dupCheck = true)
    assert(local.contains(SnapshotLog.aggKeyProbe(atCap, files, Seq("k0"), dupCheck = true)))
    assert(local.get.rows == fit.toLong && local.get.touched == files.indices.toSet)
    // one row more, or a large batch against no file at all: not folded
    val over = (0L to fit.toLong).map(k => (k * 7L, k)).toDF("k0", "v")
    assert(!SnapshotLog.smallLocal(over, files))
    assert(SnapshotLog.driverKeyProbe(over, files, Seq("k0"), dupCheck = true).isEmpty)
    val large = (0L until 100000L).map(k => (k, k)).toDF("k0", "v")
    assert(SnapshotLog.driverKeyProbe(large, Nil, Seq("k0"), dupCheck = true).isEmpty)
  }

  test("a frame that does not fold into local rows is left to the aggregation") {
    assert(SnapshotLog.driverKeyProbe(spark.range(0, 10).toDF("k0"), Nil, Seq("k0"),
      dupCheck = true).isEmpty)
    val grouped = frame(Seq("long"), Seq(Seq(1L), Seq(1L))).groupBy("k0").count()
    assert(SnapshotLog.driverKeyProbe(grouped, Nil, Seq("k0"), dupCheck = true).isEmpty)
  }
}
