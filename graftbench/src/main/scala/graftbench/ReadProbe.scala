package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.sources.snapshot.SnapshotLog

/** The read side of the snapshot table, probed in `table_dml`'s traced
  * run once its statements have grown the table: point lookups
  * (`SnapshotLog.readPoint`), range aggregates over the registered view,
  * time travel (`SnapshotLog.read(version)`) and a two-version change
  * feed (`readChangeFeed`). Each read is timed up to its collected
  * result, its plan is timed on its own, and its rows are checked
  * against the model of that version.
  */
final class ReadProbe(spark: SparkSession, table: String, versions: collection.Map[Long, Version],
    seed: Long) {
  import ReadProbe._

  private val rng = new Random(seed)
  private var pointFiles = (0, 0)
  private val head = versions.keys.max

  /** The read's DataFrame builder (no action) and the check of its rows. */
  private def plan(kind: String): (() => DataFrame, Seq[Seq[Any]] => Boolean) = kind match {
    case "point" =>
      val k = 1L + rng.nextInt(Lineitem.Orders)
      val want = versions(head).slice(k, k).rows
      (() => {
        val (df, opened, _, total) = SnapshotLog.readPoint(spark, table, "l_orderkey", k)
        pointFiles = (opened, total)
        df.select("l_orderkey", "l_linenumber", "qty")
      }, got => got.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int])) == want)
    case "range" =>
      val a = 1L + rng.nextInt(Lineitem.Orders - RangeWidth)
      val b = a + RangeWidth - 1
      val (n, s) = versions(head).slice(a, b).agg
      (() => spark.sql(s"SELECT count(*), coalesce(sum(qty), 0) FROM ${Lineitem.View} " +
        s"WHERE l_orderkey BETWEEN $a AND $b"),
        got => got == Seq(Seq(n, s)))
    case "time_travel" =>
      val vs = versions.keys.toSeq.sorted
      val v = vs(rng.nextInt(vs.size))
      val want = versions(v)
      (() => SnapshotLog.read(spark, table, Some(v)).agg(count(lit(1)),
        sum(col("qty").cast("long")), sum(col("l_orderkey") * 8 + col("l_linenumber"))),
        got => got == Seq(Seq(want.keys.length.toLong, want.qtySum, want.keys.sum)))
    case "change_feed" =>
      val vs = versions.keys.toSeq.sorted.filter(v => versions.contains(v + 1) && versions.contains(v + 2))
      val v = vs(rng.nextInt(vs.size))
      val want = Seq(v + 1, v + 2).flatMap(u => versions(u - 1).diff(versions(u), u)).sortBy(_.toString)
      (() => SnapshotLog.readChangeFeed(spark, table, v, Some(v + 2))
        .select("l_orderkey", "l_linenumber", "qty", "_change_type", "_commit_version"),
        got => got.sortBy(_.toString) == want)
  }

  /** Runs `rounds` blocks of the read mix, recording per-layer samples. */
  def run(rounds: Int, rec: Recorder, tr: Tracer): Unit = {
    (0 until rounds).flatMap(_ => rng.shuffle(Block)).foreach { kind =>
      val (build, check) = plan(kind)
      val (rows, ms) = Time.ms(tr.span(s"snapshot.read.$kind") {
        build().collect().toSeq.map(_.toSeq)
      })
      if (!check(rows)) rec.fail(s"$kind read returned ${rows.take(5)}..., not the model's rows")
      rec.sample(s"snapshot.read_ms.$kind", ms)
      val (_, planMs) = Time.ms(tr.span(s"snapshot.plan.$kind") { build() })
      rec.sample(s"snapshot.plan_ms.$kind", planMs)
      if (kind == "point")
        rec.sample("snapshot.files_scanned_ratio", pointFiles._1.toDouble / pointFiles._2)
    }
    tr.drain()
    tr.all.filter(_.name.startsWith("snapshot.read.")).foreach { s =>
      rec.sample(s"snapshot.execs_per_read.${s.name.stripPrefix("snapshot.read.")}",
        tr.inclusive(s).execs.toDouble)
    }
  }
}

object ReadProbe {
  val RangeWidth = 500
  /** Every block of ten reads has the same mix. */
  val Block = Seq("point", "point", "point", "point", "range", "range", "range",
    "time_travel", "time_travel", "change_feed")
}

/** The model at one version: sorted row keys with their quantities. */
final class Version(val keys: Array[Long], val qty: Array[Int]) {
  private val prefix = qty.scanLeft(0L)(_ + _)
  def qtySum: Long = prefix.last

  final class Slice(from: Int, until: Int) {
    def rows: Seq[Seq[Any]] = (from until until).map(i => Seq(keys(i) / 8, (keys(i) % 8).toInt, qty(i)))
    def agg: (Long, Long) = ((until - from).toLong, prefix(until) - prefix(from))
  }

  /** Rows whose order key lies in [a, b]. */
  def slice(a: Long, b: Long): Slice =
    new Slice(lowerBound(Lineitem.key(a, 0)), lowerBound(Lineitem.key(b + 1, 0)))

  private def lowerBound(k: Long): Int = {
    val i = java.util.Arrays.binarySearch(keys, k)
    if (i >= 0) i else -i - 1
  }

  /** The change-feed rows that turn this version into `next`. */
  def diff(next: Version, version: Long): Seq[Seq[Any]] = {
    def rows(v: Version) = v.keys.indices.map(i => (v.keys(i), v.qty(i))).toSet
    val (a, b) = (rows(this), rows(next))
    def out(r: (Long, Int), change: String) = Seq(r._1 / 8, (r._1 % 8).toInt, r._2, change, version)
    (a -- b).toSeq.map(out(_, "delete")) ++ (b -- a).toSeq.map(out(_, "insert"))
  }
}

object Version {
  def apply(m: java.util.TreeMap[java.lang.Long, Integer]): Version = {
    val keys = new Array[Long](m.size)
    val qty = new Array[Int](m.size)
    var i = 0
    m.forEach { (k, q) => keys(i) = k; qty(i) = q; i += 1 }
    new Version(keys, qty)
  }
}
