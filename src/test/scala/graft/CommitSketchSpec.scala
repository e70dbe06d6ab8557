package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CommitSketches, PortableHash}
import graft.sources.snapshot.SnapshotLog

/** The single-pass commit sketches must be BIT-IDENTICAL to the
  * expression paths they replaced (a bloom that drifts by one bit
  * silently un-prunes or — worse — wrongly prunes a file forever), and
  * the whole multi-column sketch phase must be ONE Spark job.
  */
class CommitSketchSpec extends AnyFunSuite {
  private lazy val s = SparkTestSession.get
  import s.implicits._

  private val Bits = 4096
  private val SeedBase = 7001
  private val K = 3
  private val NdvK = 64

  private def frame = s.range(0, 5000)
    .select(($"id" % 19).as("grp"),
      concat(lit("u"), ($"id" * 37 % 501)).as("u"),
      ($"id" % 211).as("n"))

  test("BloomWordsAgg equals the exploded pmod/bit_or expression path") {
    val df = frame
    // OLD path: explode k positions, fold bit_or into words per group
    val old = df.where($"u".isNotNull)
      .select($"grp", explode(array((0 until K).map(h =>
        pmod(PortableHash.detHash($"u", SeedBase + h), lit(Bits))
          .cast("int")): _*)).as("__pos"))
      .groupBy($"grp", ($"__pos" / 64).cast("int").as("__word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), __pos % 64))").as("__mask"))
      .collect().groupBy(_.getLong(0)).map { case (g, rs) =>
        val words = new Array[Long](Bits / 64)
        rs.foreach(r => words(r.getInt(1)) = r.getLong(2))
        g -> words.toSeq
      }
    val neu = df.groupBy($"grp")
      .agg(CommitSketches.bloomWords($"u", Bits, SeedBase, K).as("bw"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(old.keySet == neu.keySet)
    old.foreach { case (g, w) => assert(neu(g) == w, s"group $g diverged") }
  }

  test("KmvAgg equals the distinct-hash window path, nulls skipped") {
    val df = frame.select($"grp",
      when($"n" % 13 === 0, lit(null)).otherwise($"n").as("n"))
    val old = df.where($"n".isNotNull)
      .select($"grp", PortableHash.detHash($"n").as("__h")).distinct()
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"grp").orderBy($"__h")))
      .where($"__rk" <= NdvK)
      .collect().groupBy(_.getLong(0))
      .map { case (g, rs) => g -> rs.map(_.getLong(1)).sorted.toSeq }
    val neu = df.groupBy($"grp")
      .agg(CommitSketches.kmv($"n", NdvK).as("kmv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(old.keySet == neu.keySet)
    old.foreach { case (g, w) => assert(neu(g) == w, s"group $g diverged") }
    // an all-null group yields an EMPTY sketch (the old path yields no
    // row at all — writeData drops empties for entry parity)
    val allNull = s.range(0, 10).select(lit(0L).as("grp"),
      lit(null).cast("long").as("n"))
      .groupBy($"grp").agg(CommitSketches.kmv($"n", NdvK).as("kmv"))
      .head.getSeq[Long](1)
    assert(allNull.isEmpty)
  }

  test("the sketch phase is one aggregation pass: job count does not scale with columns") {
    val df = frame.localCheckpoint(true)
    def jobsFor(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      s.sparkContext.addSparkListener(listener)
      try { body; org.apache.spark.ListenerBusDrain(s.sparkContext) }
      finally s.sparkContext.removeSparkListener(listener)
      jobs.get()
    }
    val one = jobsFor {
      df.groupBy($"grp")
        .agg(CommitSketches.bloomWords($"u", Bits, SeedBase, K).as("b1"))
        .collect(); ()
    }
    val four = jobsFor {
      df.groupBy($"grp").agg(
        CommitSketches.bloomWords($"u", Bits, SeedBase, K).as("b1"),
        CommitSketches.bloomWords($"n", Bits, SeedBase, K).as("b2"),
        CommitSketches.kmv($"u", NdvK).as("k1"),
        CommitSketches.kmv($"n", NdvK).as("k2")).collect(); ()
    }
    // AQE splits one aggregation into a map job + result job; the
    // contract is that FOUR columns cost the same pass as ONE (the old
    // path ran a full job — and for KMV a distinct+window shuffle —
    // per column)
    assert(four == one && four <= 2,
      s"sketching 4 columns took $four jobs vs $one for a single " +
        "column — the single-pass contract regressed")
  }

  test("commit-time blooms/KMV land identically through the new pass (probe parity)") {
    val t = java.nio.file.Paths.get("target", "sketch-commit")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    SnapshotLog.commit(
      s.range(0, 400).select($"id",
        concat(lit("name"), $"id").as("u")).repartition(4, $"id"),
      t, "append", Seq("id"), bloomCols = Seq("u"), ndvCols = Seq("u"))
    val m = SnapshotLog.manifest(s, t, 1L)
    assert(m.files.forall(f => f.blooms.contains("u") && f.ndvs.contains("u")))
    // a present key opens only the files whose bloom admits it; an
    // absent key opens none (range stats on strings can't exclude —
    // the bloom is what prunes)
    val (hit, openedHit, _, total) = SnapshotLog.readSemiJoin(
      s, t, "u", Seq("name7").toDF("u"), "u")
    assert(hit.count() == 1L && openedHit >= 1 && total == 4)
    val (miss, openedMiss, _, _) = SnapshotLog.readSemiJoin(
      s, t, "u", Seq("name99999").toDF("u"), "u")
    assert(miss.count() == 0L && openedMiss == 0,
      s"bloom failed to prune an absent key (opened $openedMiss)")
    // NDV estimate from the landed KMV sketches is sane (400 distinct)
    val est = SnapshotLog.tableStats(s, t).approxNdv.get("u")
    assert(est.exists(e => e > 200 && e < 800), s"ndv estimate $est")
  }
}
