package graft

import java.nio.file.Paths

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.{LocalLinkLogStore, LogStore, SnapshotLog}

/** Pairwise interleaving matrix for the OCC rebase
  * (SnapshotLog.publishMutation): for EVERY (injected op × op under
  * test) combination, the injected op commits deterministically inside
  * the op under test's check-to-act window, and the outcome must be one
  * of exactly two states — both checked against serially-applied twin
  * tables, not hand-written expectations:
  *
  *  - the op under test REBASES and the table equals running
  *    injected-then-op serially (WriteSerializable equivalence), or
  *  - it raises ConcurrentMutationException and the table equals the
  *    injected op alone (loser left no trace, and a rerun would win).
  *
  * SnapshotMutationRebaseSpec pins chosen scenarios with precise
  * assertions; this matrix sweeps the combination space so a future op
  * or conflict-rule change cannot quietly break an untested pairing.
  */
class SnapshotRebaseMatrixSpec extends AnyFunSuite {
  private lazy val s = SparkTestSession.get
  import s.implicits._

  private def df(lo: Long, hi: Long, payload: String = "row") =
    s.range(lo, hi).select($"id",
      concat(lit(payload), $"id").as("payload"))

  /** The seed, built once: three single-file commits [0,100) [100,200)
    * [200,300) plus an outstanding MOR key delete on 290..294 — so
    * `compact` always has real eq-debt work and eq-deletes participate
    * in every pairing.
    */
  private lazy val seeded: java.io.File = {
    val t = Paths.get("target", "rebase-mx-seed").toAbsolutePath.toFile
    org.apache.commons.io.FileUtils.deleteQuietly(t)
    Seq(0L, 100L, 200L).foreach(lo =>
      SnapshotLog.commit(df(lo, lo + 100).repartition(1), t.toString,
        "append", Seq("id")))
    SnapshotLog.deleteKeysMOR(s.range(290, 295).toDF("id"), t.toString, "id")
    t
  }

  /** A fresh copy of the seed at `t`: manifests hold table-relative
    * paths, so the copied directory is the same four-version table.
    */
  private def seed(t: String): Unit = {
    val dst = Paths.get(t).toAbsolutePath.toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dst)
    org.apache.commons.io.FileUtils.copyDirectory(seeded, dst)
  }

  private final case class Op(name: String)(val run: String => Unit)

  // bucket b = id range [b*100, (b+1)*100); replacements hit b*100+10..19
  private def upBatch(b: Int) = df(b * 100L + 10, b * 100L + 20, "upd")

  private val ops: Seq[Op] = Seq(
    Op("append")(t => { SnapshotLog.commitWithRetry(df(300, 350), t,
      "append", Seq("id")); () }),
    Op("cow-upsert-b0")(t => { SnapshotLog.upsert(upBatch(0), t, "id",
      Seq("id")); () }),
    Op("cow-upsert-b1")(t => { SnapshotLog.upsert(upBatch(1), t, "id",
      Seq("id")); () }),
    Op("cow-delete-b0")(t => { SnapshotLog.deleteWhere(s, t, "id",
      0L, 99L, Seq("id")); () }),
    Op("cow-delete-b1")(t => { SnapshotLog.deleteWhere(s, t, "id",
      100L, 199L, Seq("id")); () }),
    Op("mor-upsert-b1")(t => { SnapshotLog.upsertMOR(upBatch(1), t, "id",
      Seq("id")); () }),
    Op("mor-delete-b2")(t => { SnapshotLog.deleteKeysMOR(
      s.range(250, 260).toDF("id"), t, "id"); () }),
    Op("cow-update-b0")(t => { SnapshotLog.updateWhere(s, t, "id", 20L, 29L,
      Map("payload" -> concat(lit("u2-"), col("payload"))), Seq("id")); () }),
    Op("cow-delete-compound-b1")(t => { SnapshotLog.deleteWhere(s, t,
      Seq(SnapshotLog.ColumnRange.between("id", 120L, 139L),
        SnapshotLog.ColumnRange("payload", Some("r"), None)),
      Seq("id")); () }),
    Op("cow-update-matching-b2")(t => { SnapshotLog.updateMatching(s, t,
      col("id") % 10 === 3 && col("id") >= 200L && col("id") <= 249L,
      Map("payload" -> concat(lit("am-"), col("payload"))), Seq("id")); () }),
    Op("cow-updatekeys-b0")(t => { SnapshotLog.updateKeys(s, t, Seq("id"),
      s.range(30, 40).toDF("id"),
      Map("payload" -> concat(lit("uk-"), col("payload"))), Seq("id")); () }),
    Op("mor-ckdelete-b2")(t => { SnapshotLog.deleteKeysMOR(
      s.range(260, 270).select($"id",
        concat(lit("row"), $"id").as("payload")),
      t, Seq("id", "payload")); () }),
    Op("compact")(t => { SnapshotLog.compact(s, t, 1L << 30,
      Seq("id")); () }))

  private def canon(t: String): Seq[(Long, String)] =
    SnapshotLog.read(s, t).select($"id", $"payload").as[(Long, String)]
      .collect().sorted.toSeq

  private var n = 0
  private def withInjection(inject: => Unit)(body: => Unit): Unit = {
    n += 1
    val name = s"rebase-matrix-$n"
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    LogStore.register(name, new LocalLinkLogStore {
      override protected def beforePublish(fs: FileSystem,
          dest: Path): Unit =
        if (dest.getName.matches("v\\d+\\.json") &&
          fired.compareAndSet(false, true)) inject
    })
    s.conf.set(LogStore.ConfKey, name)
    try body finally s.conf.unset(LogStore.ConfKey)
  }

  for (injected <- ops; under <- ops if injected.name != under.name)
    test(s"${injected.name} injected inside ${under.name}") {
      val root = Paths.get("target", s"rebase-mx-$n").toAbsolutePath
      val t = root.resolve("raced").toString
      val tInj = root.resolve("twin-injected").toString
      val tSerial = root.resolve("twin-serial").toString
      seed(t)
      var conflicted = false
      withInjection { injected.run(t) } {
        try under.run(t)
        catch {
          case _: SnapshotLog.ConcurrentMutationException =>
            conflicted = true
        }
      }
      seed(tInj); injected.run(tInj)
      val expected =
        if (conflicted) canon(tInj)
        else { seed(tSerial); injected.run(tSerial); under.run(tSerial)
          canon(tSerial) }
      assert(canon(t) == expected,
        s"raced state diverged (conflicted=$conflicted)")
      if (conflicted) {
        // the loser's rerun against the current version must land
        under.run(t)
        under.run(tInj)
        assert(canon(t) == canon(tInj), "rerun after conflict diverged")
      }
      // every version of the raced history resolves (nothing half-published)
      val latest = SnapshotLog.latestVersion(s, t).get
      (1L to latest).foreach(v => SnapshotLog.manifest(s, t, v))
    }
}
