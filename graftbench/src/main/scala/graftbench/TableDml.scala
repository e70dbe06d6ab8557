package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.sources.snapshot.SnapshotLog
import graft.sql.GraftSql

/** `table_dml`: one curator sending a seeded mix of UPDATE, DELETE,
  * MERGE (matched update plus not-matched insert) and INSERT through
  * `GraftSql.dml` to a snapshot table. One client call is one statement.
  *
  * Every statement grows the table by a few files and later statements
  * plan over all of them, so each measured block of ten starts from a
  * copy of the table as set-up seeded it: blocks are alike, and a faster
  * machine that fits more of them in the window does not also measure
  * them on a bigger table. Warm-up blocks run on copies too. The traced
  * run keeps the model of every version and then probes the read side
  * of the table ([[ReadProbe]]).
  */
final class TableDml(spark: SparkSession, seed: Long) extends Workload {
  private var dir: File = _
  private var seeded: File = _
  private var model = new java.util.TreeMap[java.lang.Long, Integer]()
  private val versions = scala.collection.mutable.Map[Long, Version]()
  private var table: String = _
  private var gen: StmtGen = _
  private var client: DmlClient = _
  private var atSeed: java.util.TreeMap[java.lang.Long, Integer] = _
  private var blocks = 0

  def prepare(d: File): Unit = {
    dir = d
    val (t, ranges) = Lineitem.seed(spark, d, seed, model)
    table = t
    seeded = new File(t)
    gen = new StmtGen(seed + 1, ranges)
    client = new DmlClient(spark, table, model)
  }

  /** Two blocks: the first MERGE of a JVM is several times slower than
    * the next ones. Latency then keeps falling slowly (about a fifth) for
    * some hundred statements while the JIT settles; a warm-up that long
    * does not fit a run, so every run measures the same stretch of that
    * curve, from the 21st statement on.
    */
  def warm(rec: Recorder, tr: Tracer): Unit = {
    atSeed = new java.util.TreeMap(model)
    (0 until 2 * Lineitem.Block.size).foreach(_ => step(rec, tr))
  }

  override def atBlockEnd: Boolean = gen.atBlockEnd

  /** Checks the finished block's table against the model row for row,
    * then points the view, the model and the client at a fresh copy of
    * the seeded table, which no statement writes to; the previous
    * block's copy is deleted.
    */
  private def restart(rec: Recorder): Unit = {
    checkTable(rec, if (blocks == 0) "seeded table" else s"block $blocks")
    if (blocks > 0) org.apache.commons.io.FileUtils.deleteDirectory(new File(table))
    blocks += 1
    val copy = new File(dir, s"block-$blocks")
    Lineitem.copyTable(seeded, copy)
    table = copy.getAbsolutePath
    model = new java.util.TreeMap(atSeed)
    GraftSql.registerSnapshot(spark, Lineitem.View, table, None, Seq("l_orderkey"))
    client = new DmlClient(spark, table, model)
    versions.clear()
    versions(client.version) = Version(model)
  }

  def step(rec: Recorder, tr: Tracer): Unit = {
    if (gen.atBlockEnd) restart(rec)
    tr.span("bench.stmt") {
      val s = gen.next()
      val (ms, ok) = client.run(s, tr, rec)
      rec.call(s.kind, ms, ok)
      versions(client.version) = Version(model)
      if (tr.enabled) {
        rec.sample(s"sql.${s.kind}_ms", ms)
        headProbe(tr, rec)
      }
    }
  }

  def probe(rec: Recorder, tr: Tracer): Unit = {
    tr.drain()
    tr.all.filter(_.name.startsWith("sql.dml.")).foreach { s =>
      val kind = s.name.stripPrefix("sql.dml.")
      val c = tr.inclusive(s)
      val wallMs = (s.endNs - s.startNs) / 1e6
      rec.sample(s"sql.execs_per_stmt.$kind", c.execs.toDouble)
      rec.sample(s"sql.jobs_per_stmt.$kind", c.jobs.toDouble)
      rec.sample("sql.in_exec_ms", c.inExecMs.toDouble)
      rec.sample("sql.driver_gap_ms", wallMs - c.inExecMs)
    }
    new ReadProbe(spark, table, versions, seed + 2).run(2, rec, tr)
  }

  /** The cost of `latestVersion` and `manifest` on the head, its live
    * file count, and the bytes of the files the head commit added.
    */
  private def headProbe(tr: Tracer, rec: Recorder): Unit = {
    val (v, lvMs) = Time.ms(tr.span("snapshot.latest_version") {
      SnapshotLog.latestVersion(spark, table).get
    })
    val (m, mMs) = Time.ms(tr.span("snapshot.manifest") { SnapshotLog.manifest(spark, table, v) })
    rec.sample("snapshot.latest_version_ms", lvMs)
    rec.sample("snapshot.manifest_ms", mMs)
    rec.sample("snapshot.files_per_version", m.files.size.toDouble)
    val before = SnapshotLog.manifest(spark, table, v - 1).files.map(_.path).toSet
    rec.sample("snapshot.bytes_written_per_stmt",
      m.files.filterNot(f => before(f.path)).map(_.bytes).sum.toDouble)
  }

  /** The table must equal the model row for row. */
  private def checkTable(rec: Recorder, what: String): Unit = {
    val rows = spark.table(Lineitem.View).collect()
    val wrong = rows.count { r =>
      model.get(Lineitem.key(r.getLong(0), r.getInt(1))) != Integer.valueOf(r.getInt(2))
    }
    if (wrong > 0 || rows.length != model.size)
      rec.fail(s"$what: table has ${rows.length} rows, $wrong of them not in the model; the model has ${model.size}")
  }

  def finish(rec: Recorder): Unit = checkTable(rec, "final table")
}
