package graftbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.sources.snapshot.SnapshotLog
import graft.sql.GraftSql

/** A lineitem-shaped snapshot table (`l_orderkey`, `l_linenumber`,
  * `qty`) generated from the seed, and a plain in-memory model of it
  * that replays every statement the benchmark sends. Rows are keyed by
  * `l_orderkey * 8 + l_linenumber` (line numbers run 1 to 7).
  */
object Lineitem {
  val View = "li"
  val SourceView = "li_src"
  val Orders = 25000
  val Files = 8

  def key(order: Long, line: Int): Long = order * 8 + line

  /** The statement-kind order inside each block of ten: every block has
    * the same mix (3 UPDATE, 2 DELETE, 2 MERGE, 3 INSERT), so a seed
    * changes the parameters and the order, never the mix.
    */
  val Block = Seq("update", "update", "update", "delete", "delete", "merge", "merge",
    "insert", "insert", "insert")

  /** Generates the base rows into `model`, commits them as version 1,
    * range-partitioned into [[Files]] files, and registers [[View]].
    * Returns the table path and each file's order-key range.
    */
  def seed(spark: SparkSession, dir: File, seed: Long,
      model: java.util.TreeMap[java.lang.Long, Integer]): (String, IndexedSeq[(Long, Long)]) = {
    import spark.implicits._
    val rng = new Random(seed)
    model.clear()
    val rows = (1 to Orders).flatMap { o =>
      (1 to 1 + rng.nextInt(7)).map { l =>
        val q = 1 + rng.nextInt(50)
        model.put(key(o, l), q)
        (o.toLong, l, q)
      }
    }
    val table = new File(dir, "lineitem").getAbsolutePath
    SnapshotLog.commit(rows.toDF("l_orderkey", "l_linenumber", "qty")
      .repartitionByRange(Files, $"l_orderkey"), table, "append", Seq("l_orderkey"))
    GraftSql.registerSnapshot(spark, View, table, None, Seq("l_orderkey"))
    val ranges = SnapshotLog.manifest(spark, table, 1L).files.map { f =>
      val (lo, hi) = f.stats("l_orderkey")
      (lo.toString.toLong, hi.toString.toLong)
    }
    (table, ranges.toIndexedSeq.sorted)
  }

  /** Copies a table directory (manifests hold table-relative paths). */
  def copyTable(from: File, to: File): Unit = {
    val src = from.toPath
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val dst = to.toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }

  /** Live rows at `version`, from the manifest alone. */
  def manifestRows(spark: SparkSession, table: String, version: Long): Option[Long] = {
    val m = SnapshotLog.manifest(spark, table, version)
    if (m.eqDeletes.nonEmpty) None
    else Some(m.files.map(f => f.rows - f.dv.map(_.rows).getOrElse(0L)).sum)
  }
}

/** One DML statement: its SQL text, the source rows a MERGE reads, and
  * its effect on the model, which returns whether the model changed.
  */
final case class Stmt(kind: String, sql: String, source: Seq[(Long, Int, Int)],
    apply: java.util.TreeMap[java.lang.Long, Integer] => Boolean)

/** Seeded statement stream. New orders are numbered above every
  * existing one. Each key range an UPDATE, DELETE or MERGE touches lies
  * inside one of the base files' ranges, so every statement of a kind
  * rewrites the same number of files whatever the seed.
  */
final class StmtGen(seed: Long, fileRanges: IndexedSeq[(Long, Long)]) {
  import Lineitem._
  private val rng = new Random(seed)
  private var nextOrder = Orders + 1L
  private var block: Seq[String] = Nil

  private def newRows(orders: Int): Seq[(Long, Int, Int)] = (0 until orders).flatMap { _ =>
    val o = nextOrder
    nextOrder += 1
    (1 to 1 + rng.nextInt(4)).map(l => (o, l, 1 + rng.nextInt(50)))
  }

  private def range(width: Int): (Long, Long) = {
    val (lo, hi) = fileRanges(rng.nextInt(fileRanges.size))
    val a = lo + rng.nextInt((hi - lo + 2 - width).toInt)
    (a, a + width - 1)
  }

  private def inRange(m: java.util.TreeMap[java.lang.Long, Integer], a: Long, b: Long) =
    m.subMap(key(a, 0), true, key(b, 7), true)

  private def values(rows: Seq[(Long, Int, Int)]): String =
    rows.map { case (o, l, q) => s"($o, $l, $q)" }.mkString(", ")

  def atBlockEnd: Boolean = block.isEmpty

  def next(): Stmt = {
    if (block.isEmpty) block = rng.shuffle(Block)
    val kind = block.head
    block = block.tail
    kind match {
      case "update" =>
        val (a, b) = range(20)
        Stmt(kind, s"UPDATE $View SET qty = qty + 1 WHERE l_orderkey BETWEEN $a AND $b", Nil,
          m => {
            val hit = inRange(m, a, b)
            hit.entrySet.asScala.foreach(e => e.setValue(e.getValue + 1))
            !hit.isEmpty
          })
      case "delete" =>
        val (a, b) = range(5)
        Stmt(kind, s"DELETE FROM $View WHERE l_orderkey BETWEEN $a AND $b", Nil,
          m => {
            val hit = inRange(m, a, b)
            val changed = !hit.isEmpty
            hit.clear()
            changed
          })
      case "insert" =>
        val rows = newRows(2)
        Stmt(kind, s"INSERT INTO $View VALUES ${values(rows)}", Nil,
          m => { rows.foreach { case (o, l, q) => m.put(key(o, l), q) }; true })
      case "merge" =>
        // matched keys cluster in a 50-order range, as a batch of
        // corrections to recent orders would
        val (a, _) = range(50)
        val matched = (0 until 5).map(_ => (a + rng.nextInt(50), 1, 51 + rng.nextInt(50)))
          .distinctBy(r => (r._1, r._2))
        val rows = matched ++ newRows(1)
        Stmt(kind,
          s"MERGE INTO $View USING $SourceView ON $View.l_orderkey = $SourceView.l_orderkey " +
            s"AND $View.l_linenumber = $SourceView.l_linenumber " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          rows, m => rows.map { case (o, l, q) => m.put(key(o, l), q) != Integer.valueOf(q) }
            .contains(true))
    }
  }
}

/** Sends statements through `GraftSql.dml` and checks each one: the
  * version advances by one commit when the model changed, and the live
  * row count at the new version matches the model.
  */
final class DmlClient(spark: SparkSession, table: String,
    model: java.util.TreeMap[java.lang.Long, Integer]) {
  import spark.implicits._
  var version: Long = SnapshotLog.latestVersion(spark, table).get

  /** Runs `s`; returns its latency in ms and whether its check passed. */
  def run(s: Stmt, tr: Tracer, rec: Recorder): (Double, Boolean) = {
    if (s.kind == "merge")
      s.source.toDF("l_orderkey", "l_linenumber", "qty").createOrReplaceTempView(Lineitem.SourceView)
    val changed = s.apply(model)
    val (v, ms) = Time.ms(tr.span(s"sql.dml.${s.kind}") { GraftSql.dml(spark, s.sql) })
    val rows = Lineitem.manifestRows(spark, table, v)
      .getOrElse(spark.table(Lineitem.View).count())
    val ok = (v == version + 1 || (!changed && v == version)) && rows == model.size
    if (!ok) rec.fail(s"${s.kind} '${s.sql}' committed v$v after v$version with $rows rows; " +
      s"model has ${model.size}")
    version = v
    (ms, ok)
  }
}
