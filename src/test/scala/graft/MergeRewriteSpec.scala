package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.snapshot.SnapshotLog
import graft.sql.GraftSql

/** The one-probe one-rewrite copy-on-write MERGE (a candidacy probe,
  * on the driver for driver-held source rows, then one full-outer-join
  * rewrite) checked against an in-memory model, its refusal surface, and
  * the single-file local INSERT.
  */
class MergeRewriteSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private type Row4 = (Option[Long], Option[Int], Long, Option[String])

  private def dir(name: String): String = {
    val t = java.nio.file.Paths.get("target", name).toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    t
  }

  private def tableRows(view: String): Seq[Row4] =
    spark.table(view).collect().toSeq.map(r => (
      Option(r.getAs[java.lang.Long]("k")).map(_.longValue),
      Option(r.getAs[java.lang.Integer]("j")).map(_.intValue),
      r.getAs[Long]("v"),
      Option(r.getAs[String]("note"))))

  private def sorted(rows: Seq[Row4]): Seq[Row4] = rows.sortBy(_.toString)

  /** Statement shapes: (clauses, matched update, insert chain). */
  private case class Shape(clauses: String,
      update: (Row4, Row4) => Row4, insert: Row4 => Option[Row4])

  private val shapes = Seq(
    Shape("WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      (_, s) => s, s => Some(s)),
    Shape("WHEN MATCHED THEN UPDATE SET v = t.v + s.v, note = concat(t.note, '+') " +
      "WHEN NOT MATCHED AND s.v % 3 = 0 THEN INSERT (k, j, v, note) " +
      "VALUES (s.k, s.j, s.v * 10, 'ins3') " +
      "WHEN NOT MATCHED AND s.v % 3 = 1 THEN INSERT *",
      (t, s) => (t._1, t._2, t._3 + s._3, t._4.map(_ + "+")),
      s => s._3 % 3 match {
        case 0 => Some((s._1, s._2, s._3 * 10, Some("ins3")))
        case 1 => Some(s)
        case _ => None
      }),
    Shape("WHEN MATCHED THEN UPDATE SET v = s.v - t.v",
      (t, s) => (t._1, t._2, s._3 - t._3, t._4), _ => None),
    Shape("WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED AND s.v > 50 THEN INSERT (k, j, v) VALUES (s.k, s.j, s.v)",
      (_, s) => s, s => if (s._3 > 50) Some((s._1, s._2, s._3, None)) else None))

  test("one-probe one-write MERGE agrees with an in-memory model") {
    import spark.implicits._
    var refused, dupInserted, noCommit = 0
    (0 until 24).foreach { i =>
      val rng = new scala.util.Random(1000L + i)
      val composite = rng.nextBoolean()
      // the merge key of a row; None when a key part is NULL (such a
      // row matches nothing)
      def keyOf(r: Row4): Option[(Long, Int)] =
        if (composite) for (k <- r._1; j <- r._2) yield (k, j)
        else r._1.map(k => (k, 0))
      def note() = if (rng.nextInt(5) == 0) None else Some(s"n${rng.nextInt(9)}")
      // 2-4 files, each one append over its own (possibly overlapping)
      // key window, with duplicate-key and NULL-key rows
      val t = dir(s"merge-model-$i")
      val files = (0 until 2 + rng.nextInt(3)).map { _ =>
        val lo = rng.nextInt(60).toLong
        (0 until 3 + rng.nextInt(6)).map { _ =>
          val k = if (rng.nextInt(8) == 0) None else Some(lo + rng.nextInt(20))
          val j = if (rng.nextInt(10) == 0) None else Some(rng.nextInt(2))
          (k, j, rng.nextInt(40).toLong, note())
        }
      }
      files.foreach(rows => SnapshotLog.commit(
        rows.toDF("k", "j", "v", "note").coalesce(1), t, "append", Seq("k")))
      GraftSql.registerSnapshot(spark, "mr_v", t, None, Seq("k"))
      val target = files.flatten
      // source: matches, in-window misses, keys outside every window,
      // NULL keys, and (by case) a duplicated matching or missing key
      val existing = target.filter(keyOf(_).isDefined)
      val src0: Seq[Row4] = (0 until 2 + rng.nextInt(5)).map { _ =>
        val v = rng.nextInt(100).toLong
        rng.nextInt(5) match {
          case 0 | 1 if existing.nonEmpty =>
            val e = existing(rng.nextInt(existing.size)); (e._1, e._2, v, note())
          case 2 => (Some(rng.nextInt(80).toLong), Some(rng.nextInt(2)), v, note())
          case 3 => (Some(1000L + rng.nextInt(50)), Some(rng.nextInt(2)), v, note())
          case _ => (if (rng.nextBoolean()) None else Some(rng.nextInt(80).toLong),
            if (rng.nextBoolean()) None else Some(0), v, note())
        }
      }.distinctBy(keyOf(_).getOrElse((rng.nextLong(), 0)))
      val src = i % 4 match {
        case 0 if existing.nonEmpty =>
          val e = existing(rng.nextInt(existing.size))
          src0 :+ ((e._1, e._2, 7L, Some("a"))) :+ ((e._1, e._2, 8L, Some("b")))
        case 1 =>
          src0 :+ ((Some(2000L), Some(1), 3L, None)) :+ ((Some(2000L), Some(1), 4L, None))
        case _ => src0
      }
      val srcDf = src.toDF("k", "j", "v", "note")
      // half the cases read a source that has to be pinned
      (if (rng.nextBoolean()) srcDf
       else spark.createDataFrame(srcDf.rdd, srcDf.schema))
        .createOrReplaceTempView("mr_src")
      val shape = shapes(i % shapes.size)
      val on = if (composite) "t.k = s.k AND t.j = s.j" else "t.k = s.k"
      val stmt = s"MERGE INTO mr_v AS t USING mr_src AS s ON $on ${shape.clauses}"

      def matching(r: Row4) = keyOf(r) match {
        case None => Nil
        case kk => src.filter(s => keyOf(s) == kk)
      }
      val v0 = SnapshotLog.latestVersion(spark, t).get
      if (target.exists(r => matching(r).size > 1)) {
        val e = intercept[IllegalArgumentException](GraftSql.dml(spark, stmt))
        assert(e.getMessage == GraftSql.AmbiguousMergeMsg, s"case $i: $stmt")
        assert(SnapshotLog.latestVersion(spark, t).get == v0,
          s"case $i: a refused MERGE published")
        refused += 1
      } else {
        val matchedKeys = target.flatMap(keyOf).toSet
        val updated = target.map(r => matching(r) match {
          case Seq(s) => shape.update(r, s)
          case _ => r
        })
        val unmatched = src.filterNot(s => keyOf(s).exists(matchedKeys))
        val inserted = unmatched.flatMap(shape.insert)
        val changes = target.exists(r => matching(r).nonEmpty) || inserted.nonEmpty
        val v = GraftSql.dml(spark, stmt)
        assert(v == (if (changes) v0 + 1 else v0), s"case $i: version $v after $v0")
        assert(sorted(tableRows("mr_v")) == sorted(updated ++ inserted),
          s"case $i: $stmt\ntarget=$target\nsource=$src")
        if (!changes) noCommit += 1
        if (i % 4 == 1) dupInserted += 1
      }
    }
    // every case family actually ran
    assert(refused > 0 && dupInserted > 0, (refused, dupInserted, noCommit))
  }

  test("the one-rewrite ambiguity refusal surfaces as IllegalArgumentException over its raise_error") {
    import spark.implicits._
    val t = dir("merge-amb")
    SnapshotLog.commit(Seq((1L, 0L), (2L, 0L)).toDF("id", "v"), t, "append",
      Seq("id"))
    GraftSql.registerSnapshot(spark, "mamb_v", t, None, Seq("id"))
    Seq((1L, 5L), (1L, 6L), (9L, 1L)).toDF("id", "v")
      .createOrReplaceTempView("mamb_src")
    val e = intercept[IllegalArgumentException](GraftSql.dml(spark,
      """MERGE INTO mamb_v USING mamb_src ON mamb_v.id = mamb_src.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage == GraftSql.AmbiguousMergeMsg)
    assert(Iterator.iterate[Throwable](e.getCause)(_.getCause)
      .takeWhile(_ != null).exists {
        case st: org.apache.spark.SparkThrowable =>
          st.getCondition == "USER_RAISED_EXCEPTION"
        case _ => false
      }, e.getCause)
    assert(SnapshotLog.latestVersion(spark, t).get == 1L)
  }

  test("refusingAs converts only its own raise_error and rethrows anything else untouched") {
    val msg = GraftSql.AmbiguousMergeMsg
    // a raise_error carrying the text: converted, original kept as cause
    val e = intercept[IllegalArgumentException](GraftSql.refusingAs(msg) {
      spark.range(1).select(raise_error(lit(msg))).collect()
    })
    assert(e.getMessage == msg && e.getCause != null)
    // a failure that merely mentions the text is not a refusal
    val boom = new org.apache.spark.SparkException("job failed",
      new IllegalStateException(s"upstream said: $msg"))
    assert(intercept[org.apache.spark.SparkException](
      GraftSql.refusingAs(msg)(throw boom)) eq boom)
    val udfFail = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException(msg); x }
    val viaTask = intercept[Exception](GraftSql.refusingAs(msg) {
      spark.range(1).select(udfFail(col("id"))).collect()
    })
    assert(!viaTask.isInstanceOf[IllegalArgumentException], viaTask)
    // another raise_error's text is not this refusal either
    val other = intercept[Exception](GraftSql.refusingAs(msg) {
      spark.range(1).select(raise_error(lit("something else"))).collect()
    })
    assert(!other.isInstanceOf[IllegalArgumentException], other)
  }

  test("a 3-row INSERT VALUES adds exactly one file") {
    import spark.implicits._
    val t = dir("insert-one-file")
    SnapshotLog.commit(Seq((1L, 1L)).toDF("id", "v"), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "iof_v", t, None, Seq("id"))
    val before = SnapshotLog.manifest(spark, t, 1L).files.size
    val v = GraftSql.dml(spark, "INSERT INTO iof_v VALUES (2, 2), (3, 3), (4, 4)")
    assert(SnapshotLog.manifest(spark, t, v).files.size == before + 1)
    assert(spark.table("iof_v").count() == 4L)
  }
}
