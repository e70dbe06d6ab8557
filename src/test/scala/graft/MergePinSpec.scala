package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.GraftSql

/** Pin discipline of the DML machinery: a statement's source frame is
  * evaluated EXACTLY once (a non-deterministic source cannot diverge
  * between the candidacy probe and the rewrite), and every pin is
  * released when the statement returns (a long DML session must not
  * accumulate dead storage blocks — the measured failure mode was a
  * suite whose mutation tail thrashed storage memory).
  */
class MergePinSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  private val snap = graft.sources.snapshot.SnapshotLog

  private def freshTable(prefix: String, rows: Int): String = {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", prefix).toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    snap.commit(spark.range(0, rows)
      .select($"id", lit(0L).as("v")), t, "append", Seq("id"))
    t
  }

  /** An accumulator-instrumented source view: every evaluation of the
    * plan bumps the accumulator once per row, so `acc.value / rows` is
    * the number of times the statement evaluated its source.
    */
  private def instrumentedSource(view: String, rows: Int)
      : org.apache.spark.util.LongAccumulator = {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator(s"srcEval-$view")
    val base = spark.range(0, rows).map { i => acc.add(1); (i, i % 7) }
      .toDF("id", "bump")
      .select($"id", $"bump", ($"bump" + 1000).as("v"))
    base.createOrReplaceTempView(view)
    // the SET * / INSERT * fast path requires source columns == table
    // columns — a narrowed twin over the SAME instrumented plan
    base.select($"id", $"v").createOrReplaceTempView(view + "_star")
    acc
  }

  private def graftBlocksBesides(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  test("pin partition count: size-driven, floored at parallelism, capped at the pin's own count") {
    val target = 64L << 20
    // the optimizer's size sentinel (storage info reported 0): ~6.9e10
    // size-driven partitions must cap at nParts, not wrap through Int
    assert(snap.pinPartitions(Long.MaxValue / 2, target, 200, 4) == 200)
    assert(snap.pinPartitions(Long.MaxValue / 2, target, 3, 4) == 3)
    // 0 bytes: the parallelism floor, itself never above nParts
    assert(snap.pinPartitions(0L, target, 200, 4) == 4)
    assert(snap.pinPartitions(0L, target, 2, 4) == 2)
    // a normal size: one partition per advisory target
    assert(snap.pinPartitions(1L << 30, target, 200, 4) == 16)
    assert(snap.pinPartitions((1L << 30) + 1, target, 200, 4) == 17)
    assert(snap.pinPartitions(1L << 30, target, 10, 4) == 10)
  }

  test("MERGE evaluates its source exactly once, for every clause shape") {
    val rows = 40
    val acc = instrumentedSource("pin_src", rows)
    val statements = Seq(
      // unconditional star fast path (upsert)
      """MERGE INTO pin_v USING pin_src_star
        |ON pin_v.id = pin_src_star.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      // generic path: conditions, explicit bodies, multi-clause
      """MERGE INTO pin_v USING pin_src ON pin_v.id = pin_src.id
        |WHEN MATCHED AND pin_src.bump = 3 THEN DELETE
        |WHEN MATCHED AND pin_src.bump > 4 THEN UPDATE SET v = pin_src.v
        |WHEN MATCHED THEN UPDATE SET v = pin_v.v + 1
        |WHEN NOT MATCHED AND pin_src.bump = 0 THEN INSERT (id, v)
        |  VALUES (pin_src.id + 100, 1)
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      // by-source family (reads the target once, CDC machinery)
      """MERGE INTO pin_v USING pin_src ON pin_v.id = pin_src.id
        |WHEN MATCHED THEN UPDATE SET v = pin_src.v
        |WHEN NOT MATCHED BY SOURCE AND pin_v.id %% 2 = 0 THEN DELETE"""
        .stripMargin.replace("%%", "%"),
      // residual ON (mergeMatched path)
      """MERGE INTO pin_v USING pin_src ON pin_v.id = pin_src.id
        |AND pin_v.id >= 10
        |WHEN MATCHED THEN UPDATE SET v = pin_src.v""".stripMargin)
    statements.zipWithIndex.foreach { case (stmt, i) =>
      // fresh table per statement so every shape sees matched AND
      // unmatched rows (the schema carries id/v; source has id/bump/v)
      val t = freshTable(s"pin-merge-$i", 60)
      GraftSql.registerSnapshot(spark, "pin_v", t, None, Seq("id"))
      acc.reset()
      GraftSql.dml(spark, stmt.replace("pin_v", "pin_v"))
      assert(acc.value == rows.toLong,
        s"statement $i evaluated its source ${acc.value}/$rows times " +
          "(pin broken: must be exactly once)")
    }
  }

  test("UPDATE/DELETE IN-subquery evaluate the subquery exactly once") {
    val rows = 40
    val acc = instrumentedSource("pin_sub_src", rows)
    val t = freshTable("pin-sub", 60)
    GraftSql.registerSnapshot(spark, "pin_sub_v", t, None, Seq("id"))
    acc.reset()
    GraftSql.dml(spark,
      "UPDATE pin_sub_v SET v = 5 WHERE id IN (SELECT id FROM pin_sub_src)")
    assert(acc.value == rows.toLong,
      s"updateKeys evaluated the subquery ${acc.value}/$rows times")
    acc.reset()
    GraftSql.dml(spark,
      "DELETE FROM pin_sub_v WHERE id IN (SELECT id FROM pin_sub_src)")
    assert(acc.value == rows.toLong,
      s"deleteKeysMOR evaluated the subquery ${acc.value}/$rows times")
  }

  test("every mutation pin is released when the statement returns") {
    val rows = 40
    instrumentedSource("pin_rel_src", rows)
    val t = freshTable("pin-rel", 60)
    GraftSql.registerSnapshot(spark, "pin_rel_v", t, None, Seq("id"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val statements = Seq(
      """MERGE INTO pin_rel_v USING pin_rel_src_star
        |ON pin_rel_v.id = pin_rel_src_star.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      """MERGE INTO pin_rel_v USING pin_rel_src
        |ON pin_rel_v.id = pin_rel_src.id
        |WHEN MATCHED AND pin_rel_src.bump > 2 THEN UPDATE SET v = 9
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
      "UPDATE pin_rel_v SET v = 1 WHERE id IN (SELECT id FROM pin_rel_src)",
      "DELETE FROM pin_rel_v WHERE id IN (SELECT id FROM pin_rel_src)")
    statements.foreach { stmt =>
      GraftSql.dml(spark, stmt)
      val leaked = graftBlocksBesides(before)
      assert(leaked.isEmpty,
        s"statement left pinned storage blocks behind (RDDs $leaked): " +
          stmt.linesIterator.next())
    }
  }

  test("by-source MERGE builds the target anti-join once, not per derived frame") {
    val t = freshTable("pin-bysrc", 40)
    GraftSql.registerSnapshot(spark, "pin_bys_v", t, None, Seq("id"))
    spark.range(0, 10).toDF("id").createOrReplaceTempView("pin_bys_src")
    // count Dataset executions that SCAN the target's files: the
    // anti-join is pinned (one RDD materialization, invisible here),
    // so the refusal probe, the D rows, and the U rows must all read
    // the pin — the only plan-visible target scans left are the
    // rewrite read inside the commit itself. Pre-pin, every derived
    // frame re-scanned the table (3+ scans).
    val marker = new java.io.File(t).getName
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains(marker))
          scans.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      GraftSql.dml(spark,
        """MERGE INTO pin_bys_v USING pin_bys_src
          |ON pin_bys_v.id = pin_bys_src.id
          |WHEN NOT MATCHED BY SOURCE AND pin_bys_v.id % 2 = 0
          |  THEN DELETE""".stripMargin)
      // the execution listener is async on the listener bus
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(scans.get <= 2,
        s"target scanned ${scans.get} times in Dataset executions — " +
          "the by-source anti-join is no longer pinned")
    } finally spark.listenerManager.unregister(listener)
  }

  test("a refused MERGE releases its pins too") {
    import spark.implicits._
    val t = freshTable("pin-refuse", 10)
    GraftSql.registerSnapshot(spark, "pin_ref_v", t, None, Seq("id"))
    Seq((1L, 1L), (1L, 2L)).toDF("id", "v")
      .createOrReplaceTempView("pin_ref_dup")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO pin_ref_v USING pin_ref_dup
          |ON pin_ref_v.id = pin_ref_dup.id
          |WHEN MATCHED THEN UPDATE SET v = pin_ref_dup.v""".stripMargin)
    }
    val leaked = graftBlocksBesides(before)
    assert(leaked.isEmpty, s"refused MERGE leaked pins: $leaked")
  }

  test("the pinned MERGE source is column-pruned to referenced columns") {
    import spark.implicits._
    val t = freshTable("pin-prune", 20)
    GraftSql.registerSnapshot(spark, "ppr_v", t, None, Seq("id"))
    // a WIDE source: ten ballast columns the statement never names —
    // the pin must not pay to materialize them (the checkpoint's cost
    // is its materialized bytes; at a 50-column source the difference
    // is the whole point of pruning)
    val wide = spark.range(0, 10).select(
      ($"id" +: ($"id" % 7).as("bump") +:
        (0 until 10).map(i => ($"id" * i).as(s"ballast$i"))): _*)
    wide.createOrReplaceTempView("ppr_src")
    val schemas = new java.util.concurrent.CopyOnWriteArrayList[Seq[String]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        schemas.add(qe.analyzed.output.map(_.name))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      GraftSql.dml(spark,
        """MERGE INTO ppr_v USING ppr_src ON ppr_v.id = ppr_src.id
          |WHEN MATCHED THEN UPDATE SET v = ppr_src.bump
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (ppr_src.id, 0)""".stripMargin)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      // the source pin materialized exactly {id, bump}; no execution
      // anywhere in the statement touched a ballast column
      assert(schemas.asScala.exists(_.toSet == Set("id", "bump")),
        s"no pruned source checkpoint seen: ${schemas.asScala.toList}")
      assert(!schemas.asScala.exists(_.exists(_.startsWith("ballast"))),
        "a ballast column was materialized into the pin")
    } finally spark.listenerManager.unregister(listener)
    // semantics unchanged by the pruning
    val got = spark.sql("SELECT count(*), sum(v) FROM ppr_v").head
    assert(got.toSeq == Seq(20L, 24L), got.toSeq)
  }

  test("the per-row resolution window rides only CONDITIONAL clause shapes") {
    import spark.implicits._
    val t = freshTable("pin-plan", 30)
    GraftSql.registerSnapshot(spark, "pp_v", t, None, Seq("id"))
    spark.range(0, 10).select($"id", ($"id" * 2).as("v"))
      .createOrReplaceTempView("pp_src")
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // a single UNCONDITIONAL clause: no row can ride, so the plan
      // must not pay a window pass (the fast branch)
      GraftSql.dml(spark,
        """MERGE INTO pp_v USING pp_src ON pp_v.id = pp_src.id
          |WHEN MATCHED THEN UPDATE SET v = pp_src.v + 1""".stripMargin)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      assert(!plans.asScala.exists(_.contains("Window")),
        "an unconditional explicit-body MERGE paid a per-key window")
      plans.clear()
      // a CONDITIONAL clause: riders are possible, the per-row
      // resolution window must be in the plan
      GraftSql.dml(spark,
        """MERGE INTO pp_v USING pp_src ON pp_v.id = pp_src.id
          |WHEN MATCHED AND pp_src.v > 4 THEN UPDATE SET v = 0""".stripMargin)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(plans.asScala.exists(_.contains("Window")),
        "a conditional MERGE lost the per-row resolution window")
    } finally spark.listenerManager.unregister(listener)
  }

  /** SQL executions `body` starts, counted off the listener bus. */
  private def sqlExecutions(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          n.incrementAndGet(); ()
        case _ => ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("a star MERGE runs one probe and one write, plus one pin for a source that could diverge") {
    import spark.implicits._
    val t = freshTable("pin-execs", 60)
    GraftSql.registerSnapshot(spark, "pex_v", t, None, Seq("id"))
    // driver-local source: no pin, so the probe and the write only
    Seq((5L, 50L), (6L, 60L), (500L, 1L)).toDF("id", "v")
      .createOrReplaceTempView("pex_local")
    val local = sqlExecutions {
      GraftSql.dml(spark,
        """MERGE INTO pex_v USING pex_local ON pex_v.id = pex_local.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(local <= 2, s"local-source star MERGE ran $local SQL executions")
    // a range-backed source is pinned once: still evaluated exactly once
    val rows = 40
    val acc = instrumentedSource("pex_range", rows)
    acc.reset()
    val ranged = sqlExecutions {
      GraftSql.dml(spark,
        """MERGE INTO pex_v USING pex_range_star
          |ON pex_v.id = pex_range_star.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(ranged <= 3, s"range-source star MERGE ran $ranged SQL executions")
    assert(acc.value == rows.toLong,
      s"range-source star MERGE evaluated its source ${acc.value}/$rows times")
    val got = spark.sql("SELECT count(*), sum(v) FROM pex_v").head
    // ids 0-59 plus 500; rows 0-39 carry (id % 7) + 1000 from the range
    // source, 5/6 were overwritten again by it, 40-59 keep 0
    val want = (0 until 40).map(i => i % 7 + 1000L).sum + 1L
    assert(got.toSeq == Seq(61L, want), got.toSeq)
  }

  test("a failed pin releases only its own blocks, never another session's pin") {
    import MergePinSpec.Gate
    val sc = spark.sparkContext
    val a = spark.newSession()
    val b = spark.newSession()
    Gate.reset()
    // session A's pin: three partitions finish (and cache their blocks),
    // the fourth waits until session B has pinned, then fails
    val gate = udf { (id: Long) =>
      if (id == 7L) {
        Gate.aRunning.countDown()
        Gate.bPinned.await(60, java.util.concurrent.TimeUnit.SECONDS)
        throw new IllegalStateException("pin materialization failed")
      }
      id
    }
    val failing = a.range(0, 8, 1, 4).select(gate(col("id")).as("id"))
    val before = sc.getPersistentRDDs.keySet.toSet
    val aPin = scala.concurrent.Future(snap.pin(failing))(
      scala.concurrent.ExecutionContext.global)
    assert(Gate.aRunning.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "session A's pin never reached its failing partition")
    val bPinned = snap.pin(b.range(0, 100, 1, 2).toDF("id"))
    try {
      Gate.bPinned.countDown()
      val err = intercept[Exception](scala.concurrent.Await.result(aPin,
        scala.concurrent.duration.Duration(60, "s")))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "pin materialization failed"), err)
      val bIds = bPinned.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      assert(bIds.nonEmpty)
      val cached = sc.getRDDStorageInfo.filter(i => bIds(i.id))
      assert(cached.nonEmpty && cached.forall(_.numCachedPartitions > 0),
        s"session A's failed pin evicted session B's blocks: ${cached.toSeq}")
      // nothing of A's failed attempt stays behind
      assert(graftBlocksBesides(before) == bIds,
        s"failed pin left blocks: ${graftBlocksBesides(before) -- bIds}")
      assert(bPinned.count() == 100L)
    } finally snap.unpinBlocking(bPinned)
  }
}

object MergePinSpec {
  /** Cross-thread latches for the two-session pin test (tasks run in
    * the driver JVM under a local master, so they see this object).
    */
  object Gate {
    @volatile var aRunning = new java.util.concurrent.CountDownLatch(1)
    @volatile var bPinned = new java.util.concurrent.CountDownLatch(1)
    def reset(): Unit = {
      aRunning = new java.util.concurrent.CountDownLatch(1)
      bPinned = new java.util.concurrent.CountDownLatch(1)
    }
  }
}
