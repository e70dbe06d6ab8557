package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.GraftSql

/** SQL surface: registered views + kernel functions must agree exactly
  * with the DataFrame surface (same kernels, same plans).
  */
class SqlSurfaceSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  test("registered kernel functions match the DataFrame kernels row-for-row") {
    GraftSql.init(spark, dir)
    val viaSql = spark.sql(
      """SELECT doc_id, graft_quality_score(text) AS q, graft_lang_id(text) AS l,
        | graft_token_count(text) AS n, graft_fingerprint(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin).collect()
    val viaDf = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.FastText.qualityScoreUdf(col("text")).as("q"),
        graft.functions.FastText.langIdUdf(col("text")).as("l"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")).collect()
    assert(viaSql.length == viaDf.length && viaSql.length > 0)
    viaSql.zip(viaDf).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("binary decode kernels are reachable from SQL (npy/wav/y4m)") {
    GraftSql.init(spark, dir)
    import java.nio.file.{Files, Paths}
    def res(p: String): Array[Byte] =
      Files.readAllBytes(Paths.get(getClass.getResource(p).toURI))
    import spark.implicits._
    Seq(
      ("npy", res("/npy/f4_2x3.npy")),
      ("wav", res("/wav/pcm16_mono.wav")),
      ("y4m", res("/y4m/c420_3f.y4m")),
      ("bad", Array[Byte](1, 2, 3)))
      .toDF("kind", "raw").createOrReplaceTempView("blobs")
    val r = spark.sql(
      """SELECT
        | (SELECT graft_npy_decode(raw).shape[0] FROM blobs WHERE kind='npy') AS npy_rows,
        | (SELECT graft_wav_decode(raw).n_frames FROM blobs WHERE kind='wav') AS wav_frames,
        | (SELECT graft_y4m_meta(raw).n_frames  FROM blobs WHERE kind='y4m') AS y4m_frames,
        | (SELECT graft_npy_decode(raw) FROM blobs WHERE kind='bad') AS bad""".stripMargin)
      .collect().head
    assert(r.getInt(0) == 2 && r.getInt(1) == 6 && r.getInt(2) == 3)
    assert(r.isNullAt(3), "malformed payload must be NULL in SQL too")
  }

  test("all corpus tables register as queryable views") {
    GraftSql.init(spark, dir)
    graft.core.Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT count(*) FROM $n").collect().head.getLong(0) > 0, n)
    }
  }

  test("registration is idempotent and re-points to a new corpus dir") {
    GraftSql.init(spark, dir)
    val n1 = spark.sql("SELECT count(*) FROM documents").collect().head.getLong(0)
    GraftSql.init(spark, dir) // re-register, same dir: no error, same count
    assert(spark.sql("SELECT count(*) FROM documents").collect().head.getLong(0) == n1)
  }

  test("q9b through spark.sql equals the equivalent DataFrame query") {
    val viaSql = graft.queries.SqlSurfaceQueries.queries("q9b_sql_surface")(spark, dir).collect()
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val viaDf = docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"),
        graft.functions.Portable.pround(
          avg(graft.functions.FastText.qualityScoreUdf(col("text"))), 5).as("mean_quality"),
        countDistinct(graft.functions.TextFunctions.fingerprint(col("text"))).as("n_fingerprints"),
        count(when(graft.functions.FastText.langIdUdf(col("text")) === col("lang"), lit(1)))
          .as("n_lang_match"))
      .orderBy(col("lang")).collect()
    assert(viaSql.length == viaDf.length && viaSql.nonEmpty)
    viaSql.zip(viaDf).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("snapshot tables reach spark.sql via registerSnapshot, per version") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-snap").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 50).select($"id", ($"id" % 5).as("k")).coalesce(1),
      t, "append", Seq("id"))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(50, 80).select($"id", ($"id" % 5).as("k")).coalesce(1),
      t, "append", Seq("id"))
    graft.sql.GraftSql.registerSnapshot(spark, "snap_sql", t)
    assert(spark.sql("SELECT count(*), sum(id) FROM snap_sql").head ===
      org.apache.spark.sql.Row(80L, (0L until 80).sum))
    // re-register at an old version: SQL time travel
    graft.sql.GraftSql.registerSnapshot(spark, "snap_sql", t, Some(1L))
    assert(spark.sql("SELECT count(*) FROM snap_sql").head.getLong(0) == 50L)
    // the files metadata view: per-file accounting from the manifest
    graft.sql.GraftSql.registerSnapshotFiles(spark, "snap_files", t, Seq("id"))
    val files = spark.sql(
      "SELECT rows, CAST(min_id AS BIGINT), CAST(max_id AS BIGINT), nulls_id " +
        "FROM snap_files ORDER BY CAST(min_id AS BIGINT)").collect()
    assert(files.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((50L, 0L, 49L, 0L), (30L, 50L, 79L, 0L)))
  }

  test("SQL DML round-trip: DELETE / INSERT / MERGE route to the snapshot mutations") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-dml").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 100).select($"id", ($"id" % 5).as("k")).repartition(4, $"id"),
      t, "append", Seq("id"))
    graft.sql.GraftSql.registerSnapshot(spark, "dml_v", t, None, Seq("id"))

    // DELETE: CoW range delete, view repoints to the new version
    graft.sql.GraftSql.dml(spark, "DELETE FROM dml_v WHERE id BETWEEN 10 AND 19")
    assert(spark.sql("SELECT count(*) FROM dml_v").head.getLong(0) == 90L)
    assert(spark.sql("SELECT count(*) FROM dml_v WHERE id BETWEEN 10 AND 19")
      .head.getLong(0) == 0L)

    // INSERT INTO ... SELECT: an append commit through the same gate
    graft.sql.GraftSql.dml(spark,
      "INSERT INTO dml_v SELECT id, id % 5 AS k FROM range(200, 210)")
    assert(spark.sql("SELECT count(*) FROM dml_v").head.getLong(0) == 100L)

    // MERGE upsert: updates land, new keys insert
    spark.range(0, 3).select($"id", lit(77L).as("k"))
      .unionByName(Seq((500L, 1L)).toDF("id", "k"))
      .createOrReplaceTempView("dml_src")
    val vUp = graft.sql.GraftSql.dml(spark,
      """MERGE INTO dml_v USING dml_src ON dml_v.id = dml_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM dml_v").head.getLong(0) == 101L)
    assert(spark.sql("SELECT count(*) FROM dml_v WHERE k = 77").head.getLong(0) == 3L)
    assert(graft.sources.snapshot.SnapshotLog.latestVersion(spark, t).contains(vUp))

    // MERGE with a delete clause: CDC applyChanges (U upserts, D removes)
    Seq((500L, 2L, "U"), (0L, 0L, "D"))
      .toDF("id", "k", "op").createOrReplaceTempView("dml_cdc")
    graft.sql.GraftSql.dml(spark,
      """MERGE INTO dml_v USING dml_cdc ON dml_v.id = dml_cdc.id
        |WHEN MATCHED AND dml_cdc.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM dml_v").head.getLong(0) == 100L)
    assert(spark.sql("SELECT k FROM dml_v WHERE id = 500").head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM dml_v WHERE id = 0").head.getLong(0) == 0L)

    // history intact: every pre-DML version still readable (time travel)
    assert(graft.sources.snapshot.SnapshotLog.read(spark, t, Some(1L)).count() == 100L)

    // non-DML and unregistered targets refuse loudly
    intercept[IllegalArgumentException] {
      graft.sql.GraftSql.dml(spark, "DROP TABLE dml_v")
    }
    intercept[IllegalArgumentException] {
      graft.sql.GraftSql.dml(spark, "DELETE FROM nowhere WHERE id = 1")
    }

    // PINNED views (explicit version or tag) are read-only: DML would
    // mutate the table head and silently drop the pin
    graft.sql.GraftSql.registerSnapshot(spark, "dml_pin", t, Some(1L))
    val e1 = intercept[IllegalArgumentException] {
      graft.sql.GraftSql.dml(spark, "DELETE FROM dml_pin WHERE id = 1")
    }
    assert(e1.getMessage.contains("pinned"))
    graft.sources.snapshot.SnapshotLog.createTag(spark, t, "audit")
    graft.sql.GraftSql.registerSnapshotTag(spark, "dml_tagged", t, "audit")
    val e2 = intercept[IllegalArgumentException] {
      graft.sql.GraftSql.dml(spark, "DELETE FROM dml_tagged WHERE id = 1")
    }
    assert(e2.getMessage.contains("pinned"))
  }

  test("SQL DDL: ALTER TABLE RENAME COLUMN / ADD COLUMN are metadata-only and repoint the view") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-ddl").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 50).select($"id", ($"id" % 5).as("k")),
      t, "append", Seq("id"))
    graft.sql.GraftSql.registerSnapshot(spark, "ddl_v", t, None, Seq("id"))
    graft.sql.GraftSql.dml(spark, "ALTER TABLE ddl_v RENAME COLUMN k TO bucket")
    // the view re-registered with the new schema; old files serve it
    assert(spark.sql("SELECT sum(bucket) FROM ddl_v").head.getLong(0) ==
      (0L until 50).map(_ % 5).sum)
    graft.sql.GraftSql.dml(spark, "ALTER TABLE ddl_v ADD COLUMN note STRING")
    assert(spark.sql("SELECT count(*) FROM ddl_v WHERE note IS NULL")
      .head.getLong(0) == 50L)
    // DML composes after the DDL: insert under the renamed/evolved shape
    graft.sql.GraftSql.dml(spark,
      "INSERT INTO ddl_v SELECT id, id % 5 AS bucket, 'new' AS note FROM range(100, 110)")
    assert(spark.sql("SELECT count(*) FROM ddl_v WHERE note = 'new'")
      .head.getLong(0) == 10L)
    assert(spark.sql("SELECT sum(bucket) FROM ddl_v").head.getLong(0) ==
      (0L until 50).map(_ % 5).sum + (100L until 110).map(_ % 5).sum)
  }

  test("SQL OPTIMIZE / OPTIMIZE ZORDER / VACUUM run the maintenance ops") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-opt").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    // 4 small files across two numeric dimensions
    (0 until 4).foreach(i => snap.commit(
      spark.range(i * 100, i * 100 + 100)
        .select($"id", (($"id" * 37) % 400).as("y"), lit("p").as("payload"))
        .repartition(1),
      t, "append", Seq("id", "y")))
    graft.sql.GraftSql.registerSnapshot(spark, "opt_v", t, None, Seq("id", "y"))
    val before = snap.tableStats(spark, t)
    assert(before.files == 4)
    graft.sql.GraftSql.dml(spark, "OPTIMIZE opt_v ZORDER BY (id, y)")
    val after = snap.tableStats(spark, t)
    assert(after.rows == before.rows)
    assert(spark.sql("SELECT count(*) FROM opt_v").head.getLong(0) == 400L)
    // the transient cluster key never leaks into the table schema
    assert(snap.read(spark, t).columns.toSeq == Seq("id", "y", "payload"))
    // VACUUM clears debris without touching referenced files
    val dataDir = new java.io.File(t, "data").listFiles().head
    val orphanSrc = dataDir.listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(dataDir, "orphan-copy.parquet")
    java.nio.file.Files.copy(orphanSrc.toPath, orphan.toPath)
    graft.sql.GraftSql.dml(spark, "VACUUM opt_v")
    assert(!orphan.exists())
    assert(spark.sql("SELECT count(*) FROM opt_v").head.getLong(0) == 400L)
    // an unknown statement still refuses loudly
    intercept[IllegalArgumentException] {
      graft.sql.GraftSql.dml(spark, "DROP TABLE opt_v") }
  }

  test("SQL UPDATE rewrites only files that may match; VERSION AS OF time-travels") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-upd").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    (0 until 4).foreach(i => snap.commit(
      spark.range(i * 100, i * 100 + 100)
        .select($"id", ($"id" % 7).as("k"),
          concat(lit("row"), $"id").as("payload")).repartition(1),
      t, "append", Seq("id")))
    GraftSql.registerSnapshot(spark, "upd_v", t, None, Seq("id"))
    val before = snap.manifest(spark, t, 4L).files.map(_.path).toSet
    // range UPDATE across two of the four buckets; expression references
    // other columns and holds a top-level function with a comma
    GraftSql.dml(spark,
      "UPDATE upd_v SET k = k + 1000, payload = concat('u-', payload) " +
        "WHERE id BETWEEN 150 AND 249")
    val after = snap.manifest(spark, t,
      snap.latestVersion(spark, t).get).files.map(_.path).toSet
    assert((before intersect after).size == 2,
      "UPDATE rewrote files its predicate provably missed")
    assert(spark.sql(
      "SELECT count(*) FROM upd_v WHERE k >= 1000 AND payload LIKE 'u-%'")
      .head.getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) FROM upd_v").head.getLong(0) == 400L)
    // equality form
    GraftSql.dml(spark, "UPDATE upd_v SET payload = 'answer' WHERE id = 42")
    assert(spark.sql("SELECT payload FROM upd_v WHERE id = 42")
      .head.getString(0) == "answer")
    // VERSION AS OF: the pre-update snapshot still serves its content
    assert(GraftSql.query(spark,
      "SELECT count(*) AS n FROM upd_v VERSION AS OF 4 WHERE k >= 1000")
      .head.getLong(0) == 0L)
    assert(GraftSql.query(spark,
      "SELECT payload FROM upd_v VERSION AS OF 4 WHERE id = 42")
      .head.getString(0) == "row42")
    // a clause inside a literal is data; an unregistered name is Spark's
    assert(GraftSql.query(spark,
      "SELECT 'upd_v VERSION AS OF 1' AS doc").head.getString(0)
      == "upd_v VERSION AS OF 1")
    // a no-match UPDATE commits nothing
    val vNow = snap.latestVersion(spark, t).get
    GraftSql.dml(spark,
      "UPDATE upd_v SET k = 0 WHERE id BETWEEN 9000 AND 9999")
    assert(snap.latestVersion(spark, t).contains(vNow))
    // reassigning the predicate column refuses (re-keying is an upsert)
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark, "UPDATE upd_v SET id = 0 WHERE id BETWEEN 0 AND 9")
    }
    assert(e.getMessage.contains("upsert"))
  }

  test("RESTORE TABLE and CHECK constraints answer through the SQL surface") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-rst").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 50).select($"id", ($"id" % 5).as("k")),
      t, "append", Seq("id"))
    val tsV1 = snap.manifest(spark, t, 1L).ts
    Thread.sleep(5)
    GraftSql.registerSnapshot(spark, "rst_v", t, None, Seq("id"))
    GraftSql.dml(spark, "DELETE FROM rst_v WHERE id BETWEEN 0 AND 24")
    assert(spark.sql("SELECT count(*) FROM rst_v").head.getLong(0) == 25L)
    // RESTORE TO VERSION: metadata-only rollback, view repoints
    val v3 = GraftSql.dml(spark, "RESTORE TABLE rst_v TO VERSION AS OF 1")
    assert(v3 == 3L)
    assert(spark.sql("SELECT count(*) FROM rst_v").head.getLong(0) == 50L)
    // RESTORE TO TIMESTAMP: resolves through versionAt, same walk
    GraftSql.dml(spark, "DELETE FROM rst_v WHERE id BETWEEN 0 AND 9")
    GraftSql.dml(spark, s"RESTORE TABLE rst_v TO TIMESTAMP AS OF $tsV1")
    assert(spark.sql("SELECT count(*) FROM rst_v").head.getLong(0) == 50L)
    // ADD CONSTRAINT validates existing rows, then binds future writes
    GraftSql.dml(spark, "ALTER TABLE rst_v ADD CONSTRAINT id_cap CHECK (id < 1000)")
    val e = intercept[Exception] {
      GraftSql.dml(spark,
        "INSERT INTO rst_v SELECT id + 5000 AS id, CAST(0 AS BIGINT) AS k FROM range(0, 3)")
    }
    assert(e.getMessage.contains("id_cap"), e.getMessage)
    // a registration that existing rows violate refuses and withdraws
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark, "ALTER TABLE rst_v ADD CONSTRAINT bad CHECK (id < 10)")
    }
    assert(e2.getMessage.contains("violate"), e2.getMessage)
    // DROP CONSTRAINT re-opens the gate
    GraftSql.dml(spark, "ALTER TABLE rst_v DROP CONSTRAINT id_cap")
    GraftSql.dml(spark,
      "INSERT INTO rst_v SELECT id + 5000 AS id, CAST(0 AS BIGINT) AS k FROM range(0, 3)")
    assert(spark.sql("SELECT count(*) FROM rst_v").head.getLong(0) == 53L)
  }

  test("TIMESTAMP AS OF resolves the newest version at or before the instant") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-tao").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 50).select($"id", ($"id" % 5).as("k")),
      t, "append", Seq("id"))
    val tsV1 = snap.manifest(spark, t, 1L).ts
    Thread.sleep(5) // v2 must publish at a strictly later millisecond
    snap.deleteWhere(spark, t, "id", 0L, 24L, Seq("id"))
    GraftSql.registerSnapshot(spark, "tao_v", t, None, Seq("id"))

    // epoch-millis form: v1's publish instant serves v1's content
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS n FROM tao_v TIMESTAMP AS OF $tsV1")
      .head.getLong(0) == 50L)
    // quoted UTC form, resolved through the same walk
    val iso = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(tsV1), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(GraftSql.query(spark,
      s"SELECT count(*) AS n FROM tao_v TIMESTAMP AS OF '$iso'")
      .head.getLong(0) == 50L)
    // an instant after v2 serves the current content; both clauses
    // compose in one statement
    val now = System.currentTimeMillis() + 1000
    val r = GraftSql.query(spark,
      s"SELECT (SELECT count(*) FROM tao_v TIMESTAMP AS OF $now) AS a, " +
        "(SELECT count(*) FROM tao_v VERSION AS OF 1) AS b").head
    assert(r.getLong(0) == 25L && r.getLong(1) == 50L)
    // a clause inside a literal is data, not time travel
    assert(GraftSql.query(spark,
      "SELECT 'tao_v TIMESTAMP AS OF 123' AS doc").head.getString(0)
      == "tao_v TIMESTAMP AS OF 123")
    // before the table existed: loud refusal with the expiry contract
    val e = intercept[IllegalArgumentException] {
      GraftSql.query(spark,
        s"SELECT count(*) FROM tao_v TIMESTAMP AS OF ${tsV1 - 100000}")
    }
    assert(e.getMessage.contains("no version"), e.getMessage)
    // a malformed quoted timestamp gets a typed error
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.query(spark,
        "SELECT count(*) FROM tao_v TIMESTAMP AS OF 'not-a-time'")
    }
    assert(e2.getMessage.contains("TIMESTAMP AS OF"), e2.getMessage)
  }

  test("compound WHERE: AND-conjunctions classify per conjunct; OR refuses loudly") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-cmp").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    // four single-file buckets over correlated (id, k = bucket index)
    (0 until 4).foreach(b => snap.commit(
      spark.range(b * 100L, b * 100L + 100)
        .select($"id", lit(b.toLong).as("k"),
          concat(lit("row"), $"id").as("payload")).repartition(1),
      t, "append", Seq("id", "k")))
    GraftSql.registerSnapshot(spark, "cmp_v", t, None, Seq("id", "k"))
    val before = snap.manifest(spark, t, 4L).files.map(_.path).toSet

    // UPDATE with BETWEEN AND =: the k conjunct excludes buckets the id
    // window alone would rewrite — exactly one file touched
    GraftSql.dml(spark,
      "UPDATE cmp_v SET payload = concat('u-', payload) " +
        "WHERE id BETWEEN 150 AND 349 AND k = 2")
    val after = snap.manifest(spark, t,
      snap.latestVersion(spark, t).get).files.map(_.path).toSet
    assert((before intersect after).size == 3,
      "a conjunct-excluded file was rewritten")
    assert(spark.sql(
      "SELECT count(*) FROM cmp_v WHERE payload LIKE 'u-%'")
      .head.getLong(0) == 100L)
    assert(spark.sql(
      "SELECT min(id), max(id) FROM cmp_v WHERE payload LIKE 'u-%'")
      .head match { case r => r.getLong(0) == 200L && r.getLong(1) == 299L })

    // DELETE with three conjuncts incl. a strict inequality
    GraftSql.dml(spark,
      "DELETE FROM cmp_v WHERE id >= 300 AND id < 350 AND k = 3")
    assert(spark.sql("SELECT count(*) FROM cmp_v").head.getLong(0) == 350L)
    assert(spark.sql("SELECT count(*) FROM cmp_v WHERE id = 350")
      .head.getLong(0) == 1L, "strict < deleted its boundary row")

    // string literal with an escaped quote, in SET and in WHERE
    GraftSql.dml(spark,
      "UPDATE cmp_v SET payload = 'it''s, fine' WHERE id = 0 AND k = 0")
    assert(spark.sql("SELECT payload FROM cmp_v WHERE id = 0")
      .head.getString(0) == "it's, fine")
    GraftSql.dml(spark,
      "DELETE FROM cmp_v WHERE payload = 'it''s, fine' AND id <= 10")
    assert(spark.sql("SELECT count(*) FROM cmp_v WHERE id = 0")
      .head.getLong(0) == 0L)

    // an OR predicate routes to the merge-on-read positional delete:
    // the predicate executes exactly, ZERO data files are written
    // (masks only), and OPTIMIZE pays the debt later
    val filesB = snap.manifest(spark, t,
      snap.latestVersion(spark, t).get).files.map(_.path).toSet
    GraftSql.dml(spark,
      "DELETE FROM cmp_v WHERE id BETWEEN 1 AND 4 OR id BETWEEN 396 AND 399")
    val mAfter = snap.manifest(spark, t, snap.latestVersion(spark, t).get)
    assert(mAfter.files.map(_.path).toSet.subsetOf(filesB),
      "an arbitrary-predicate DELETE must not write data files")
    assert(mAfter.files.exists(_.dv.isDefined), "expected DV masks")
    assert(spark.sql("SELECT count(*) FROM cmp_v").head.getLong(0) == 341L)
    assert(spark.sql(
      "SELECT count(*) FROM cmp_v WHERE id <= 4 OR id >= 396")
      .head.getLong(0) == 0L)

    // an arbitrary-predicate UPDATE rewrites ONLY the files that hold
    // a match (the located set), not every stats-plausible file
    val filesB2 = mAfter.files.map(_.path).toSet
    GraftSql.dml(spark,
      "UPDATE cmp_v SET payload = 'lo' WHERE id = 5 OR id = 7")
    val after2 = snap.manifest(spark, t,
      snap.latestVersion(spark, t).get).files.map(_.path).toSet
    assert((filesB2 intersect after2).size == filesB2.size - 1,
      s"arbitrary UPDATE should rewrite exactly the one matched file")
    assert(spark.sql("SELECT count(*) FROM cmp_v WHERE payload = 'lo'")
      .head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM cmp_v").head.getLong(0) == 341L)
    // the rewrite materialized the matched file's DV: masked rows stay dead
    assert(spark.sql("SELECT count(*) FROM cmp_v WHERE id <= 4")
      .head.getLong(0) == 0L)

    // nonsense still refuses loudly and commits nothing
    val vNow = snap.latestVersion(spark, t).get
    intercept[Exception] {
      GraftSql.dml(spark, "DELETE FROM cmp_v WHERE id ==== 5")
    }
    intercept[Exception] { // unknown column resolves to a loud failure
      GraftSql.dml(spark, "DELETE FROM cmp_v WHERE id = abc")
    }
    assert(snap.latestVersion(spark, t).contains(vNow),
      "a refused statement must not commit")
  }

  test("literalSpans honors backslash escapes (rewrite immunity inside literals)") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-bse").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 10).select($"id", ($"id" % 3).as("k")), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "bse_v", t, None, Seq("id"))
    // a backslash-escaped quote inside a literal must not terminate the
    // span: the table_changes shape AFTER it is still inside the string
    // and must survive the rewrite byte-identically, while the LIVE
    // call outside it still rewrites
    val r = GraftSql.query(spark,
      "SELECT 'it\\'s table_changes(''bse_v'', 0)' AS doc, " +
        "(SELECT count(*) FROM table_changes('bse_v', 0)) AS n").head
    assert(r.getString(0) == "it's table_changes('bse_v', 0)", r.getString(0))
    assert(r.getLong(1) == 10L)
  }

  test("SQL OPTIMIZE WHERE scopes maintenance to one stats range") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-optw").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    // four single-file id buckets, all under the 256 MiB target
    (0 until 4).foreach(i => snap.commit(
      spark.range(i * 100, i * 100 + 100)
        .select($"id", (($"id" * 37) % 400).as("y"), lit("p").as("payload"))
        .repartition(1),
      t, "append", Seq("id", "y")))
    graft.sql.GraftSql.registerSnapshot(spark, "optw_v", t, None, Seq("id", "y"))
    val before = snap.manifest(spark, t, 4L).files.map(_.path).toSet
    graft.sql.GraftSql.dml(spark,
      "OPTIMIZE optw_v WHERE id BETWEEN 0 AND 199")
    val after = snap.manifest(spark, t,
      snap.latestVersion(spark, t).get).files
    // the two in-scope buckets coalesced; the other two are untouched
    assert(after.size == 3)
    assert((before intersect after.map(_.path).toSet).size == 2)
    assert(spark.sql("SELECT count(*) FROM optw_v").head.getLong(0) == 400L)
    // scoped ZORDER parses and runs through the same path
    graft.sql.GraftSql.dml(spark,
      "OPTIMIZE optw_v WHERE id BETWEEN 200 AND 399 ZORDER BY (id, y)")
    assert(spark.sql("SELECT count(*) FROM optw_v").head.getLong(0) == 400L)
    // compound scope: the same AND-of-ranges grammar DML takes
    graft.sql.GraftSql.dml(spark,
      "OPTIMIZE optw_v WHERE id BETWEEN 0 AND 199 AND y >= 0 ZORDER BY (id, y)")
    assert(spark.sql("SELECT count(*) FROM optw_v").head.getLong(0) == 400L)
    // OR in the scope refuses loudly, nothing committed
    val vNow = snap.latestVersion(spark, t).get
    intercept[IllegalArgumentException] {
      graft.sql.GraftSql.dml(spark,
        "OPTIMIZE optw_v WHERE id BETWEEN 0 AND 9 OR y = 1")
    }
    assert(snap.latestVersion(spark, t).contains(vNow))
  }

  test("MERGE with explicit SET assignments and INSERT (cols) VALUES (...)") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mex").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 100)
      .select($"id", ($"id" % 5).as("k"), concat(lit("row"), $"id").as("payload"))
      .repartition(2, $"id"), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mex_v", t, None, Seq("id"))
    // the source carries an EXTRA column the table doesn't have — legal
    // with explicit clause bodies (only listed columns land)
    spark.range(40, 45).select($"id", lit(7L).as("delta"),
      lit("it's").as("note"))
      .unionByName(spark.range(200, 203).select($"id", lit(0L).as("delta"),
        lit("x").as("note")))
      .createOrReplaceTempView("mex_src")
    GraftSql.dml(spark,
      """MERGE INTO mex_v USING mex_src ON mex_v.id = mex_src.id
        |WHEN MATCHED THEN UPDATE SET k = mex_src.delta + 100,
        |  payload = concat('it''s, ', mex_v.payload)
        |WHEN NOT MATCHED THEN INSERT (id, payload)
        |  VALUES (mex_src.id, concat(mex_src.note, '-new'))""".stripMargin)
    // matched rows: expressions saw BOTH sides; untouched columns kept
    val m40 = spark.sql("SELECT k, payload FROM mex_v WHERE id = 42").head
    assert(m40.getLong(0) == 107L, m40)
    assert(m40.getString(1) == "it's, row42", m40.getString(1))
    // not-matched rows: listed columns from VALUES, omitted k is NULL
    val ins = spark.sql(
      "SELECT k, payload FROM mex_v WHERE id = 201").head
    assert(ins.isNullAt(0) && ins.getString(1) == "x-new", ins)
    assert(spark.sql("SELECT count(*) FROM mex_v").head.getLong(0) == 103L)
    // untouched rows untouched
    assert(spark.sql("SELECT payload FROM mex_v WHERE id = 10")
      .head.getString(0) == "row10")

    // refusals: reassigning the key, inserting without it, unknown target
    intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mex_v USING mex_src ON mex_v.id = mex_src.id
          |WHEN MATCHED THEN UPDATE SET id = 0
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mex_v USING mex_src ON mex_v.id = mex_src.id
          |WHEN MATCHED THEN UPDATE SET k = 1
          |WHEN NOT MATCHED THEN INSERT (k) VALUES (1)""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mex_v USING mex_src ON mex_v.id = mex_src.id
          |WHEN MATCHED THEN UPDATE SET nope = 1
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }

    // MOR-registered views take the same clause bodies (O(batch) path)
    val t2 = java.nio.file.Paths.get("target", "sql-mex2").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t2))
    snap.commit(spark.range(0, 50)
      .select($"id", ($"id" % 5).as("k"), lit("p").as("payload"))
      .repartition(1), t2, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mex_mor", t2, None, Seq("id"),
      merge = "mor")
    val filesBefore = snap.manifest(spark, t2, 1L).files.map(_.path).toSet
    // omitting a NON-NULLABLE column refuses with the column named
    val eNN = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mex_mor USING mex_src ON mex_mor.id = mex_src.id
          |WHEN MATCHED THEN UPDATE SET k = mex_src.delta
          |WHEN NOT MATCHED THEN INSERT (id, k) VALUES (mex_src.id, 99)""".stripMargin)
    }
    assert(eNN.getMessage.contains("payload"), eNN.getMessage)
    GraftSql.dml(spark,
      """MERGE INTO mex_mor USING mex_src ON mex_mor.id = mex_src.id
        |WHEN MATCHED THEN UPDATE SET k = mex_src.delta
        |WHEN NOT MATCHED THEN INSERT (id, k, payload)
        |  VALUES (mex_src.id, 99, 'q')""".stripMargin)
    val m2 = snap.manifest(spark, t2, snap.latestVersion(spark, t2).get)
    assert(filesBefore.subsetOf(m2.files.map(_.path).toSet),
      "MOR merge must not rewrite prior files")
    assert(spark.sql("SELECT sum(k) FROM mex_mor WHERE id BETWEEN 40 AND 44")
      .head.getLong(0) == 5 * 7L)
    assert(spark.sql("SELECT k, payload FROM mex_mor WHERE id = 202").head
      match { case r => r.getLong(0) == 99L && r.getString(1) == "q" })
  }

  test("conditional MERGE clauses: failing rows stay unchanged / never insert") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mcond").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 100)
      .select($"id", ($"id" % 5).as("k"), concat(lit("row"), $"id").as("payload"))
      .repartition(2, $"id"), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mcond_v", t, None, Seq("id"))
    // source: matched keys 10..19 (only k=2 rows should update),
    // unmatched keys 200..209 (only even ones should insert)
    spark.range(10, 20).select($"id", lit(77L).as("fresh"))
      .unionByName(spark.range(200, 210).select($"id", lit(5L).as("fresh")))
      .createOrReplaceTempView("mcond_src")
    GraftSql.dml(spark,
      """MERGE INTO mcond_v USING mcond_src ON mcond_v.id = mcond_src.id
        |WHEN MATCHED AND mcond_v.k = 2 THEN UPDATE SET
        |  payload = concat('c-', mcond_v.payload)
        |WHEN NOT MATCHED AND mcond_src.id % 2 = 0 THEN INSERT (id, k, payload)
        |  VALUES (mcond_src.id, mcond_src.fresh, 'new')""".stripMargin)
    // matched & condition: updated; matched & !condition: untouched
    assert(spark.sql(
      "SELECT count(*) FROM mcond_v WHERE payload LIKE 'c-%'")
      .head.getLong(0) == 2L) // ids 12, 17 have k = 2
    assert(spark.sql("SELECT payload FROM mcond_v WHERE id = 11")
      .head.getString(0) == "row11", "a condition-failing matched row moved")
    // not-matched & condition: inserted; the odd keys never insert
    assert(spark.sql(
      "SELECT count(*) FROM mcond_v WHERE id >= 200").head.getLong(0) == 5L)
    assert(spark.sql(
      "SELECT count(*) FROM mcond_v WHERE id = 201").head.getLong(0) == 0L,
      "a condition-failing source row was inserted")
    assert(spark.sql("SELECT count(*) FROM mcond_v").head.getLong(0) == 105L)
    // conditional SET * over both aliases
    spark.range(12, 14).select($"id", ($"id" * 0).as("k"),
      lit("star").as("payload")).createOrReplaceTempView("mcond_src2")
    GraftSql.dml(spark,
      """MERGE INTO mcond_v USING mcond_src2 ON mcond_v.id = mcond_src2.id
        |WHEN MATCHED AND mcond_v.id = 13 THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT payload FROM mcond_v WHERE id = 13")
      .head.getString(0) == "star")
    assert(spark.sql("SELECT payload FROM mcond_v WHERE id = 12")
      .head.getString(0) == "c-row12", "conditional SET * touched a failing row")
    // the CDC-delete clause now COMPOSES with additional conditional
    // clauses (ordered multi-clause): the op='D' row deletes, nothing
    // else moves — this used to be a refusal
    Seq((1L, 1L, "x", "D")).toDF("id", "k", "payload", "op")
      .createOrReplaceTempView("mcond_cdc")
    GraftSql.dml(spark,
      """MERGE INTO mcond_v USING mcond_cdc ON mcond_v.id = mcond_cdc.id
        |WHEN MATCHED AND mcond_cdc.op = 'D' THEN DELETE
        |WHEN MATCHED AND mcond_v.k = 1 THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM mcond_v WHERE id = 1")
      .head.getLong(0) == 0L, "the op='D' row survived")
    assert(spark.sql("SELECT count(*) FROM mcond_v").head.getLong(0) == 104L)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns before merging") {
    import spark.implicits._
    val loc = java.nio.file.Paths.get("target", "sql-mevo").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 50).select($"id", ($"id" % 5).as("k"))
      .repartition(2), loc, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mevo_v", loc, None, Seq("id"))
    spark.range(40, 61).select($"id", lit(9L).as("k"),
      concat(lit("t"), $"id").as("tag")).createOrReplaceTempView("mevo_src")
    // without the flag, an extra source column refuses loudly (the
    // table's schema is the contract — no silent drop, no silent add)
    val e0 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mevo_v USING mevo_src ON mevo_v.id = mevo_src.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e0.getMessage.contains("update columns"), e0.getMessage)
    // with the flag, the column ADDS (metadata-only) and the merge
    // fills it: matched+inserted rows carry the source tag, untouched
    // rows serve NULL
    GraftSql.dml(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO mevo_v USING mevo_src
        |ON mevo_v.id = mevo_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("mevo_v").columns.toSeq == Seq("id", "k", "tag"))
    assert(spark.sql("SELECT count(*) FROM mevo_v").head.getLong(0) == 61L)
    assert(spark.sql("SELECT count(*) FROM mevo_v WHERE tag IS NOT NULL")
      .head.getLong(0) == 21L)
    assert(spark.sql("SELECT tag FROM mevo_v WHERE id = 45")
      .head.getString(0) == "t45")
    assert(spark.sql("SELECT count(*) FROM mevo_v WHERE id < 40 AND tag IS NULL")
      .head.getLong(0) == 40L)
    // evolution refuses the explicit-body / conditional / CDC forms
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE WITH SCHEMA EVOLUTION INTO mevo_v USING mevo_src
          |ON mevo_v.id = mevo_src.id
          |WHEN MATCHED THEN UPDATE SET k = mevo_src.k
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("SCHEMA EVOLUTION"), e.getMessage)
    // evolution composes with a MOR registration: the ADD is
    // metadata-only and the merge itself stays zero-rewrite
    val t2 = java.nio.file.Paths.get("target", "sql-mevo-mor").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t2))
    snap.commit(spark.range(0, 50).select($"id", ($"id" % 5).as("k"))
      .repartition(1), t2, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mevo_mor", t2, None, Seq("id"),
      merge = "mor")
    val mevoFiles = snap.manifest(spark, t2, 1L).files.map(_.path).toSet
    GraftSql.dml(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO mevo_mor USING mevo_src
        |ON mevo_mor.id = mevo_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m2 = snap.manifest(spark, t2, snap.latestVersion(spark, t2).get)
    assert(mevoFiles.subsetOf(m2.files.map(_.path).toSet),
      "MOR evolution merge rewrote a prior file")
    assert(spark.table("mevo_mor").columns.toSeq == Seq("id", "k", "tag"))
    assert(spark.sql("SELECT count(*) FROM mevo_mor WHERE tag IS NOT NULL")
      .head.getLong(0) == 21L)
    assert(spark.sql("SELECT count(*) FROM mevo_mor").head.getLong(0) == 61L)
  }

  test("by-source MERGE on a MOR registration executes (CoW cost class)") {
    import spark.implicits._
    val loc = java.nio.file.Paths.get("target", "sql-mbys-mor").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 60).select($"id", ($"id" % 5).as("k"))
      .repartition(2), loc, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mbys_mor", loc, None, Seq("id"),
      merge = "mor")
    spark.range(0, 30).select($"id", lit(7L).as("k"))
      .createOrReplaceTempView("mbys_mor_src")
    GraftSql.dml(spark,
      """MERGE INTO mbys_mor USING mbys_mor_src
        |ON mbys_mor.id = mbys_mor_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM mbys_mor").head.getLong(0) == 30L)
    assert(spark.sql("SELECT sum(k) FROM mbys_mor").head.getLong(0) == 30 * 7L)
    assert(spark.sql("SELECT count(*) FROM mbys_mor WHERE id >= 30")
      .head.getLong(0) == 0L, "stale rows survived")
  }

  test("DELETE WHERE col IN (SELECT ...) records an equality delete, zero rewrites") {
    import spark.implicits._
    val loc = java.nio.file.Paths.get("target", "sql-insub").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 100).select($"id", ($"id" % 7).as("k"))
      .repartition(2), loc, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "insub_v", loc, None, Seq("id"))
    val before = snap.manifest(spark, loc, 1L).files.map(_.path).toSet
    GraftSql.dml(spark,
      "DELETE FROM insub_v WHERE id IN (SELECT id FROM insub_v WHERE k = 3)")
    // merge-on-read: every prior file still present, key debt recorded
    val m = snap.manifest(spark, loc, snap.latestVersion(spark, loc).get)
    assert(before.subsetOf(m.files.map(_.path).toSet),
      "IN-subquery delete rewrote a data file")
    assert(m.eqDeletes.nonEmpty)
    assert(spark.sql("SELECT count(*) FROM insub_v").head.getLong(0) == 86L)
    assert(spark.sql("SELECT count(*) FROM insub_v WHERE k = 3")
      .head.getLong(0) == 0L)
    // a multi-column subquery refuses loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        "DELETE FROM insub_v WHERE id IN (SELECT id, k FROM insub_v)")
    }
    assert(e.getMessage.contains("exactly one column"), e.getMessage)
    // a typo'd target column refuses BEFORE the commit — a published
    // eq-delete on a nonexistent column would poison every later read
    val vNow = snap.latestVersion(spark, loc).get
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        "DELETE FROM insub_v WHERE typo IN (SELECT id FROM insub_v)")
    }
    assert(e2.getMessage.contains("not in table schema"), e2.getMessage)
    assert(snap.latestVersion(spark, loc).get == vNow, "refusal committed")
    // UPDATE with the same shape: keys-frame CoW rewrite — candidate
    // files rewrite, matched rows change, unmatched ride through
    GraftSql.dml(spark,
      """UPDATE insub_v SET k = 99
        |WHERE id IN (SELECT id FROM insub_v WHERE k = 5)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM insub_v WHERE k = 99")
      .head.getLong(0) == 14L) // ids 5,12,..,96 had k = 5
    assert(spark.sql("SELECT count(*) FROM insub_v WHERE k = 5")
      .head.getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM insub_v").head.getLong(0) == 86L,
      "keys-frame update changed the row count")
  }

  test("ALTER TABLE CLUSTER BY declares a layout; appends conform; NONE clears") {
    import spark.implicits._
    val loc = java.nio.file.Paths.get("target", "sql-clus").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 1000).select($"id", ($"id" % 7).as("k"))
      .repartition(1), loc, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "clus_v", loc, None, Seq("id"))
    GraftSql.dml(spark,
      "ALTER TABLE clus_v CLUSTER BY range(id) INTO 4 FILES")
    assert(snap.layoutOf(spark, loc).exists(l =>
      l.kind == "range" && l.cols == Seq("id") && l.n == 4))
    // the NEXT append conforms: 4 range-partitioned files with tight,
    // non-overlapping id windows
    val before = snap.manifest(spark, loc,
      snap.latestVersion(spark, loc).get).files.map(_.path).toSet
    GraftSql.dml(spark,
      "INSERT INTO clus_v SELECT id, id % 7 AS k FROM range(5000, 6000)")
    val m = snap.manifest(spark, loc, snap.latestVersion(spark, loc).get)
    val added = m.files.filterNot(f => before(f.path))
    assert(added.size == 4, s"layout-conforming append wrote ${added.size}")
    val windows = added.flatMap(_.stats.get("id"))
      .map { case (mn, mx) => (mn.toString.toLong, mx.toString.toLong) }
      .sortBy(_._1)
    assert(windows.size == 4 && windows.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    }, s"range layout produced overlapping windows: $windows")
    // zorder arity/type validation refuses through the SQL face
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        "ALTER TABLE clus_v CLUSTER BY zorder(id) INTO 4 FILES")
    }
    assert(e.getMessage.contains("zorder"), e.getMessage)
    // NONE clears: the next append stops conforming
    GraftSql.dml(spark, "ALTER TABLE clus_v CLUSTER BY NONE")
    assert(snap.layoutOf(spark, loc).isEmpty)
  }

  test("CTAS / INSERT OVERWRITE / TRUNCATE TABLE round-trip") {
    import spark.implicits._
    val loc = java.nio.file.Paths.get("target", "sql-ctas").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    val snap = graft.sources.snapshot.SnapshotLog
    spark.range(0, 100).select($"id", ($"id" % 5).as("k"))
      .createOrReplaceTempView("ctas_src")
    // CTAS: commit + live registration in one statement
    GraftSql.dml(spark,
      s"CREATE TABLE ctas_v LOCATION '$loc' AS SELECT * FROM ctas_src")
    assert(spark.sql("SELECT count(*) FROM ctas_v").head.getLong(0) == 100L)
    // the view is LIVE (not pinned): DML through it works
    GraftSql.dml(spark, "INSERT INTO ctas_v " +
      "SELECT id + 1000 AS id, CAST(9 AS BIGINT) AS k FROM ctas_src LIMIT 5")
    assert(spark.sql("SELECT count(*) FROM ctas_v").head.getLong(0) == 105L)
    // plain CREATE refuses a committed location; OR REPLACE resets it
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        s"CREATE TABLE ctas_v LOCATION '$loc' AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("OR REPLACE"), e.getMessage)
    GraftSql.dml(spark,
      s"CREATE OR REPLACE TABLE ctas_v LOCATION '$loc' " +
        "AS SELECT id, k, 'p' AS tag FROM ctas_src WHERE id < 10")
    assert(spark.sql("SELECT count(*) FROM ctas_v").head.getLong(0) == 10L)
    assert(spark.table("ctas_v").columns.toSeq == Seq("id", "k", "tag"))
    // INSERT OVERWRITE: full replace, schema follows the SELECT
    GraftSql.dml(spark,
      "INSERT OVERWRITE ctas_v SELECT id, k FROM ctas_src WHERE k = 0")
    assert(spark.sql("SELECT count(*) FROM ctas_v").head.getLong(0) == 20L)
    assert(spark.table("ctas_v").columns.toSeq == Seq("id", "k"))
    // TRUNCATE: zero rows, schema retained, still writable, undoable
    val vBefore = snap.latestVersion(spark, loc).get
    GraftSql.dml(spark, "TRUNCATE TABLE ctas_v")
    assert(spark.sql("SELECT count(*) FROM ctas_v").head.getLong(0) == 0L)
    assert(spark.table("ctas_v").columns.toSeq == Seq("id", "k"))
    GraftSql.dml(spark, "INSERT INTO ctas_v " +
      "SELECT CAST(7 AS BIGINT) AS id, CAST(7 AS BIGINT) AS k")
    assert(spark.sql("SELECT count(*) FROM ctas_v").head.getLong(0) == 1L)
    GraftSql.dml(spark, s"RESTORE TABLE ctas_v TO VERSION AS OF $vBefore")
    assert(spark.sql("SELECT count(*) FROM ctas_v").head.getLong(0) == 20L)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: stale target rows delete or rewrite") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mbys").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 100)
      .select($"id", ($"id" % 5).as("k"), concat(lit("row"), $"id").as("payload"))
      .repartition(2, $"id"), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mbys_v", t, None, Seq("id"))
    // source: keys 0..49 (sync payloads) + 200..204 (new rows)
    spark.range(0, 50).select($"id", ($"id" % 5).as("k"), lit("sync").as("payload"))
      .unionByName(spark.range(200, 205).select($"id", lit(9L).as("k"),
        lit("new").as("payload")))
      .createOrReplaceTempView("mbys_src")
    // full replicate-to-match: matched rows update, new rows insert,
    // stale rows (50..99, absent from the source) delete — one commit
    GraftSql.dml(spark,
      """MERGE INTO mbys_v USING mbys_src ON mbys_v.id = mbys_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM mbys_v").head.getLong(0) == 55L)
    assert(spark.sql(
      "SELECT count(*) FROM mbys_v WHERE id < 50 AND payload = 'sync'")
      .head.getLong(0) == 50L)
    assert(spark.sql("SELECT count(*) FROM mbys_v WHERE id >= 50 AND id < 200")
      .head.getLong(0) == 0L, "stale rows survived the by-source delete")
    assert(spark.sql("SELECT count(*) FROM mbys_v WHERE payload = 'new'")
      .head.getLong(0) == 5L)
    // single-clause conditional by-source UPDATE: flag (don't delete)
    // the stale rows under id < 30; everything else rides through
    spark.range(0, 10).toDF("id").createOrReplaceTempView("mbys_src2")
    GraftSql.dml(spark,
      """MERGE INTO mbys_v USING mbys_src2 ON mbys_v.id = mbys_src2.id
        |WHEN NOT MATCHED BY SOURCE AND mbys_v.id < 30
        |THEN UPDATE SET payload = concat('stale-', mbys_v.payload)""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) FROM mbys_v WHERE payload LIKE 'stale-%'")
      .head.getLong(0) == 20L) // ids 10..29
    assert(spark.sql("SELECT payload FROM mbys_v WHERE id = 5")
      .head.getString(0) == "sync", "a matched row was flagged")
    assert(spark.sql("SELECT payload FROM mbys_v WHERE id = 40")
      .head.getString(0) == "sync", "a condition-failing row was flagged")
    assert(spark.sql("SELECT count(*) FROM mbys_v").head.getLong(0) == 55L)
    // an unrecognized clause refuses loudly — never silently ignored
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mbys_v USING mbys_src2 ON mbys_v.id = mbys_src2.id
          |WHEN NOT MATCHED BY SOURCE THEN FROB""".stripMargin)
    }
    assert(e.getMessage.contains("unrecognized MERGE clause"), e.getMessage)
    // by-source may not reassign the MERGE key
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mbys_v USING mbys_src2 ON mbys_v.id = mbys_src2.id
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET id = 0""".stripMargin)
    }
    assert(e2.getMessage.contains("may not reassign"), e2.getMessage)
  }

  test("MERGE dispatches by registration strategy: mor views upsert without rewrites") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mor").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 100).select($"id", ($"id" % 5).as("k"))
      .repartition(1), t, "append", Seq("id"))
    graft.sql.GraftSql.registerSnapshot(spark, "mor_v", t, None, Seq("id"),
      merge = "mor")
    spark.range(40, 45).select($"id", lit(77L).as("k"))
      .createOrReplaceTempView("mor_src")
    val filesBefore = snap.manifest(spark, t, 1L).files.map(_.path).toSet
    graft.sql.GraftSql.dml(spark,
      "MERGE INTO mor_v USING mor_src ON mor_v.id = mor_src.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // MOR: every prior file still present, key debt recorded
    val m = snap.manifest(spark, t, snap.latestVersion(spark, t).get)
    assert(filesBefore.subsetOf(m.files.map(_.path).toSet))
    assert(m.eqDeletes.nonEmpty)
    assert(spark.sql("SELECT count(*) FROM mor_v").head.getLong(0) == 100L)
    assert(spark.sql("SELECT sum(k) FROM mor_v WHERE id BETWEEN 40 AND 44")
      .head.getLong(0) == 5 * 77L)
    // the strategy survives the repoint: a second MERGE is MOR too
    spark.range(200, 203).select($"id", lit(1L).as("k"))
      .createOrReplaceTempView("mor_src2")
    graft.sql.GraftSql.dml(spark,
      "MERGE INTO mor_v USING mor_src2 ON mor_v.id = mor_src2.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql("SELECT count(*) FROM mor_v").head.getLong(0) == 103L)
    assert(snap.manifest(spark, t,
      snap.latestVersion(spark, t).get).eqDeletes.size == 2)
    // OPTIMIZE pays the debt down through the same SQL surface
    graft.sql.GraftSql.dml(spark, "OPTIMIZE mor_v")
    assert(snap.manifest(spark, t,
      snap.latestVersion(spark, t).get).eqDeletes.isEmpty)
    assert(spark.sql("SELECT count(*) FROM mor_v").head.getLong(0) == 103L)
  }

  test("the change feed registers as a SQL view (table_changes shape)") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-cdf").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 40).select($"id", ($"id" % 3).as("k")), t, "append", Seq("id"))
    graft.sources.snapshot.SnapshotLog.deleteWhere(spark, t, "id", 0L, 9L, Seq("id"))
    graft.sql.GraftSql.registerChangeFeed(spark, "cdf_v", t, 0L)
    assert(spark.sql(
      "SELECT count(*) FROM cdf_v WHERE _change_type = 'insert' AND _commit_version = 1")
      .head.getLong(0) == 40L)
    assert(spark.sql(
      "SELECT sum(id) FROM cdf_v WHERE _change_type = 'delete' AND _commit_version = 2")
      .head.getLong(0) == (0L until 10).sum)
  }

  test("DESCRIBE HISTORY and the table_changes TVF answer through GraftSql.query") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-hist").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 40).select($"id", ($"id" % 3).as("k")), t, "append", Seq("id"))
    graft.sources.snapshot.SnapshotLog.deleteWhere(spark, t, "id", 0L, 9L, Seq("id"))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(40, 60).select($"id", ($"id" % 3).as("k")), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "hist_v", t, None, Seq("id"))
    // DESCRIBE HISTORY: one row per version, ops named, monotone chain
    val hist = GraftSql.query(spark, "DESCRIBE HISTORY hist_v")
      .orderBy(col("version")).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(hist.map(_.getString(2)).toSeq == Seq("append", "delete", "append"))
    assert(hist.last.getLong(5) == 50L) // live rows at v3: 40 - 10 + 20
    // the table_changes('v', from[, to]) TVF shape, inside a real query
    val ins = GraftSql.query(spark,
      "SELECT sum(id) AS s FROM table_changes('hist_v', 0, 1)").head.getLong(0)
    assert(ins == (0L until 40).sum)
    val del = GraftSql.query(spark,
      "SELECT count(*) AS n FROM table_changes('hist_v', 1, 2) " +
        "WHERE _change_type = 'delete'").head.getLong(0)
    assert(del == 10L)
    // open-ended range reads through latest; composes with joins/filters
    val byV = GraftSql.query(spark,
      "SELECT _commit_version AS v, count(*) AS n " +
        "FROM table_changes('hist_v', 0) GROUP BY 1 ORDER BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byV == Map(1L -> 40L, 2L -> 10L, 3L -> 20L))
    // plain SQL passes through untouched
    assert(GraftSql.query(spark, "SELECT 1 + 1 AS two").head.getInt(0) == 2)
    // unregistered name refuses loudly
    intercept[IllegalArgumentException] {
      GraftSql.query(spark, "SELECT * FROM table_changes('nope', 0)")
    }
  }

  test("table_changes rewrite skips literals/comments, balances quotes, pins open ranges") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-tvf").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 20).select($"id", ($"id" % 3).as("k")), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "tvf_v", t, None, Seq("id"))
    // a call shape INSIDE a string literal is data, not a TVF — the
    // rewrite must leave the literal byte-identical
    val lit0 = GraftSql.query(spark,
      "SELECT 'see table_changes(''other'', 9)' AS doc").head.getString(0)
    assert(lit0 == "see table_changes('other', 9)")
    // ...and inside comments (line + block) around a LIVE call
    val commented = GraftSql.query(spark,
      """-- table_changes('nope', 0) is just prose here
        |SELECT count(*) AS n /* table_changes('nope', 0) */
        |FROM table_changes('tvf_v', 0, 1)""".stripMargin).head.getLong(0)
    assert(commented == 20L)
    // mismatched quotes are NOT a call — the statement passes through
    // to Spark and fails as the malformed SQL it is
    intercept[Exception] {
      GraftSql.query(spark, "SELECT * FROM table_changes('tvf_v, 0)").collect()
    }
    assert(GraftSql.query( // balanced no-quote form still accepted
      spark, "SELECT count(*) AS n FROM table_changes(tvf_v, 0)")
      .head.getLong(0) == 20L)
    // an open-ended range pins to the latest AT REWRITE TIME: advancing
    // the table must not re-point an earlier, not-yet-collected frame
    val before = GraftSql.query(spark,
      "SELECT count(*) AS n FROM table_changes('tvf_v', 0)")
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(20, 50).select($"id", ($"id" % 3).as("k")), t, "append", Seq("id"))
    val after = GraftSql.query(spark,
      "SELECT count(*) AS n FROM table_changes('tvf_v', 0)")
    assert(before.head.getLong(0) == 20L,
      "an earlier open-ended frame was re-pointed at newer feed contents")
    assert(after.head.getLong(0) == 50L)
  }

  test("DESCRIBE DETAIL answers one row of manifest-plane facts") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-detail").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 40).select($"id", ($"id" % 3).as("k")).repartition(1),
      t, "append", Seq("id"))
    graft.sources.snapshot.SnapshotLog.setLayout(spark, t, "range", Seq("id"), 4)
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(40, 80).select($"id", ($"id" % 3).as("k")), t, "append", Seq("id"))
    graft.sources.snapshot.SnapshotLog.deleteKeysMOR(
      spark.range(0, 5).toDF("id"), t, "id")
    GraftSql.registerSnapshot(spark, "detail_v", t, None, Seq("id"))
    val rows = GraftSql.query(spark, "DESCRIBE DETAIL detail_v").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("format") == "graft-snapshot")
    assert(r.getAs[String]("location") == t)
    assert(r.getAs[Long]("version") == 4L)
    assert(r.getAs[Long]("num_files") == 5L) // 1 seed + 4 conformed range files
    assert(r.getAs[Long]("num_rows") == 80L) // eq-delete debt is NOT subtracted
    assert(r.getAs[Long]("num_deleted_rows") == 0L)
    assert(r.getAs[Long]("num_eq_delete_keys") == 5L)
    assert(r.getAs[String]("layout_kind") == "range")
    assert(r.getSeq[String](r.fieldIndex("layout_columns")).toSeq == Seq("id"))
    // unregistered name refuses loudly
    intercept[IllegalArgumentException] {
      GraftSql.query(spark, "DESCRIBE DETAIL nope_v")
    }
  }

  test("OPTIMIZE ZORDER rides ord64 for string columns; stats-less columns refuse") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-zstr").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    // two files, names from a 4-word vocabulary scattered across both
    def half(lo: Long, hi: Long) = spark.range(lo, hi).select($"id",
      concat(element_at(array(lit("alpha"), lit("golf"), lit("omega"),
        lit("zulu")), (($"id" * 131) % 4 + 1).cast("int")),
        lit("-"), $"id").as("name"))
    graft.sources.snapshot.SnapshotLog.commit(half(0, 200).coalesce(1),
      t, "append", Seq("id", "name"))
    graft.sources.snapshot.SnapshotLog.commit(half(200, 400).coalesce(1),
      t, "append", Seq("id", "name"))
    GraftSql.registerSnapshot(spark, "zstr_v", t, None, Seq("id", "name"))
    // string dimension scales through the ord64 surrogate from the
    // manifest's string min/max — runs, preserves content
    GraftSql.dml(spark, "OPTIMIZE zstr_v ZORDER BY (name, id)")
    assert(spark.sql("SELECT count(*) FROM zstr_v").head.getLong(0) == 400L)
    assert(spark.sql("SELECT count(DISTINCT name) FROM zstr_v")
      .head.getLong(0) == 400L)
    // a column with no manifest stats still refuses with the action
    val t2 = java.nio.file.Paths.get("target", "sql-zerr2")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t2))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 10).select($"id", lit("a").as("nm")), t2, "append", Nil)
    GraftSql.registerSnapshot(spark, "zerr2_v", t2, None, Nil)
    val ex = intercept[IllegalArgumentException] {
      GraftSql.dml(spark, "OPTIMIZE zerr2_v ZORDER BY (id, nm)")
    }
    assert(ex.getMessage.contains("no manifest stats"), ex.getMessage)
  }

  test("metadata-tier kernels answer from spark.sql; malformed payloads null") {
    graft.sql.GraftSql.registerFunctions(spark)
    import spark.implicits._
    // a valid flac STREAMINFO (16 kHz stereo, 48000 samples) vs garbage
    val flac = {
      val (sr, ch, bps, ns) = (16000, 2, 16, 48000L)
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("fLaC".getBytes("ASCII"))
      bos.write(0x80); bos.write(0); bos.write(0); bos.write(34)
      bos.write(0x10); bos.write(0x00); bos.write(0x10); bos.write(0x00)
      (0 until 6).foreach(_ => bos.write(0))
      bos.write((sr >> 12) & 0xff); bos.write((sr >> 4) & 0xff)
      bos.write(((sr & 0xf) << 4) | ((ch - 1) << 1) | ((bps - 1) >> 4))
      bos.write(((bps - 1) & 0xf) << 4 | ((ns >> 32) & 0xf).toInt)
      bos.write(((ns >> 24) & 0xff).toInt); bos.write(((ns >> 16) & 0xff).toInt)
      bos.write(((ns >> 8) & 0xff).toInt); bos.write((ns & 0xff).toInt)
      (0 until 16).foreach(_ => bos.write(0))
      bos.toByteArray
    }
    Seq(("good", flac), ("bad", Array.tabulate[Byte](32)(i => (i * 37).toByte)))
      .toDF("kind", "payload").createOrReplaceTempView("audio_members")
    val rows = spark.sql(
      """SELECT kind, graft_flac_meta(payload).duration_ms AS ms,
        |  graft_mp3_meta(payload) IS NULL AS mp3_null
        |FROM audio_members ORDER BY kind""".stripMargin).collect()
    assert(rows(0).getString(0) == "bad" && rows(0).isNullAt(1) && rows(0).getBoolean(2))
    assert(rows(1).getString(0) == "good" && rows(1).getLong(1) == 3000L)
  }

  test("MERGE USING (SELECT ...) subquery source: dedup-before-upsert") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-msub").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 50)
      .select($"id", lit(0L).as("v"), lit("base").as("note")).coalesce(1),
      t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "msub_v", t, None, Seq("id"))
    // a raw changelog with DUPLICATE keys — the subquery dedups with a
    // window (latest version wins) before the upsert, the exact idiom
    // the bare-view grammar used to refuse
    Seq((1L, 1L, "old"), (1L, 2L, "new1"), (2L, 5L, "new2"),
      (90L, 1L, "ins"), (90L, 3L, "ins-late"))
      .toDF("id", "v", "note").createOrReplaceTempView("msub_raw")
    GraftSql.dml(spark,
      """MERGE INTO msub_v USING (
        |  SELECT id, v, note FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY v DESC)
        |      AS rn FROM msub_raw) WHERE rn = 1
        |) AS s ON msub_v.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT note FROM msub_v WHERE id = 1")
      .head.getString(0) == "new1", "window dedup lost latest-wins")
    assert(spark.sql("SELECT note FROM msub_v WHERE id = 2")
      .head.getString(0) == "new2")
    assert(spark.sql("SELECT note FROM msub_v WHERE id = 90")
      .head.getString(0) == "ins-late")
    assert(spark.sql("SELECT count(*) FROM msub_v").head.getLong(0) == 51L)
    // nested parens + a quoted body containing ')', 'WHEN', and 'ON'
    // — all data to the splitter; explicit clause bodies still parse
    GraftSql.dml(spark,
      """MERGE INTO msub_v USING (
        |  SELECT id, concat('x)WHEN ON;', cast((id + (1)) AS STRING))
        |    AS note2 FROM msub_v WHERE id < 2
        |) s ON msub_v.id = s.id
        |WHEN MATCHED THEN UPDATE SET note = s.note2""".stripMargin)
    assert(spark.sql("SELECT note FROM msub_v WHERE id = 0")
      .head.getString(0) == "x)WHEN ON;1")
    // a multi-statement injection refuses loudly, both smuggling shapes
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO msub_v USING (SELECT 1 AS id; DELETE FROM msub_v
          |WHERE id >= 0) s ON msub_v.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = 9""".stripMargin)
    }
    assert(e1.getMessage.contains("one statement"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO msub_v USING (SELECT 1 AS id) s; DELETE FROM msub_v
          |WHERE id >= 0""".stripMargin)
    }
    assert(e2.getMessage.contains("cannot parse MERGE USING"), e2.getMessage)
    // a non-SELECT body refuses before anything evaluates
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO msub_v USING (DELETE FROM msub_v WHERE id = 1) s
          |ON msub_v.id = s.id WHEN MATCHED THEN UPDATE SET v = 9""".stripMargin)
    }
    assert(e3.getMessage.contains("must wrap a single SELECT"), e3.getMessage)
    assert(spark.sql("SELECT count(*) FROM msub_v").head.getLong(0) == 51L,
      "a refused statement mutated the table")
  }

  test("MERGE ON residual conditions: bounded match, duplicate-insert semantics, pruning") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mres").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    // 4 files laid out by ds quadrant; ids span the whole domain in
    // EVERY file, so key-interval candidacy alone cannot prune
    val base = spark.range(0, 100)
      .select($"id", ($"id" % 4).as("ds"), lit(0L).as("v"))
    snap.commit(base.repartitionByRange(4, $"ds"), t, "append",
      Seq("id", "ds"))
    GraftSql.registerSnapshot(spark, "mres_v", t, None, Seq("id", "ds"))
    // source spans the WHOLE id domain + 5 brand-new ids
    spark.range(0, 105).select($"id", ($"id" % 9).as("bump"))
      .createOrReplaceTempView("mres_src")
    GraftSql.dml(spark,
      """MERGE INTO mres_v USING mres_src
        |ON mres_v.id = mres_src.id AND mres_v.ds >= 3
        |WHEN MATCHED THEN UPDATE SET v = mres_v.v + mres_src.bump""".stripMargin)
    // only ds=3 rows bumped; everything else untouched
    assert(spark.sql("SELECT sum(v) FROM mres_v WHERE ds = 3")
      .head.getLong(0) ==
      (0L until 100).filter(_ % 4 == 3).map(_ % 9).sum)
    assert(spark.sql("SELECT sum(v) FROM mres_v WHERE ds <> 3")
      .head.getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM mres_v").head.getLong(0) == 100L,
      "a matched-only residual MERGE changed the row count")
    // the 3 out-of-range files provably rode through untouched
    val f1 = snap.manifest(spark, t, 1L).files.map(_.path).toSet
    val carried = snap.manifest(spark, t, 2L).files.map(_.path).count(f1)
    assert(carried == 3, s"carried $carried of 3 out-of-range files")
    // with an INSERT clause: source keys whose target rows all fail
    // the residual are NOT MATCHED — they insert DUPLICATE keys (the
    // Delta partition-bounded-merge outcome), never replace
    GraftSql.dml(spark,
      """MERGE INTO mres_v USING mres_src
        |ON mres_v.id = mres_src.id AND mres_v.ds >= 3
        |WHEN MATCHED THEN UPDATE SET v = mres_v.v + 100
        |WHEN NOT MATCHED THEN INSERT (id, ds, v)
        |  VALUES (mres_src.id, 9, mres_src.bump)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM mres_v").head.getLong(0) ==
      100L + 75L + 5L) // 75 duplicate-key inserts + 5 new ids
    assert(spark.sql(
      "SELECT count(*) FROM mres_v WHERE ds = 9 AND id < 100")
      .head.getLong(0) == 75L, "out-of-range matches must insert, not replace")
    assert(spark.sql("SELECT count(*) FROM mres_v WHERE ds < 3 AND v <> 0")
      .head.getLong(0) == 0L, "an out-of-range original was touched")
    // subquery sources and residual ON conditions COMPOSE: the body
    // plans under its alias, the residual still prunes and bounds
    val sumBefore = spark.sql("SELECT sum(v) FROM mres_v").head.getLong(0)
    GraftSql.dml(spark,
      """MERGE INTO mres_v USING (
        |  SELECT id, bump * 2 AS b2 FROM mres_src WHERE id < 50
        |) ss ON mres_v.id = ss.id AND mres_v.ds = 3
        |WHEN MATCHED THEN UPDATE SET v = mres_v.v + ss.b2""".stripMargin)
    val expected = (0 until 50).filter(_ % 4 == 3).map(i => 2L * (i % 9)).sum
    assert(spark.sql("SELECT sum(v) FROM mres_v").head.getLong(0) ==
      sumBefore + expected, "subquery + residual composition diverged")
    // refusals: OR, column-vs-column, by-source (source-side residual
    // conjuncts are a supported form — see the dedicated test below)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mres_v USING mres_src
          |ON mres_v.id = mres_src.id OR mres_v.ds >= 3
          |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e2.getMessage.contains("AND-conjunction"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mres_v USING mres_src
          |ON mres_v.id = mres_src.id AND mres_v.ds <= mres_src.bump
          |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e3.getMessage.contains("LITERAL"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mres_v USING mres_src
          |ON mres_v.id = mres_src.id AND mres_v.ds >= 3
          |WHEN MATCHED THEN UPDATE SET v = 0
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(e4.getMessage.contains("residual"), e4.getMessage)
  }

  test("CTAS with CLUSTER BY lands the data conformed; appends keep conforming") {
    import spark.implicits._
    val loc = java.nio.file.Paths.get("target", "sql-ctascluster")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    val snap = graft.sources.snapshot.SnapshotLog
    spark.range(0, 200).select($"id", ($"id" % 9).as("v"))
      .createOrReplaceTempView("ctc_src")
    GraftSql.dml(spark,
      s"""CREATE TABLE ctc_v LOCATION '$loc'
         |CLUSTER BY range(id) INTO 4 FILES
         |AS SELECT id, v FROM ctc_src""".stripMargin)
    // ATOMIC: schema + layout + data land in ONE manifest commit — no
    // transient empty/layout-less window, nothing partial on a crash
    assert(snap.latestVersion(spark, loc).contains(1L),
      "CTAS CLUSTER BY must publish schema+layout+data in one commit")
    // the DATA commit conformed to the declared layout: 4 range files
    val m = snap.manifest(spark, loc, snap.latestVersion(spark, loc).get)
    assert(m.files.count(_.rows > 0) == 4,
      s"CTAS data landed in ${m.files.size} files, expected 4")
    assert(m.layout.isDefined, "CTAS did not declare the layout")
    // range files are key-disjoint (tight intervals — prunable)
    val spans = m.files.filter(_.rows > 0)
      .map(_.stats("id")).map { case (a, b) =>
        (a.toString.toLong, b.toString.toLong) }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"range files overlap: $spans")
      case _ => ()
    }
    assert(spark.sql("SELECT count(*), sum(v) FROM ctc_v").head ===
      org.apache.spark.sql.Row(200L, (0L until 200).map(_ % 9).sum))
    // subsequent INSERT INTO conforms to the same declared layout
    GraftSql.dml(spark,
      "INSERT INTO ctc_v SELECT id, id % 9 AS v FROM range(200, 400)")
    val m2 = snap.manifest(spark, loc, snap.latestVersion(spark, loc).get)
    assert(m2.files.count(f => f.rows > 0 &&
      f.path.contains(f"v${m2.version}%05d")) == 4,
      "the post-CTAS append stopped conforming")
    assert(spark.sql("SELECT count(*) FROM ctc_v").head.getLong(0) == 400L)
  }

  test("tuple IN-subquery DML: composite eq-delete and keys-frame update") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-tin").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 60)
      .select(($"id" / 10).cast("long").as("a"), ($"id" % 10).as("b"),
        lit(1L).as("v")).repartitionByRange(3, $"a"),
      t, "append", Seq("a", "b"))
    GraftSql.registerSnapshot(spark, "tin_v", t, None, Seq("a", "b"))
    // composite erasure: (a, b) tuples with b >= 8 — MOR, zero rewrites
    GraftSql.dml(spark,
      """DELETE FROM tin_v WHERE (a, b) IN
        |  (SELECT a, b FROM tin_v WHERE b >= 8)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM tin_v").head.getLong(0) == 48L)
    val m2 = snap.manifest(spark, t, 2L)
    assert(m2.eqDeletes.size == 1 && m2.eqDeletes.head.keyCol.contains(","),
      s"expected one composite sidecar, got ${m2.eqDeletes}")
    assert(m2.files.map(_.path).toSet ==
      snap.manifest(spark, t, 1L).files.map(_.path).toSet,
      "a tuple eq-delete rewrote data files")
    // composite correction: one (a, b) cell bumps; sibling b's ride
    GraftSql.dml(spark,
      """UPDATE tin_v SET v = v + 10 WHERE (a, b) IN
        |  (SELECT a, b FROM tin_v WHERE a = 2 AND b <= 1)""".stripMargin)
    assert(spark.sql("SELECT sum(v) FROM tin_v WHERE a = 2")
      .head.getLong(0) == 8L + 20L)
    assert(spark.sql("SELECT sum(v) FROM tin_v WHERE a <> 2")
      .head.getLong(0) == 40L)
    // a column-count mismatch refuses loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        "DELETE FROM tin_v WHERE (a, b) IN (SELECT a FROM tin_v)")
    }
    assert(e.getMessage.contains("2 columns"), e.getMessage)
  }

  test("ordered multi-clause MERGE: first-match-wins, conditional DELETE, ordering enforced") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-multiclause").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    graft.sources.snapshot.SnapshotLog.commit(
      spark.range(0, 20).select($"id", ($"id" % 5).as("k")).coalesce(1),
      t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "mc_v", t, None, Seq("id"))
    // source: matched ids 0..4 and 15..19, unmatched 20..24
    spark.range(0, 5).select($"id")
      .unionByName(spark.range(15, 25).select($"id"))
      .createOrReplaceTempView("mc_src")
    // three matched clauses (the last unconditional) + a conditional
    // DELETE, two not-matched clauses — all first-match-wins, ONE
    // commit through the changelog machinery
    GraftSql.dml(spark,
      """MERGE INTO mc_v USING mc_src ON mc_v.id = mc_src.id
        |WHEN MATCHED AND mc_v.k = 0 THEN UPDATE SET k = 100
        |WHEN MATCHED AND mc_v.k = 1 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET k = 200
        |WHEN NOT MATCHED AND mc_src.id < 22 THEN INSERT (id, k)
        |  VALUES (mc_src.id, 7)
        |WHEN NOT MATCHED THEN INSERT (id, k) VALUES (mc_src.id, 8)
        |""".stripMargin)
    assert(graft.sources.snapshot.SnapshotLog.latestVersion(spark, t)
      .contains(2L), "multi-clause MERGE must be ONE commit")
    // first-match-wins: id 0 (k=0) matches clause 1 AND the
    // unconditional clause 3 — it must take 100, not 200
    val byK = spark.sql("SELECT k, count(*) AS n FROM mc_v GROUP BY k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK.get(100L).contains(2L), s"k=100: $byK") // ids 0, 15
    assert(byK.get(200L).contains(6L), s"k=200: $byK") // 2,3,4,17,18,19
    assert(byK.get(7L).contains(2L), s"k=7: $byK") // inserted 20, 21
    assert(byK.get(8L).contains(3L), s"k=8: $byK") // inserted 22..24
    assert(spark.sql("SELECT count(*) FROM mc_v WHERE id IN (1, 16)")
      .head.getLong(0) == 0L, "DELETE-resolved rows survived")
    assert(spark.sql("SELECT count(*) FROM mc_v").head.getLong(0) == 23L)
    // unmatched target rows rode through untouched
    assert(spark.sql("SELECT count(*) FROM mc_v WHERE id BETWEEN 5 AND 14 AND k = id % 5")
      .head.getLong(0) == 10L)
    // ordering is enforced: an unconditional clause anywhere but last
    // is a wall — every later clause would be dead. Refuse loudly.
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mc_v USING mc_src ON mc_v.id = mc_src.id
          |WHEN MATCHED THEN UPDATE SET k = 1
          |WHEN MATCHED AND mc_v.k = 0 THEN DELETE""".stripMargin)
    }
    assert(e1.getMessage.contains("LAST"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mc_v USING mc_src ON mc_v.id = mc_src.id
          |WHEN NOT MATCHED THEN INSERT (id, k) VALUES (mc_src.id, 1)
          |WHEN NOT MATCHED AND mc_src.id < 3 THEN INSERT (id, k)
          |  VALUES (mc_src.id, 2)""".stripMargin)
    }
    assert(e2.getMessage.contains("LAST"), e2.getMessage)
    // the BY SOURCE family is ordered multi-clause too: the
    // conditional DELETE claims nothing here (no unmatched id < 5),
    // the unconditional UPDATE flags the rest — one commit
    GraftSql.dml(spark,
      """MERGE INTO mc_v USING mc_src ON mc_v.id = mc_src.id
        |WHEN NOT MATCHED BY SOURCE AND mc_v.id < 5 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = 0""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) FROM mc_v WHERE id BETWEEN 5 AND 14 AND k = 0")
      .head.getLong(0) == 10L, "the by-source cascade missed rows")
    assert(spark.sql("SELECT count(*) FROM mc_v").head.getLong(0) == 23L,
      "a by-source clause deleted rows its condition excludes")
    // ordering enforced for by-source as well
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO mc_v USING mc_src ON mc_v.id = mc_src.id
          |WHEN NOT MATCHED BY SOURCE THEN DELETE
          |WHEN NOT MATCHED BY SOURCE AND mc_v.id < 5
          |  THEN UPDATE SET k = 1""".stripMargin)
    }
    assert(e3.getMessage.contains("LAST"), e3.getMessage)
    // refusals left no commit behind (the executed cascade is v3)
    assert(graft.sources.snapshot.SnapshotLog.latestVersion(spark, t)
      .contains(3L))
  }

  test("by-source MERGE refuses NULL merge keys with the actual cause") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-nullkey").toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(
      Seq[(java.lang.Long, Long)]((1L, 1L), (2L, 2L), (null, 3L), (4L, 4L))
        .toDF("id", "k").coalesce(1), t, "append", Nil)
    GraftSql.registerSnapshot(spark, "nk_v", t)
    spark.range(0, 2).select($"id", $"id".as("k"))
      .createOrReplaceTempView("nk_src")
    // the NULL-id row never matches any source key, so a by-source
    // DELETE would have to act on it — the keyed change machinery
    // cannot, and the old behavior died with a MISLEADING
    // duplicate-keys error; now the refusal names NULL merge keys
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO nk_v USING nk_src ON nk_v.id = nk_src.id
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // the refusal keeps the Spark job failure that carried it
    assert(e.getCause != null, "refusal dropped the original failure")
    assert(e.getCause.isInstanceOf[org.apache.spark.SparkThrowable], e.getCause.toString)
    // excluding NULL keys on the clause condition makes it executable:
    // the NULL-id row rides through, non-matching non-null keys delete
    GraftSql.dml(spark,
      """MERGE INTO nk_v USING nk_src ON nk_v.id = nk_src.id
        |WHEN NOT MATCHED BY SOURCE AND nk_v.id IS NOT NULL
        |THEN DELETE""".stripMargin)
    val left = spark.sql("SELECT k FROM nk_v ORDER BY k").collect()
      .map(_.getLong(0)).toSeq
    assert(left == Seq(1L, 3L), s"got $left") // id=1 matched, NULL rode
  }

  test("MERGE ON source-side residual: bounds the match, failing rows still insert") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mssres")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 10).select($"id", lit(0L).as("v")), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "ssv", t, None, Seq("id"))
    spark.range(0, 12).select($"id", ($"id" % 2).as("ds"))
      .createOrReplaceTempView("ss_src")
    GraftSql.dml(spark,
      """MERGE INTO ssv USING ss_src
        |ON ssv.id = ss_src.id AND ss_src.ds >= 1
        |WHEN MATCHED THEN UPDATE SET v = 100 + ss_src.id
        |WHEN NOT MATCHED THEN INSERT (id, v)
        |  VALUES (ss_src.id, 0 - ss_src.id)""".stripMargin)
    // matched = odd ids < 10 (residual-passing) → updated; EVEN source
    // rows fail the residual → they can match nothing → NOT MATCHED →
    // they INSERT even though their key exists in the target (the
    // Delta outcome), and the same-key original rides untouched
    val rows = spark.sql("SELECT id, v FROM ssv ORDER BY id, v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (
      (0L until 10L by 2).map(i => (i, 0L)) ++       // originals ride
      (0L until 10L by 2).map(i => (i, -i)) ++       // dup-key inserts
      Seq((10L, -10L), (11L, -11L)) ++               // brand-new keys
      (1L until 10L by 2).map(i => (i, 100L + i))    // matched updated
    ).sortBy(x => (x._1, x._2))
    assert(rows == expected, s"got ${rows.toList}")
    // refusal surface mirrors the target-side residual: no DELETE
    // clause, no BY SOURCE, no unknown source column
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO ssv USING ss_src
          |ON ssv.id = ss_src.id AND ss_src.ds >= 1
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e1.getMessage.contains("residual"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO ssv USING ss_src
          |ON ssv.id = ss_src.id AND ss_src.nosuch >= 1
          |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e2.getMessage.contains("does not resolve against the source"),
      e2.getMessage)
  }

  test("MERGE ON arbitrary source-only conjuncts: IN / boolean / expression") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-msarb")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 10).select($"id", lit(0L).as("v")), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "arbv", t, None, Seq("id"))
    spark.range(0, 12).select($"id",
        concat(lit("c"), ($"id" % 3).cast("string")).as("cat"),
        ($"id" % 2 === 0).as("flag"))
      .createOrReplaceTempView("arb_src")
    // IN-list + bare boolean column — neither is a range; both are
    // source-only and restrict which rows can MATCH. Matchable =
    // cat IN (c0, c1) AND flag = ids {0, 4, 6, 10} (flag: even; cat:
    // id%3 in {0,1}); of those, ids < 10 match and update; id 10
    // inserts as a new key; every NON-matchable source row (residual-
    // failing) is NOT MATCHED and inserts beside its same-key original
    GraftSql.dml(spark,
      """MERGE INTO arbv USING arb_src
        |ON arbv.id = arb_src.id AND arb_src.cat IN ('c0', 'c1')
        |  AND arb_src.flag
        |WHEN MATCHED THEN UPDATE SET v = 100 + arb_src.id
        |WHEN NOT MATCHED THEN INSERT (id, v)
        |  VALUES (arb_src.id, 0 - arb_src.id)""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM arbv ORDER BY id, v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val matchable = (0L until 12L).filter(i => i % 2 == 0 && i % 3 <= 1)
    val expected = (
      (0L until 10L).filterNot(matchable.contains).map(i => (i, 0L)) ++
      (0L until 10L).filterNot(matchable.contains).map(i => (i, -i)) ++
      matchable.filter(_ < 10).map(i => (i, 100L + i)) ++
      matchable.filter(_ >= 10).map(i => (i, -i)) ++
      Seq(11L).map(i => (i, -i))
    ).sortBy(x => (x._1, x._2))
    assert(rows == expected, s"got ${rows.toList}")
    // a source self-comparison (s.a = s.b shape) is a predicate, not
    // a key pair
    GraftSql.dml(spark,
      """MERGE INTO arbv USING arb_src
        |ON arbv.id = arb_src.id AND arb_src.id = arb_src.id
        |WHEN MATCHED AND arb_src.id = 11 THEN UPDATE SET v = 999""".stripMargin)
    assert(spark.sql("SELECT v FROM arbv WHERE id = 11").head.getLong(0)
      == 999L)
    // refusals: target-side arbitrary conjuncts stay unsupported, and
    // an unqualified conjunct must name the source alias
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO arbv USING arb_src
          |ON arbv.id = arb_src.id AND arbv.v IN (1, 2)
          |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e1.getMessage.contains("SOURCE-only"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO arbv USING arb_src
          |ON arbv.id = arb_src.id AND flag
          |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e2.getMessage.contains("qualify"), e2.getMessage)
  }

  test("MERGE ON residual accepts decimal literals (t.v = 1.5 is a range, not a pair)") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mdecres")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 8)
      .select($"id", ($"id".cast("double") / 2.0).as("w"),
        lit(0L).as("v")), t, "append", Seq("id", "w"))
    GraftSql.registerSnapshot(spark, "decv", t, None, Seq("id", "w"))
    spark.range(0, 8).select($"id", lit(7L).as("bump"))
      .createOrReplaceTempView("dec_src")
    // >= 1.5: previously rejected with a misleading "not a prunable
    // range" (the column-ref guard matched the decimal)
    GraftSql.dml(spark,
      """MERGE INTO decv USING dec_src
        |ON decv.id = dec_src.id AND decv.w >= 1.5
        |WHEN MATCHED THEN UPDATE SET v = dec_src.bump""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM decv WHERE v = 7")
      .head.getLong(0) == 5L) // w in {1.5, 2.0, 2.5, 3.0, 3.5}
    // = 1.5: previously mis-parsed as an equi-pair ("1.5" matched the
    // alias.col shape) and refused with "must join ... to ..."
    GraftSql.dml(spark,
      """MERGE INTO decv USING dec_src
        |ON decv.id = dec_src.id AND decv.w = 1.5
        |WHEN MATCHED THEN UPDATE SET v = 0 - dec_src.bump""".stripMargin)
    val eq = spark.sql("SELECT id FROM decv WHERE v = -7").collect()
      .map(_.getLong(0)).toSeq
    assert(eq == Seq(3L), s"got $eq")
  }

  test("MERGE clause splitting treats WHEN/THEN inside string literals as data") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mlit")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 6)
      .select($"id", lit("plain").as("note")), t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "litv", t, None, Seq("id"))
    spark.range(0, 8).select($"id",
      concat(lit("src WHEN THEN "), $"id").as("note"))
      .createOrReplaceTempView("lit_src")
    // literals carrying the clause keywords in a condition, a SET
    // body, and a VALUES body — all previously mis-split into
    // "unrecognized MERGE clause" refusals of valid SQL
    GraftSql.dml(spark,
      """MERGE INTO litv USING lit_src
        |ON litv.id = lit_src.id
        |WHEN MATCHED AND lit_src.note <> 'x WHEN y THEN z'
        |  THEN UPDATE SET note = ' THEN kept WHEN '
        |WHEN NOT MATCHED THEN INSERT (id, note)
        |  VALUES (lit_src.id, 'ins WHEN MATCHED THEN ')""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) FROM litv WHERE note = ' THEN kept WHEN '")
      .head.getLong(0) == 6L)
    assert(spark.sql(
      "SELECT count(*) FROM litv WHERE note = 'ins WHEN MATCHED THEN '")
      .head.getLong(0) == 2L)
    // an ON residual literal containing " WHEN " must not cut the
    // clause tail early
    GraftSql.dml(spark,
      """MERGE INTO litv USING lit_src
        |ON litv.id = lit_src.id AND litv.note = 'ins WHEN MATCHED THEN '
        |WHEN MATCHED THEN UPDATE SET note = 'bounded'""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM litv WHERE note = 'bounded'")
      .head.getLong(0) == 2L)
  }

  test("MERGE accepts [AS] aliases and backticked names") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-malias")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 6).select($"id", lit(0L).as("v")), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "alv", t, None, Seq("id"))
    spark.range(3, 9).select($"id", ($"id" * 10).as("v"))
      .createOrReplaceTempView("al_src")
    // aliases scope the ON pairs and clause bodies; backticks on the
    // view names normalize away
    GraftSql.dml(spark,
      """MERGE INTO `alv` AS tt USING `al_src` s
        |ON tt.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v + 1
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got = spark.sql("SELECT id, v FROM alv ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (0L to 2L).map(i => (i, 0L)) ++
      (3L to 5L).map(i => (i, i * 10 + 1)) ++ (6L to 8L).map(i => (i, i * 10))
    assert(got == expected, s"got $got")
    // aliased UPDATE/DELETE statement names and other families accept
    // backticks too
    GraftSql.dml(spark, "UPDATE `alv` SET v = 99 WHERE id = 0")
    assert(spark.sql("SELECT v FROM alv WHERE id = 0").head.getLong(0) == 99L)
    GraftSql.dml(spark, "DELETE FROM `alv` WHERE id = 8")
    assert(spark.sql("SELECT count(*) FROM alv").head.getLong(0) == 8L)
    // a dotted source resolves through the session catalog under an
    // explicit alias (global temp views are the canonical case)
    spark.range(0, 2).select($"id", lit(1000L).as("v"))
      .createOrReplaceGlobalTempView("al_gsrc")
    GraftSql.dml(spark,
      """MERGE INTO alv tt USING global_temp.al_gsrc AS s
        |ON tt.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(spark.sql("SELECT sum(v) FROM alv WHERE id < 2")
      .head.getLong(0) == 2000L)
    // the source resolves from its ORIGINAL quoted text: a backticked
    // name that NEEDS the quoting reaches spark.table's parser intact
    // and fails as table-not-found — stripping the backticks first
    // would make the identifier unparseable (a different, misleading
    // refusal) or, for `a.b`, silently resolve database a table b
    val eq = intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.dml(spark,
        """MERGE INTO alv tt USING `no-such-view` AS s
          |ON tt.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(eq.getMessage.contains("no-such-view"), eq.getMessage)
  }

  test("MERGE refuses multiple source rows modifying one target row; conditions disambiguate") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mdupsrc")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 5).select($"id", lit(0L).as("v")), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "dupv", t, None, Seq("id"))
    Seq((1L, 10L), (1L, 20L), (7L, 7L)).toDF("id", "v")
      .createOrReplaceTempView("dup_src")
    // the unconditional SET * / INSERT * form refuses through the same
    // per-target-row ambiguity probe as every other clause shape
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO dupv USING dup_src ON dupv.id = dup_src.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e1.getMessage.contains("multiple source rows matched"),
      e1.getMessage)
    // the clause machinery refuses with Delta's wording
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO dupv USING dup_src ON dupv.id = dup_src.id
          |WHEN MATCHED THEN UPDATE SET v = dup_src.v""".stripMargin)
    }
    assert(e2.getMessage.contains("multiple source rows matched"),
      e2.getMessage)
    assert(spark.sql("SELECT sum(v) FROM dupv").head.getLong(0) == 0L,
      "a refused MERGE mutated the table")
    // CONDITIONAL clauses where BOTH duplicate source rows resolve
    // against the same target row refuse through the window-folded
    // guard (it rides the per-row collapse window and fires when the
    // staged row set first materializes — still before any mutation),
    // with the same exception surface as the unconditional probe
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO dupv USING dup_src ON dupv.id = dup_src.id
          |WHEN MATCHED AND dup_src.v > 0 THEN UPDATE SET v = dup_src.v
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e3.getMessage.contains("multiple source rows matched"),
      e3.getMessage)
    assert(spark.sql("SELECT sum(v) FROM dupv").head.getLong(0) == 0L,
      "a refused conditional MERGE mutated the table")
    // a clause condition that lets at most one source row resolve per
    // key disambiguates — the non-resolving pair modifies nothing and
    // the matched row must NOT be duplicated by it
    GraftSql.dml(spark,
      """MERGE INTO dupv USING dup_src ON dupv.id = dup_src.id
        |WHEN MATCHED AND dup_src.v >= 20 THEN UPDATE SET v = dup_src.v""".stripMargin)
    val got = spark.sql("SELECT id, v FROM dupv ORDER BY id, v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 0L), (1L, 20L), (2L, 0L), (3L, 0L), (4L, 0L)),
      s"got $got")
    // duplicate-key NOT MATCHED rows both insert (Delta allows them)
    GraftSql.dml(spark,
      """MERGE INTO dupv USING (
        |  SELECT 30 AS id, 1 AS v UNION ALL SELECT 30 AS id, 2 AS v
        |) s ON dupv.id = s.id
        |WHEN NOT MATCHED AND s.v > 0 THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM dupv WHERE id = 30")
      .head.getLong(0) == 2L)
  }

  test("duplicate-key targets resolve per row: riders carry, a key deletes only when all its rows do") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-mduptgt")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    // duplicate-key target: ids 0..3, TWO rows each (flag 0 and 1)
    val base = spark.range(0, 4).select($"id")
      .crossJoin(Seq(0L, 1L).toDF("flag"))
      .select($"id", $"flag", ($"id" * 10 + $"flag").as("v"))
    snap.commit(base, t, "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "dtv", t, None, Seq("id"))
    Seq((0L, 1L), (1L, 1L)).toDF("id", "bump")
      .createOrReplaceTempView("dt_src")
    // conditional UPDATE: only the flag=1 row of each matched key
    // resolves; the flag=0 sibling RIDES — Delta keeps it, and the
    // replace-by-key machinery must carry it, not silently drop it
    GraftSql.dml(spark,
      """MERGE INTO dtv USING dt_src ON dtv.id = dt_src.id
        |WHEN MATCHED AND dtv.flag = 1
        |  THEN UPDATE SET v = dtv.v + 100 * dt_src.bump""".stripMargin)
    val got = spark.sql("SELECT id, flag, v FROM dtv ORDER BY id, flag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = (0L until 4L).flatMap { i =>
      Seq((i, 0L, i * 10),
        (i, 1L, i * 10 + 1 + (if (i <= 1) 100L else 0L)))
    }
    assert(got == expected, s"got $got")
    assert(spark.sql("SELECT count(*) FROM dtv").head.getLong(0) == 8L,
      "a conditional MERGE over duplicate-key targets changed the count")
    // conditional DELETE: the flag=1 row of key 2 deletes, its flag=0
    // sibling survives (Delta evaluates each row independently); key 3
    // deletes whole (both rows resolve — no survivor)
    Seq((2L, 0L), (3L, 0L)).toDF("id", "z")
      .createOrReplaceTempView("dt_src2")
    GraftSql.dml(spark,
      """MERGE INTO dtv USING dt_src2 ON dtv.id = dt_src2.id
        |WHEN MATCHED AND dtv.flag = 1 AND dtv.id = 2 THEN DELETE
        |WHEN MATCHED AND dtv.id = 3 THEN DELETE""".stripMargin)
    val left = spark.sql("SELECT id, flag FROM dtv ORDER BY id, flag")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(left == Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L), (2L, 0L)),
      s"got $left")
    // BY SOURCE family, same discipline: unmatched key 0's flag=1 row
    // updates, flag=0 rides; unmatched key 1 deletes only its flag=1
    // row — the flag=0 sibling must survive the keyed delete
    spark.range(2, 3).select($"id").createOrReplaceTempView("dt_src3")
    GraftSql.dml(spark,
      """MERGE INTO dtv USING dt_src3 ON dtv.id = dt_src3.id
        |WHEN NOT MATCHED BY SOURCE AND dtv.id = 0 AND dtv.flag = 1
        |  THEN UPDATE SET v = 777
        |WHEN NOT MATCHED BY SOURCE AND dtv.id = 1 AND dtv.flag = 1
        |  THEN DELETE""".stripMargin)
    val after = spark.sql("SELECT id, flag, v FROM dtv ORDER BY id, flag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after == Seq((0L, 0L, 0L), (0L, 1L, 777L), (1L, 0L, 10L),
      (2L, 0L, 20L)), s"got $after")
  }

  test("whole-table DELETE / UPDATE (no WHERE) and the BY TARGET synonym") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-wholetab")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 12).select($"id", lit(1L).as("v")), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "wt_v", t, None, Seq("id"))
    // UPDATE with no WHERE rewrites every row (Delta's form)
    GraftSql.dml(spark, "UPDATE wt_v SET v = v * 10")
    assert(spark.sql("SELECT sum(v), count(*) FROM wt_v").head ===
      org.apache.spark.sql.Row(120L, 12L))
    // WHEN NOT MATCHED BY TARGET — Delta's optional synonym
    spark.range(10, 15).select($"id", lit(7L).as("v"))
      .createOrReplaceTempView("wt_src")
    GraftSql.dml(spark,
      """MERGE INTO wt_v USING wt_src ON wt_v.id = wt_src.id
        |WHEN MATCHED THEN UPDATE SET v = wt_src.v
        |WHEN NOT MATCHED BY TARGET THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM wt_v").head.getLong(0) == 15L)
    assert(spark.sql("SELECT sum(v) FROM wt_v WHERE id >= 10")
      .head.getLong(0) == 35L)
    // DELETE with no WHERE empties the table, keeps the schema, and
    // stays undoable (append-only history)
    val vDel = GraftSql.dml(spark, "DELETE FROM wt_v")
    assert(spark.sql("SELECT count(*) FROM wt_v").head.getLong(0) == 0L)
    assert(spark.table("wt_v").columns.toSeq == Seq("id", "v"))
    GraftSql.dml(spark, s"RESTORE TABLE wt_v TO VERSION AS OF ${vDel - 1}")
    assert(spark.sql("SELECT count(*) FROM wt_v").head.getLong(0) == 15L)
  }

  test("INSERT VALUES / column lists, and qualified SET targets") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-insval")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 4)
      .select($"id", lit(1L).as("v"),
        // nullable tag (a bare lit is non-null, and a NOT NULL column
        // must refuse subset inserts — that's its own contract)
        when($"id" >= 0, lit("x")).as("tag")), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "iv_v", t, None, Seq("id"))
    // bare VALUES binds positionally to the full schema
    GraftSql.dml(spark, "INSERT INTO iv_v VALUES (10, 5, 'a'), (11, 6, 'b')")
    assert(spark.sql("SELECT count(*), sum(v) FROM iv_v").head ===
      org.apache.spark.sql.Row(6L, 15L))
    // a column list inserts a subset; omitted nullable columns NULL
    GraftSql.dml(spark, "INSERT INTO iv_v (id, v) VALUES (12, 7)")
    assert(spark.sql("SELECT tag FROM iv_v WHERE id = 12").head.isNullAt(0))
    // the column list works for SELECT bodies too
    GraftSql.dml(spark,
      "INSERT INTO iv_v (id, v) SELECT id + 20, id FROM range(0, 2)")
    assert(spark.sql("SELECT count(*) FROM iv_v").head.getLong(0) == 9L)
    // arity mismatches refuse loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark, "INSERT INTO iv_v VALUES (1, 2)")
    }
    assert(e.getMessage.contains("arity"), e.getMessage)
    // qualified assignment targets: the Delta `SET t.v = ...` idiom in
    // UPDATE (view name) and MERGE (target alias); a source-qualified
    // target refuses loudly
    GraftSql.dml(spark, "UPDATE iv_v SET iv_v.v = 100 WHERE id = 0")
    assert(spark.sql("SELECT v FROM iv_v WHERE id = 0").head.getLong(0) == 100L)
    spark.range(1, 3).select($"id", lit(9L).as("b"))
      .createOrReplaceTempView("iv_src")
    GraftSql.dml(spark,
      """MERGE INTO iv_v AS tt USING iv_src ss ON tt.id = ss.id
        |WHEN MATCHED THEN UPDATE SET tt.v = tt.v + ss.b""".stripMargin)
    assert(spark.sql("SELECT sum(v) FROM iv_v WHERE id IN (1, 2)")
      .head.getLong(0) == 20L)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO iv_v AS tt USING iv_src ss ON tt.id = ss.id
          |WHEN MATCHED THEN UPDATE SET ss.b = 1""".stripMargin)
    }
    assert(e2.getMessage.contains("TARGET alias"), e2.getMessage)
  }

  test("star MERGE: Delta per-row parity — dup-key targets kept, NULL-key sources insert") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-starrow")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    // duplicate-key target: key 1 holds TWO rows
    Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("id", "v")
      .repartition(1).write.format("noop").mode("overwrite").save()
    snap.commit(Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("id", "v"), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "sr_v", t, None, Seq("id"))
    // a NULL-key source row matches nothing and must INSERT (it used
    // to trip a spurious duplicate-keys refusal via countDistinct)
    Seq((Some(1L), 100L), (None, 777L), (Some(9L), 90L))
      .toDF("id", "v").createOrReplaceTempView("sr_src")
    GraftSql.dml(spark,
      """MERGE INTO sr_v USING sr_src ON sr_v.id = sr_src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, v FROM sr_v ORDER BY id, v").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .toSeq
    // Delta: BOTH rows of key 1 update (to identical source values) —
    // replace-by-key used to collapse them to one; the NULL-key row
    // inserts; key 9 inserts; key 2 rides
    assert(got == Seq((-1L, 777L), (1L, 100L), (1L, 100L), (2L, 20L),
      (9L, 90L)), s"got $got")
    // distinct sources may each claim a DIFFERENT row of a dup-key
    // target (the per-target-row ambiguity grain — a key-level probe
    // would wrongly refuse this Delta-valid statement)
    Seq((1L, 1L, 500L), (1L, 2L, 600L)).toDF("id", "pick", "v")
      .createOrReplaceTempView("sr_src2")
    spark.sql("SELECT * FROM sr_v").createOrReplaceTempView("sr_before")
    GraftSql.dml(spark,
      """MERGE INTO sr_v USING sr_src2 ON sr_v.id = sr_src2.id
        |WHEN MATCHED AND sr_v.v = 100 AND sr_src2.pick = 1
        |  THEN UPDATE SET v = sr_src2.v""".stripMargin)
    // both (1,100) rows satisfy pick=1's condition... each target row
    // is claimed by exactly ONE source row (pick=2's condition is
    // false for both), so the statement executes; both rows land at
    // 500
    assert(spark.sql("SELECT count(*) FROM sr_v WHERE v = 500")
      .head.getLong(0) == 2L)
    // a dotted name without an alias refuses loudly, naming the fix
    // (ON pairs can only qualify by a single-identifier alias)
    spark.range(0, 2).toDF("id")
      .createOrReplaceGlobalTempView("sr_gsrc")
    val e = intercept[IllegalArgumentException] {
      GraftSql.dml(spark,
        """MERGE INTO sr_v USING global_temp.sr_gsrc
          |ON sr_v.id = global_temp.sr_gsrc.id
          |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e.getMessage.contains("explicit alias"), e.getMessage)
  }

  test("TRUNCATE and whole-table DELETE preserve the declared layout") {
    import spark.implicits._
    val t = java.nio.file.Paths.get("target", "sql-laykeep")
      .toAbsolutePath.toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    val snap = graft.sources.snapshot.SnapshotLog
    snap.commit(spark.range(0, 40).select($"id", lit(0L).as("v")), t,
      "append", Seq("id"))
    GraftSql.registerSnapshot(spark, "lk_v", t, None, Seq("id"))
    GraftSql.dml(spark, "ALTER TABLE lk_v CLUSTER BY range(id) INTO 4 FILES")
    GraftSql.dml(spark, "TRUNCATE TABLE lk_v")
    assert(snap.layoutOf(spark, t).exists(_.kind == "range"),
      "TRUNCATE dropped the declared layout")
    GraftSql.dml(spark,
      "INSERT INTO lk_v SELECT id, id AS v FROM range(0, 40)")
    val m = snap.manifest(spark, t, snap.latestVersion(spark, t).get)
    assert(m.files.count(_.rows > 0) == 4,
      "the post-TRUNCATE append stopped conforming to the layout")
    GraftSql.dml(spark, "DELETE FROM lk_v")
    assert(snap.layoutOf(spark, t).exists(_.kind == "range"),
      "whole-table DELETE dropped the declared layout")
  }
}
