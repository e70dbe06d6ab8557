package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.core.Tables
import graft.functions.{FastText, PortableHash}

/** SQL surface of the engine: registers the corpus tables as temp views
  * and the text/similarity kernels as SQL functions, so a user can drive
  * every capability through `spark.sql(...)` instead of the DataFrame
  * API — the same dual-surface contract Spark itself keeps between
  * `Dataset` operators and SQL.
  *
  * The registered UDFs are the [[FastText]] kernels — the same
  * bit-for-bit oracle twins the DataFrame queries use (FastTextSpec),
  * so a SQL user gets identical results to a DataFrame user. Scalar
  * kernels only: registration is per-session and idempotent.
  *
  * At 100 TB the views become catalog tables (the load path is
  * unchanged — see [[Tables.load]]); function registration is identical
  * on a cluster because the kernels are static JVM functions with no
  * driver-resident state.
  */
object GraftSql {

  /** Register every corpus table under `dir` as a temp view named after
    * the table. Re-registration just repoints the view (temp views are
    * lazy plans, not data copies).
    */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Register the scalar text/similarity kernels as SQL functions. */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("graft_token_count",
      (t: String) => FastText.tokensJvm(t).length)
    spark.udf.register("graft_quality_score",
      (t: String) => FastText.qualityScoreJvm(t))
    spark.udf.register("graft_lang_id",
      (t: String) => FastText.langIdJvm(t))
    spark.udf.register("graft_fingerprint",
      (t: String) => FastText.fingerprintJvm(t))
    spark.udf.register("graft_simhash",
      (t: String, bits: Int) => FastText.simhashJvm(t, bits))
    spark.udf.register("graft_det_hash",
      (t: String) => PortableHash.detHashJvm(t))
    spark.udf.register("graft_cosine",
      (a: Seq[Float], b: Seq[Float]) => FastText.cosineJvm(a, b))
    spark.udf.register("graft_pround",
      (x: Double, d: Int) => FastText.proundJvm(x, d))
    spark.udf.register("graft_zorder2",
      (x: Long, y: Long) => graft.functions.ZOrder.zOrder2Jvm(x, y))
    spark.udf.register("graft_ord64",
      (s: String) => graft.functions.StringOrd.ord64Of(s))
    spark.udf.register("graft_hilbert2",
      (x: Long, y: Long) => graft.functions.HilbertCurve.xy2d(16, x, y))
    spark.udf.register("graft_nfc",
      (t: String) => graft.functions.TextFunctions.nfcJvm(t))
    spark.udf.register("graft_html_extract",
      (t: String) => graft.functions.TextFunctions.htmlExtractJvm(t))
    spark.udf.register("graft_url_canonical",
      (u: String) => graft.functions.UrlFunctions.canonicalizeUrlJvm(u))
    spark.udf.register("graft_pii_redact",
      (t: String) => graft.functions.TextFunctions.redactPiiJvm(t))
    spark.udf.register("graft_dedup_lines",
      (t: String) => graft.functions.TextFunctions.dedupLinesJvm(t))
    // binary decode kernels — the multimodal columns reachable from SQL
    // (null for undecodable payloads, same as the Column UDFs)
    spark.udf.register("graft_npy_decode",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.NpyCodec.decodeNpy(b)).toOption)
    spark.udf.register("graft_wav_decode",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.WavCodec.decodeWav(b)).toOption)
    spark.udf.register("graft_y4m_meta",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.VideoCodec.decodeMeta(b)).toOption)
    // compressed-format metadata tiers (header walks, payload untouched)
    spark.udf.register("graft_mp3_meta",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.AudioMetaCodec.decodeMp3Meta(b)).toOption)
    spark.udf.register("graft_flac_meta",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.AudioMetaCodec.decodeFlacMeta(b)).toOption)
    spark.udf.register("graft_ogg_meta",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.AudioMetaCodec.decodeOggMeta(b)).toOption)
    spark.udf.register("graft_mp4_meta",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.ContainerMetaCodec.decodeMp4Meta(b)).toOption)
    spark.udf.register("graft_webm_meta",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.ContainerMetaCodec.decodeWebmMeta(b)).toOption)
    spark.udf.register("graft_pth_meta",
      (b: Array[Byte]) =>
        if (b == null) None
        else scala.util.Try(graft.functions.ContainerMetaCodec.decodePthMeta(b)).toOption)
  }

  /** Register a snapshot-table version as a temp view — the manifest-
    * planned read (file list from ONE small JSON, DV masks applied)
    * reachable from `spark.sql`. Re-register to repoint at a different
    * version (time travel for SQL users). `statsCols` is remembered so
    * [[dml]] mutations commit new files with the same manifest stats
    * the table was built with.
    *
    * `merge` selects the strategy [[dml]]'s plain MERGE (update-all +
    * insert-all, no DELETE clause) dispatches to: `cow` (default —
    * exact-candidacy copy-on-write [[graft.sources.snapshot.SnapshotLog.upsert]])
    * or `mor` (equality-delete merge-on-read
    * [[graft.sources.snapshot.SnapshotLog.upsertMOR]] — O(batch)
    * ingest, read-side anti-joins until OPTIMIZE). The CDC-delete
    * MERGE form stays CoW (applyChanges) under either.
    */
  def registerSnapshot(spark: SparkSession, name: String, table: String,
      version: Option[Long] = None, statsCols: Seq[String] = Nil,
      merge: String = "cow"): Unit = {
    require(merge == "cow" || merge == "mor",
      s"merge strategy must be cow|mor, got '$merge'")
    org.apache.spark.sql.graftbridge.Bridge.replaceTempView(
      graft.sources.snapshot.SnapshotLog.read(spark, table, version), name)
    // a version-pinned view is a reproducibility pin: DML refuses it
    snapshotReg.put((spark, name.toLowerCase),
      SnapshotReg(table, statsCols, pinned = version.isDefined,
        morMerge = merge == "mor"))
  }

  /** Register a table's row-level change feed as a temp view —
    * `table_changes(t, from, to)` for SQL users: the end schema plus
    * `_change_type` (insert|delete) and `_commit_version` columns (see
    * [[graft.sources.snapshot.SnapshotLog.readChangeFeed]]). Pinned to
    * the range it was registered with; re-register to advance.
    */
  def registerChangeFeed(spark: SparkSession, name: String, table: String,
      fromVersion: Long, toVersion: Option[Long] = None): Unit =
    graft.sources.snapshot.SnapshotLog
      .readChangeFeed(spark, table, fromVersion, toVersion)
      .createOrReplaceTempView(name)

  private val DescribeHistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([\w.`]+)\s*$""".r

  private val DescribeDetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([\w.`]+)\s*$""".r

  /** `table_changes('v', from[, to])` — the Delta table-valued-function
    * face of the change feed, usable anywhere a table may appear.
    * Quotes around the name must balance (both or neither — `('v` is a
    * malformed call, not a match); literal/comment positions are
    * excluded by [[rewriteTableChanges]], not the regex.
    */
  private val TableChangesCallRe =
    """(?i)TABLE_CHANGES\s*\(\s*('?)(\w+)\1\s*,\s*(\d+)\s*(?:,\s*(\d+))?\s*\)""".r

  /** Half-open [start, end) spans of the statement occupied by string
    * literals ('' escapes), double-quoted identifiers, `--` line
    * comments, and block comments — positions a TVF rewrite must leave
    * untouched.
    */
  private def literalSpans(statement: String): Seq[(Int, Int)] = {
    val spans = Seq.newBuilder[(Int, Int)]
    var i = 0
    val n = statement.length
    while (i < n) {
      statement.charAt(i) match {
        case '\'' | '"' =>
          val q = statement.charAt(i)
          val start = i
          i += 1
          var open = true
          while (open && i < n) {
            if (statement.charAt(i) == '\\' && i + 1 < n)
              i += 2 // backslash escape (Spark's default literal mode)
            else if (statement.charAt(i) == q) {
              if (q == '\'' && i + 1 < n && statement.charAt(i + 1) == '\'')
                i += 2 // '' escape inside a string literal
              else { open = false; i += 1 }
            } else i += 1
          }
          spans += ((start, i))
        case '-' if i + 1 < n && statement.charAt(i + 1) == '-' =>
          val start = i
          while (i < n && statement.charAt(i) != '\n') i += 1
          spans += ((start, i))
        case '/' if i + 1 < n && statement.charAt(i + 1) == '*' =>
          val start = i
          val close = statement.indexOf("*/", i + 2)
          i = if (close < 0) n else close + 2
          spans += ((start, i))
        case _ => i += 1
      }
    }
    spans.result()
  }

  /** Substitute every LIVE `table_changes(...)` call (one whose match
    * starts outside any string literal or comment) with a materialized
    * change-feed view. The view name carries the RESOLVED end version —
    * an open-ended call is pinned to the latest version at rewrite
    * time, so two open-ended calls at different latests get different
    * views and an earlier, not-yet-collected DataFrame is never
    * re-pointed at newer feed contents. Returns the statement unchanged
    * when no live call exists.
    */
  private def rewriteTableChanges(spark: SparkSession,
      statement: String): String = {
    val spans = literalSpans(statement)
    def quoted(i: Int) = spans.exists(s => i >= s._1 && i < s._2)
    val sb = new StringBuilder
    var last = 0
    TableChangesCallRe.findAllMatchIn(statement).foreach { mm =>
      if (!quoted(mm.start)) {
        val nm = mm.group(2)
        val from = mm.group(3).toLong
        val snap = graft.sources.snapshot.SnapshotLog
        val table = snapshotOf(spark, nm).table
        val to = Option(mm.group(4)).map(_.toLong).getOrElse(
          snap.latestVersion(spark, table).getOrElse(
            throw new IllegalArgumentException(
              s"no committed version in $table")))
        val view = s"__graft_changes_${nm}_${from}_$to"
        snap.readChangeFeed(spark, table, from, Some(to))
          .createOrReplaceTempView(view)
        sb.append(statement.substring(last, mm.start)).append(view)
        last = mm.end
      }
    }
    sb.append(statement.substring(last))
    sb.toString
  }

  /** `v VERSION AS OF n` — the Delta time-travel clause. Only REGISTERED
    * names rewrite (an unregistered word followed by the clause is left
    * for Spark's parser to refuse), and only outside literals/comments.
    */
  private val VersionAsOfRe =
    """(?i)(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r

  private def rewriteVersionAsOf(spark: SparkSession,
      statement: String): String = {
    val spans = literalSpans(statement)
    def quoted(i: Int) = spans.exists(s => i >= s._1 && i < s._2)
    val sb = new StringBuilder
    var last = 0
    VersionAsOfRe.findAllMatchIn(statement).foreach { mm =>
      val nm = mm.group(1)
      val registered = snapshotReg.containsKey((spark, nm.toLowerCase))
      // `graft.ns.t VERSION AS OF n` is catalog time travel (stock
      // loadTable(ident, version)) — never rewrite a qualified tail
      val qualified = mm.start > 0 && statement.charAt(mm.start - 1) == '.'
      if (!quoted(mm.start) && registered && !qualified) {
        val ver = mm.group(2).toLong
        val view = s"__graft_vao_${nm}_$ver"
        graft.sources.snapshot.SnapshotLog
          .read(spark, snapshotOf(spark, nm).table, Some(ver))
          .createOrReplaceTempView(view)
        sb.append(statement.substring(last, mm.start)).append(view)
        last = mm.end
      }
    }
    sb.append(statement.substring(last))
    sb.toString
  }

  /** `v TIMESTAMP AS OF '<ts>'` (or epoch millis) — the other Delta
    * time-travel clause. Same discipline as VERSION AS OF: only
    * REGISTERED names rewrite, only outside literals/comments.
    */
  private val TimestampAsOfRe =
    """(?i)(\w+)\s+TIMESTAMP\s+AS\s+OF\s+('(?:[^']|'')*'|\d+)""".r

  /** Quoted timestamps parse as `yyyy-MM-dd[ HH:mm:ss[.fff]]` in UTC —
    * the engine-wide session timezone (Verify/Bench pin
    * `spark.sql.session.timeZone=UTC`); a bare integer is epoch millis.
    */
  private def parseTsMillis(raw: String): Long = {
    val t = raw.trim
    if (!t.startsWith("'")) t.toLong
    else {
      val s = t.substring(1, t.length - 1).replace("''", "'")
      val norm = if (s.length == 10) s + "T00:00:00" else s.replace(' ', 'T')
      try java.time.LocalDateTime.parse(norm)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"cannot parse TIMESTAMP AS OF literal $t — expected " +
              "'yyyy-MM-dd[ HH:mm:ss[.fff]]' (UTC) or epoch millis", e)
      }
    }
  }

  private def rewriteTimestampAsOf(spark: SparkSession,
      statement: String): String = {
    val spans = literalSpans(statement)
    def quoted(i: Int) = spans.exists(s => i >= s._1 && i < s._2)
    val sb = new StringBuilder
    var last = 0
    TimestampAsOfRe.findAllMatchIn(statement).foreach { mm =>
      val nm = mm.group(1)
      val registered = snapshotReg.containsKey((spark, nm.toLowerCase))
      // a dot before the match means `nm` is the LAST part of a
      // catalog-qualified name (graft.ns.t TIMESTAMP AS OF ...) — that
      // resolves through the catalog's own time-travel loadTable, and
      // rewriting just the tail would corrupt the statement
      val qualified = mm.start > 0 && statement.charAt(mm.start - 1) == '.'
      if (!quoted(mm.start) && registered && !qualified) {
        val snap = graft.sources.snapshot.SnapshotLog
        val table = snapshotOf(spark, nm).table
        val ts = parseTsMillis(mm.group(2))
        // resolve to the VERSION so the view name is stable for a
        // given table state and the read is an ordinary pinned read
        val ver = snap.versionAt(spark, table, ts).getOrElse(
          throw new IllegalArgumentException(
            s"no version of $table existed at t=$ts (or it has been " +
              "expired)"))
        val view = s"__graft_tao_${nm}_$ver"
        snap.read(spark, table, Some(ver)).createOrReplaceTempView(view)
        sb.append(statement.substring(last, mm.start)).append(view)
        last = mm.end
      }
    }
    sb.append(statement.substring(last))
    sb.toString
  }

  /** Read-shaped SQL over registered snapshot views — the query half
    * [[dml]] deliberately refuses (it returns versions, not frames):
    *
    *  - `DESCRIBE HISTORY v` → the commit log as a DataFrame (version,
    *    parent, op, epoch, file/row/byte counts — the
    *    [[graft.sources.snapshot.SnapshotLog.history]] shape).
    *  - `DESCRIBE DETAIL v` → one row of current-state facts (format,
    *    location, version, file/row/byte counts, outstanding DV and
    *    eq-delete debt, declared layout) — manifest-plane only, zero
    *    data files read (the Delta DESCRIBE DETAIL shape).
    *  - any statement mentioning `table_changes('v', from[, to])` — the
    *    Delta TVF shape — has each call resolved against the
    *    registration catalog, materialized as the row-level change feed
    *    ([[graft.sources.snapshot.SnapshotLog.readChangeFeed]]), and
    *    substituted as a view, so
    *    `SELECT * FROM table_changes('v', 2, 5) WHERE _change_type='insert'`
    *    just works. Omitting `to` reads through the latest version.
    *  - `v VERSION AS OF n` anywhere a registered view name appears —
    *    the Delta time-travel clause — substitutes a version-pinned
    *    read of the same table (manifest-planned, zero data movement);
    *    `v TIMESTAMP AS OF '2026-08-15 12:00:00'` (UTC; epoch millis
    *    also accepted) resolves the newest version published at or
    *    before the instant ([[graft.sources.snapshot.SnapshotLog.versionAt]])
    *    and reads the same way.
    *  - anything else passes through to `spark.sql` untouched.
    */
  def query(spark: SparkSession, statement0: String): DataFrame = {
    val statement1 =
      if (TimestampAsOfRe.findFirstIn(statement0).isDefined)
        rewriteTimestampAsOf(spark, statement0)
      else statement0
    val statement =
      if (VersionAsOfRe.findFirstIn(statement1).isDefined)
        rewriteVersionAsOf(spark, statement1)
      else statement1
    statement match {
      case DescribeHistoryRe(name) =>
        graft.sources.snapshot.SnapshotLog
          .history(spark, snapshotOf(spark, normName(name)).table)
      case DescribeDetailRe(name) =>
        // the Delta DESCRIBE DETAIL shape: one row of manifest-plane
        // facts (zero data files read — all from tableStats + layoutOf)
        val reg = snapshotOf(spark, normName(name))
        val st = graft.sources.snapshot.SnapshotLog.tableStats(spark, reg.table)
        val layout = graft.sources.snapshot.SnapshotLog.layoutOf(spark, reg.table)
        val sess = spark
        import sess.implicits._
        Seq(("graft-snapshot", reg.table, st.version, st.files.toLong,
          st.bytes, st.rows, st.deletedRows, st.eqDeleteKeys,
          layout.map(_.kind).getOrElse(""),
          layout.map(_.cols).getOrElse(Seq.empty[String])))
          .toDF("format", "location", "version", "num_files",
            "size_in_bytes", "num_rows", "num_deleted_rows",
            "num_eq_delete_keys", "layout_kind", "layout_columns")
      case _ if TableChangesCallRe.findFirstIn(statement).isDefined =>
        // the regex pre-check is a fast path only; matches inside
        // literals/comments survive the rewrite untouched, and a
        // statement with no LIVE call passes through verbatim
        spark.sql(rewriteTableChanges(spark, statement))
      case other => spark.sql(other)
    }
  }

  /** One registered snapshot view: its backing table, the statsCols
    * [[dml]] mutations should commit with, and whether the view is
    * PINNED (explicit version or tag) — pinned views are read-only.
    */
  private final case class SnapshotReg(table: String, statsCols: Seq[String],
      pinned: Boolean, morMerge: Boolean = false)

  private val snapshotReg =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SnapshotReg]()

  /** Resolve a catalog-qualified name (`graft.ns.t`) to its snapshot
    * table path, purely from the session conf — the same mapping
    * [[graft.plans.GraftCatalog]] computes, so the DML dialect and the
    * catalog can never disagree. None when the leading part names no
    * installed graft catalog (a session-catalog `db.t` is not ours).
    */
  private[graft] def catalogPathOf(spark: SparkSession,
      name: String): Option[String] = {
    val parts = normName(name).split("\\.")
    if (parts.length < 2) None
    else spark.conf.getOption(s"spark.sql.catalog.${parts.head}") match {
      case Some(impl)
          if impl == classOf[graft.plans.GraftCatalog].getName =>
        spark.conf.getOption(s"spark.sql.catalog.${parts.head}.root")
          .map(root => (root.stripSuffix("/") +: parts.tail).mkString("/"))
      case _ => None
    }
  }

  private def snapshotOf(spark: SparkSession, name: String): SnapshotReg = {
    val e = snapshotReg.get((spark, name.toLowerCase))
    if (e != null) e
    else catalogPathOf(spark, name) match {
      // catalog tables need no registration: statsCols and the merge
      // strategy come from the persisted table properties, and DML
      // always acts on the table head (pins are a view-level concept)
      case Some(path) =>
        require(graft.sources.snapshot.SnapshotLog
            .latestVersion(spark, path).isDefined,
          s"catalog name '$name' resolves to $path but no snapshot " +
            "table exists there — CREATE TABLE it first")
        val props = graft.plans.GraftCatalog.tableProps(spark, path)
        SnapshotReg(path, graft.plans.GraftCatalog.statsColsOf(props),
          pinned = false,
          morMerge = props.get("merge.strategy").contains("mor"))
      case None => throw new IllegalArgumentException(
        s"'$name' is not a registered snapshot view — registerSnapshot first")
    }
  }

  /** The view's backing table + statsCols, refusing pinned views: a
    * mutation would silently act on the table's LATEST version and
    * drop the pin the view exists for.
    */
  private def mutableSnapshotOf(spark: SparkSession, name: String): (String, Seq[String]) = {
    val e = snapshotOf(spark, name)
    require(!e.pinned,
      s"'$name' is pinned to a version/tag — DML would mutate the " +
        "table head and drop the pin; register an un-pinned view to mutate")
    (e.table, e.statsCols)
  }

  // ---- DML over snapshot views ------------------------------------------

  /** A table/view reference anywhere a DML statement names one:
    * a plain identifier, a dotted multi-part name (`db.t` — resolves
    * against the registration catalog and, for MERGE sources, the
    * session catalog, so `global_temp.v` works), or a backticked name
    * (dots and dashes inside are data). Normalized by [[normName]]
    * before catalog lookup.
    */
  private val NamePat = """(?:`[^`]+`|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)"""

  private def normName(s: String): String = s.replace("`", "")

  private val DeleteRe =
    (s"""(?is)^\\s*DELETE\\s+FROM\\s+($NamePat)\\s+WHERE\\s+(.+?)\\s*$$""").r
  // Delta's whole-table form: `DELETE FROM v` with no WHERE removes
  // every row — an O(1) zero-row overwrite keeping the schema (the
  // TRUNCATE body; history stays append-only, RESTORE undoes it)
  private val DeleteAllRe =
    (s"""(?is)^\\s*DELETE\\s+FROM\\s+($NamePat)\\s*$$""").r
  // `INSERT INTO v [(cols)] SELECT ... | VALUES (...), (...)` — the
  // optional column list binds SELECT/VALUES columns POSITIONALLY to
  // the listed table columns (omitted nullable columns fill NULL —
  // the append's alignToSchema contract); a bare VALUES binds
  // positionally to the full schema
  private val InsertRe =
    (s"""(?is)^\\s*INSERT\\s+INTO\\s+($NamePat)\\s*""" +
      """(?:\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*)?""" +
      """(SELECT\b.+|VALUES\s*\(.+)$""").r
  private val DeleteInSubqueryRe =
    """(?is)^\s*(\w+)\s+IN\s*\(\s*(SELECT\b.+)\)\s*$""".r
  // tuple form: `WHERE (a, b) IN (SELECT ...)` — subquery columns
  // align POSITIONALLY with the tuple (standard SQL tuple-IN)
  private val DeleteInTupleRe =
    ("""(?is)^\s*\(\s*(\w+(?:\s*,\s*\w+)+)\s*\)\s+IN\s*""" +
      """\(\s*(SELECT\b.+)\)\s*$""").r
  private val InsertOverwriteRe =
    (s"""(?is)^\\s*INSERT\\s+OVERWRITE\\s+($NamePat)\\s+(SELECT\\b.+)$$""").r
  private val TruncateRe =
    (s"""(?is)^\\s*TRUNCATE\\s+TABLE\\s+($NamePat)\\s*$$""").r
  private val CreateTableRe =
    (s"""(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+($NamePat)\\s+""" +
      """LOCATION\s+'([^']+)'""" +
      """(?:\s+CLUSTER\s+BY\s+(range|bucket|zorder)\s*""" +
      """\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s+INTO\s+(\d+)\s+FILES)?""" +
      """\s+AS\s+(SELECT\b.+)$""").r
  private val UpdateRe =
    (s"""(?is)^\\s*UPDATE\\s+($NamePat)\\s+SET\\s+(.+)$$""").r

  /** Split on TOP-LEVEL commas: commas inside parentheses or string
    * literals ('' and backslash escapes honored — a raw per-quote
    * toggle would flip string state on escape pairs and mis-split)
    * belong to the expressions.
    */
  /** Index of the first top-level `AND` keyword (outside parens and
    * literals, and not the `AND` of a top-level `BETWEEN .. AND ..`),
    * or `s.length` when none — how an arbitrary ON conjunct knows
    * where it ends.
    */
  private def topLevelAndIndex(s: String): Int = {
    val spans = literalSpans(s)
    def quoted(i: Int) = spans.exists(sp => i >= sp._1 && i < sp._2)
    def wordAt(i: Int, w: String): Boolean =
      i + w.length <= s.length &&
        s.substring(i, i + w.length).equalsIgnoreCase(w) &&
        (i == 0 || (!s.charAt(i - 1).isLetterOrDigit &&
          s.charAt(i - 1) != '_')) &&
        (i + w.length == s.length ||
          (!s.charAt(i + w.length).isLetterOrDigit &&
            s.charAt(i + w.length) != '_'))
    var depth = 0
    var betweenPending = false
    var i = 0
    while (i < s.length) {
      if (quoted(i)) i += 1
      else s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ if depth == 0 && wordAt(i, "BETWEEN") =>
          betweenPending = true; i += 7
        case _ if depth == 0 && wordAt(i, "AND") =>
          if (betweenPending) { betweenPending = false; i += 3 }
          else return i
        case _ => i += 1
      }
    }
    s.length
  }

  /** `s` with every `alias.` qualifier prefix removed (outside
    * literals) — how a source-qualified conjunct becomes resolvable
    * against the bare source frame after the pin drops its alias.
    */
  private def stripQualifier(s: String, alias: String): String = {
    val spans = literalSpans(s)
    def quoted(i: Int) = spans.exists(sp => i >= sp._1 && i < sp._2)
    val re = ("""(?i)(?<![\w.`])""" +
      java.util.regex.Pattern.quote(alias) + """\s*\.\s*""").r
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(s).foreach { m =>
      if (!quoted(m.start)) {
        sb.append(s.substring(last, m.start))
        last = m.end
      }
    }
    sb.append(s.substring(last))
    sb.toString
  }

  private def splitTopLevelCommas(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' =>
          i += 1
          var open = true
          while (open && i < s.length) {
            if (s.charAt(i) == '\\' && i + 1 < s.length)
              i += 2
            else if (s.charAt(i) == '\'') {
              if (i + 1 < s.length && s.charAt(i + 1) == '\'')
                i += 2
              else { open = false; i += 1 }
            } else i += 1
          }
          i -= 1 // the outer loop advances past the closing quote
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          parts += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    parts += s.substring(start)
    parts.result()
  }

  /** Parse a SET clause's `[alias.]col = expr` pairs; expressions
    * resolve through `functions.expr`, so they may reference other
    * columns (and, in MERGE, either side's alias). A QUALIFIED target
    * (`SET t.v = ...` — the Delta MERGE idiom) must name the TARGET
    * alias: qualifying an assignment with the source is writing to the
    * wrong table and refuses loudly.
    */
  private def parseAssignments(setClause: String,
      targetQualifiers: Set[String] = Set.empty)
      : Map[String, org.apache.spark.sql.Column] = {
    val AssignRe =
      """(?s)^\s*(?:([A-Za-z_]\w*)\s*\.\s*)?(\w+)\s*=\s*(.+?)\s*$""".r
    splitTopLevelCommas(setClause).map {
      case AssignRe(q, c, rhs) =>
        if (q != null)
          require(targetQualifiers.exists(_.equalsIgnoreCase(q)),
            s"assignment target '$q.$c' must be qualified by the " +
              s"TARGET alias (${targetQualifiers.mkString("/")}), " +
              s"got '$q'")
        c -> org.apache.spark.sql.functions.expr(rhs)
      case bad => throw new IllegalArgumentException(
        s"cannot parse UPDATE assignment '$bad' — expected " +
          "[alias.]col = expr")
    }.toMap
  }

  /** First index of keyword `word` outside every literal/comment span,
    * or -1 (how UPDATE finds the WHERE that ends its SET clause — a
    * "where" INSIDE an assignment's string literal is data).
    */
  private def topLevelIndexOf(s: String, word: String): Int = {
    val spans = literalSpans(s)
    ("(?i)\\b" + word + "\\b").r.findAllMatchIn(s)
      .find(m => !spans.exists(sp => m.start >= sp._1 && m.start < sp._2))
      .map(_.start).getOrElse(-1)
  }

  import graft.sources.snapshot.SnapshotLog.ColumnRange

  // one conjunct: col BETWEEN lit AND lit, or col <op> lit — a literal
  // is a ''-escaped single-quoted string or a bare unspaced token
  private val ConjBetweenRe =
    """(?is)^\s*(\w+)\s+BETWEEN\s+('(?:[^']|'')*'|[^\s'()]+)\s+AND\s+('(?:[^']|'')*'|[^\s'()]+)\s*""".r
  private val ConjCmpRe =
    """(?is)^\s*(\w+)\s*(<=|>=|=|<|>)\s*('(?:[^']|'')*'|[^\s'()]+)\s*""".r
  private val AndRe = """(?is)^AND\s+""".r
  private val OrRe = """(?is)^OR\b""".r

  /** Parse a DML WHERE clause as an AND-conjunction of per-column
    * range constraints — the exact grammar the stats-based file
    * classification can execute faithfully. Each conjunct is
    * `col BETWEEN lo AND hi` or `col (=|<|<=|>|>=) x`. OR (and any
    * other shape) refuses LOUDLY: a dispatcher that silently
    * mis-executes a predicate it cannot classify is how tables corrupt.
    */
  private def parseWhere(where: String): Seq[ColumnRange] = {
    def fail(at: String): Nothing = throw new IllegalArgumentException(
      "DML WHERE supports AND-conjunctions of per-column ranges " +
        "(col BETWEEN lo AND hi, col = x, col </<=/>/>= x); OR and " +
        s"other predicate shapes are not supported — cannot parse: $at")
    val out = Seq.newBuilder[ColumnRange]
    var rest: CharSequence = where
    var first = true
    while (rest.length() > 0) {
      if (!first) {
        if (OrRe.findPrefixMatchOf(rest).isDefined) fail(rest.toString)
        AndRe.findPrefixMatchOf(rest) match {
          case Some(m) => rest = rest.subSequence(m.end, rest.length())
          case None => fail(rest.toString)
        }
      }
      ConjBetweenRe.findPrefixMatchOf(rest) match {
        case Some(m) =>
          out += ColumnRange(m.group(1),
            Some(sqlLiteral(m.group(2))), Some(sqlLiteral(m.group(3))))
          rest = rest.subSequence(m.end, rest.length())
        case None => ConjCmpRe.findPrefixMatchOf(rest) match {
          case Some(m) =>
            val v = sqlLiteral(m.group(3))
            out += (m.group(2) match {
              case "=" => ColumnRange.eq(m.group(1), v)
              case "<" => ColumnRange(m.group(1), None, Some(v), hiStrict = true)
              case "<=" => ColumnRange(m.group(1), None, Some(v))
              case ">" => ColumnRange(m.group(1), Some(v), None, loStrict = true)
              case ">=" => ColumnRange(m.group(1), Some(v), None)
            })
            rest = rest.subSequence(m.end, rest.length())
          case None => fail(rest.toString)
        }
      }
      first = false
    }
    val crs = out.result()
    if (crs.isEmpty) fail(where)
    crs
  }
  // target and source may each carry an `[AS] alias` (the Delta MERGE
  // shape); the negative lookaheads keep the keywords USING/ON from
  // being eaten as aliases. The statement is matched against its
  // literal-MASKED form ([[maskLiterals]]) so an ON literal containing
  // " WHEN " never mis-splits the clause tail.
  private val MergeRe =
    (s"""(?is)^\\s*MERGE\\s+(WITH\\s+SCHEMA\\s+EVOLUTION\\s+)?INTO\\s+""" +
      s"($NamePat)" + """(?:\s+(?:AS\s+)?((?!USING\b)[A-Za-z_]\w*))?""" +
      s"""\\s+USING\\s+($NamePat)""" +
      """(?:\s+(?:AS\s+)?((?!ON\b)[A-Za-z_]\w*))?""" +
      """\s+ON\s+(.+?)\s+(WHEN\s.+)$""").r
  // the subquery-source form: `USING (SELECT ...) [AS] alias` — the
  // head regex stops at the opening paren; the body is cut by a
  // balanced-paren scan that treats literal/comment spans as data
  private val MergeSubqueryHeadRe =
    (s"""(?is)^\\s*MERGE\\s+(WITH\\s+SCHEMA\\s+EVOLUTION\\s+)?INTO\\s+""" +
      s"($NamePat)" + """(?:\s+(?:AS\s+)?((?!USING\b)[A-Za-z_]\w*))?""" +
      """\s+USING\s*\(""").r
  private val MergeSubqueryTailRe =
    """(?is)^\s*(?:AS\s+)?(\w+)\s+ON\s+(.+?)\s+(WHEN\s.+)$""".r
  private val MergeBySourceRe =
    ("""(?is)WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?\s+""" +
      """THEN\s+(DELETE|UPDATE\s+SET\s+.+?)\s*(?=WHEN\b|$)""").r
  private val OptimizeRe =
    (s"""(?is)^\\s*OPTIMIZE\\s+($NamePat)\\s*(.*?)\\s*$$""").r
  private val OptimizeWhereRe = """(?is)^WHERE\s+(.+)$""".r
  private val OptimizeZorderRe =
    """(?is)^ZORDER\s+BY\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)$""".r
  private val VacuumRe = (s"""(?is)^\\s*VACUUM\\s+($NamePat)\\s*$$""").r
  private val RestoreVersionRe =
    (s"""(?is)^\\s*RESTORE\\s+TABLE\\s+($NamePat)\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*$$""").r
  private val RestoreTimestampRe =
    (s"""(?is)^\\s*RESTORE\\s+TABLE\\s+($NamePat)\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+('(?:[^']|'')*'|\\d+)\\s*$$""").r
  private val AddConstraintRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($NamePat)\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*$$""").r
  private val DropConstraintRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($NamePat)\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*$$""").r
  private val AlterClusterRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($NamePat)\\s+CLUSTER\\s+BY\\s+""" +
      """(range|bucket|zorder)\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)""" +
      """\s+INTO\s+(\d+)\s+FILES\s*$""").r
  private val AlterClusterNoneRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($NamePat)\\s+CLUSTER\\s+BY\\s+NONE\\s*$$""").r
  private val AlterRenameRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($NamePat)\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)\\s*$$""").r
  private val AlterDropRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($NamePat)\\s+DROP\\s+COLUMN\\s+(\\w+)\\s*$$""").r
  private val AlterAddRe =
    (s"""(?is)^\\s*ALTER\\s+TABLE\\s+($NamePat)\\s+ADD\\s+COLUMNS?\\s*\\(?\\s*""" +
      """(\w+)\s+([A-Za-z0-9_]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*\)?\s*$""").r

  /** `s` with every string-literal/quoted-identifier span replaced by
    * a \u0001 fill and every comment span by spaces — SAME LENGTH as
    * the input, so regex match offsets computed on the mask index
    * directly into the original text. The fill can never form a
    * keyword (\u0001 is neither a word char nor whitespace, so a
    * masked literal also never glues two keywords together), which
    * makes keyword-splitting regexes literal-safe: a WHEN / THEN / AND
    * inside a quoted string is data, exactly as the subquery splitter
    * already treats it.
    */
  private def maskLiterals(s: String): String = {
    val arr = s.toCharArray
    literalSpans(s).foreach { case (a, b) =>
      val fill =
        if (s.charAt(a) == '\'' || s.charAt(a) == '"') '\u0001' else ' '
      var i = a
      while (i < b) { arr(i) = fill; i += 1 }
    }
    new String(arr)
  }

  /** `s` with the given half-open spans blanked to spaces (length
    * preserved) — how consumed clauses are removed from the masked and
    * original texts IN PARALLEL, keeping their offsets aligned.
    */
  private def blankSpans(s: String, spans: Seq[(Int, Int)]): String = {
    val arr = s.toCharArray
    spans.foreach { case (a, b) =>
      var i = a
      while (i < b) { arr(i) = ' '; i += 1 }
    }
    new String(arr)
  }

  private def sqlLiteral(s: String): Any = {
    val t = s.trim
    if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
      t.substring(1, t.length - 1).replace("''", "'")
    else
      try if (t.contains('.')) t.toDouble else t.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"cannot parse SQL literal '$t' — expected a number or a " +
            "single-quoted string")
      }
  }

  /** Thin DML dispatch over registered snapshot views — the write half
    * of the SQL surface. Supported statements (ANSI shapes, resolved
    * against [[registerSnapshot]]'s catalog):
    *
    *  - `DELETE FROM v WHERE <predicate>`. A `<conjunction>` — an AND
    *    of per-column ranges (`col BETWEEN lo AND hi`, `col = x`,
    *    `col </<=/>/>= x`), e.g. `WHERE a BETWEEN 1 AND 9 AND b = 'web'
    *    AND ts < 170` — routes to the stats-classified CoW
    *    [[graft.sources.snapshot.SnapshotLog.deleteWhere]]: untouched
    *    files kept, covered files dropped metadata-only, partial files
    *    rewritten. `WHERE col IN (SELECT ...)` — the GDPR-erasure
    *    shape — evaluates the subquery once and records the key set
    *    as a merge-on-read equality delete
    *    ([[graft.sources.snapshot.SnapshotLog.deleteKeysMOR]]): zero
    *    files touched at any table size. `WHERE (a, b) IN (SELECT ...)`
    *    — the COMPOSITE-key form — is the same shape with one sidecar
    *    carrying the whole tuple set (subquery columns align
    *    positionally, standard tuple-IN). ANY OTHER predicate (OR,
    *    LIKE, arbitrary Spark SQL) routes to the merge-on-read
    *    [[graft.sources.snapshot.SnapshotLog.deleteMatchingDV]]: one
    *    scan marks matching positions, zero rewrites, OPTIMIZE pays
    *    the mask debt later. All execute exactly; the grammar only
    *    picks the cost class.
    *  - `DELETE FROM v` (no WHERE) → Delta's whole-table delete:
    *    every row goes, the schema stays — an O(1) zero-row overwrite
    *    (RESTORE undoes it), and `UPDATE v SET a = expr` (no WHERE) →
    *    the whole-table update (every file rewrites — inherently
    *    table-sized work, stated rather than hidden).
    *  - `INSERT INTO v [(cols)] SELECT ... | VALUES (...), (...)` →
    *    an append commit of the query result (conforms to the table
    *    schema; CHECK constraints bind). A column list (or a bare
    *    VALUES) binds positionally with standard INSERT coercion —
    *    listed columns cast to the table's types, omitted nullable
    *    columns fill NULL; by-name SELECT keeps the strict type check.
    *  - `INSERT OVERWRITE v SELECT ...` → a full-table replace in one
    *    commit (files, schema, mapping, and eq-delete state reset —
    *    nothing is read; old files become VACUUM debris), and
    *    `TRUNCATE TABLE v` → the same with zero rows, keeping the
    *    current schema — O(1) at any table size, undoable via RESTORE.
    *  - `CREATE [OR REPLACE] TABLE name LOCATION 'path' [CLUSTER BY
    *    range|bucket|zorder(cols) INTO n FILES] AS SELECT ...`
    *    → CTAS: the result commits at `path` and registers as a live
    *    view `name`; with CLUSTER BY the schema lands first, the
    *    layout declares on it, and the data commits CONFORMED in one
    *    append (written once, already clustered; future appends
    *    conform). Plain CREATE refuses a committed location.
    *  - `UPDATE v SET a = expr[, b = expr] WHERE <predicate>`:
    *    conjunctions → the stats-classified CoW
    *    [[graft.sources.snapshot.SnapshotLog.updateWhere]] (only files
    *    whose stats may hold a match rewrite);
    *    `WHERE col IN (SELECT ...)` →
    *    [[graft.sources.snapshot.SnapshotLog.updateKeys]] (the
    *    subquery evaluates once; only files its key tuples may land
    *    in rewrite, matched by one join — no driver-side collect);
    *    arbitrary predicates →
    *    [[graft.sources.snapshot.SnapshotLog.updateMatching]] (a
    *    pruned probe scan locates the files that HOLD a match; exactly
    *    those rewrite). Expressions may reference other columns.
    *  - `MERGE INTO v USING src ON v.k = src.k WHEN MATCHED THEN
    *    UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
    *    → [[graft.sources.snapshot.SnapshotLog.upsert]] (exact-interval
    *    file classification, CoW merge). Clause bodies may also be
    *    EXPLICIT: `UPDATE SET a = expr, ...` (expressions may reference
    *    either side by its alias; the key may not be reassigned) and
    *    `INSERT (cols) VALUES (exprs)` (listed columns land, omitted
    *    nullable columns fill NULL, the key must be listed; the source
    *    may carry extra columns), and each clause takes an optional
    *    CONDITION — `WHEN MATCHED AND <cond> THEN UPDATE ...` /
    *    `WHEN NOT MATCHED AND <cond> THEN INSERT ...` — a matched row
    *    failing its condition stays unchanged, a not-matched row
    *    failing its condition never inserts. Matched rows come from
    *    the stats/Bloom-pruned semi-join read, so the build cost is
    *    the matched files, not the table.
    *  - ORDERED MULTI-CLAUSE families (the full Delta clause surface):
    *    any number of WHEN MATCHED / WHEN NOT MATCHED / WHEN NOT
    *    MATCHED BY SOURCE clauses, applied first-match-wins per row in
    *    statement order; every clause except the last of its family
    *    must carry a condition (an unconditional clause is a wall —
    *    enforced loudly). A matched clause body may also be `DELETE`
    *    (with or without a condition): delete-resolved rows route the
    *    whole merge through the CDC changelog machinery as D ops in
    *    the same single commit.
    *  - `MERGE INTO v USING src ON v.k = s.k AND v.ds >= '2026-08-01'
    *    WHEN ...` — residual TARGET-side range conjuncts in the ON
    *    (the partition-bounding idiom). Residual conjuncts classify
    *    candidate files exactly like DML conjunctions (a file ANY
    *    conjunct provably excludes is never probed or rewritten) and
    *    AND into the match predicate, so semantics stay exact: a
    *    same-key target row failing the residual rides through
    *    untouched, and an unmatched source row INSERTS even when its
    *    key exists outside the bounded range (Delta's
    *    partition-bounded-merge outcome). Composes with UPDATE/INSERT
    *    clauses (conditions and explicit bodies included) on CoW
    *    registrations; source-side or non-range residuals refuse.
    *  - `MERGE INTO v USING (SELECT ...) s ON v.k = s.k WHEN ...` —
    *    the subquery source form (the canonical dedup-before-upsert
    *    statement: window/aggregate/CTE bodies all compose). The
    *    SELECT body is opaque to the clause splitter — parens and
    *    keywords inside its literals are data — and must be a single
    *    statement (a top-level `;` refuses). All clause families and
    *    strategies below apply unchanged.
    *  - the same MERGE with a leading `WHEN MATCHED AND src.op = 'D'
    *    THEN DELETE` clause → [[graft.sources.snapshot.SnapshotLog.applyChanges]]
    *    (CDC upsert+delete in one commit).
    *  - `MERGE WITH SCHEMA EVOLUTION INTO ...` (unconditional
    *    `SET * / INSERT *` form): source-only columns ADD to the
    *    table first — additive, metadata-only, existing rows serve
    *    NULL — then the merge executes against the evolved schema.
    *    Without the flag, an extra source column refuses loudly (the
    *    table's schema is the contract — no silent drop, no silent
    *    add).
    *  - `WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE` (or
    *    `UPDATE SET ...`) — the third Delta clause family: target rows
    *    with NO source key delete or rewrite. The clause families are
    *    independently optional (any non-empty subset parses, e.g. a
    *    single-clause `WHEN NOT MATCHED BY SOURCE THEN DELETE` sync);
    *    an unrecognized WHEN clause refuses loudly. A by-source form
    *    reads the target once — no file stats can prove the ABSENCE
    *    of a key — and commits once through the CDC machinery; note
    *    this is the CoW cost class (files holding affected rows
    *    rewrite) even on a `merge = "mor"` registration, because a
    *    by-source clause's work is inherently row-locating.
    *  - `OPTIMIZE v [WHERE <conjunction>]` →
    *    [[graft.sources.snapshot.SnapshotLog.compact]] (small-file +
    *    DV-debt rewrite; the WHERE conjunction — same grammar as DML —
    *    scopes the pass to files it may overlap);
    *    `OPTIMIZE v ZORDER BY (a, b[, c, d])` → the same rewrite
    *    clustered on a k-way z-order interleave scaled from manifest
    *    stats, and `VACUUM v` →
    *    [[graft.sources.snapshot.SnapshotLog.vacuum]] (unreferenced
    *    debris; no new version).
    *  - `ALTER TABLE v RENAME COLUMN a TO b`
    *    → [[graft.sources.snapshot.SnapshotLog.renameColumn]]
    *    (metadata-only column mapping) and
    *    `ALTER TABLE v ADD COLUMN c TYPE`
    *    → [[graft.sources.snapshot.SnapshotLog.evolveSchema]]
    *    (additive, metadata-only), and `ALTER TABLE v DROP COLUMN c`
    *    → [[graft.sources.snapshot.SnapshotLog.dropColumn]]
    *    (metadata-only; the physical slot tombstones so a later
    *    re-ADD serves NULL) — all repoint the view at the new
    *    version with the new schema.
    *  - `ALTER TABLE v CLUSTER BY range|bucket|zorder(cols) INTO n
    *    FILES` → [[graft.sources.snapshot.SnapshotLog.setLayout]]
    *    (declared clustering: one manifest write, zero data movement;
    *    appends conform, OPTIMIZE re-clusters), and
    *    `ALTER TABLE v CLUSTER BY NONE` → clearLayout.
    *  - `RESTORE TABLE v TO VERSION AS OF n` (or `TO TIMESTAMP AS OF
    *    '<ts>'`) → [[graft.sources.snapshot.SnapshotLog.restore]] —
    *    metadata-only rollback publishing the target version's file
    *    list as a new version (history stays append-only; the restore
    *    is itself undoable).
    *  - `ALTER TABLE v ADD CONSTRAINT name CHECK (expr)` /
    *    `DROP CONSTRAINT name` →
    *    [[graft.sources.snapshot.SnapshotLog.addConstraint]] /
    *    dropConstraint — registration validates existing rows and
    *    every future write enforces the check at commit time.
    *
    * After a mutation the view re-registers at the NEW latest version,
    * so subsequent SELECTs observe the change — Delta's SQL DML
    * semantics on the manifest-log table format. Anything else throws
    * (loudly — this is a dispatch, not a SQL engine; Spark's parser
    * still owns every SELECT).
    *
    * Returns the newly committed version.
    */

  /** Parse the subquery-source MERGE —
    * `MERGE [WITH SCHEMA EVOLUTION] INTO tgt USING (SELECT ...) [AS]
    * alias ON ... WHEN ...` (the canonical dedup-before-upsert idiom).
    * Returns None when the statement is not this shape at all;
    * a MALFORMED subquery MERGE refuses loudly (it cannot be any other
    * statement). The SELECT body stays opaque: parens and keywords
    * inside its literals/comments are data, and a top-level `;` (the
    * multi-statement injection shape) refuses.
    */
  private def parseMergeSubquery(statement: String)
      : Option[(Boolean, String, String, String, String, String, String)] = {
    val head = MergeSubqueryHeadRe.findPrefixMatchOf(statement)
      .getOrElse(return None)
    val spans = literalSpans(statement)
    def live(i: Int) = !spans.exists(sp => i >= sp._1 && i < sp._2)
    var depth = 1
    var i = head.end // index just past the opening paren
    while (i < statement.length && depth > 0) {
      if (live(i)) statement.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    require(depth == 0,
      s"unbalanced parentheses in MERGE USING (...) source: $statement")
    val body = statement.substring(head.end, i - 1).trim
    require("""(?is)^(SELECT|WITH)\b""".r.findPrefixMatchOf(body).isDefined,
      "MERGE USING (...) must wrap a single SELECT (or WITH ... SELECT) " +
        s"subquery, got: ${body.take(80)}")
    val bodySpans = literalSpans(body)
    require(!body.indices.exists(j => body.charAt(j) == ';' &&
        !bodySpans.exists(sp => j >= sp._1 && j < sp._2)),
      "MERGE USING (...) subquery must be one statement — a top-level " +
        "';' in the source body refuses (no statement smuggling)")
    val tgt = normName(head.group(2))
    val tgtAlias = Option(head.group(3)).getOrElse(tgt)
    // the ON / WHEN split runs on the literal-MASKED tail (offsets are
    // alignment-preserving), so an ON literal containing " WHEN " is
    // data, same as inside the subquery body
    val tail = statement.substring(i)
    MergeSubqueryTailRe.findFirstMatchIn(maskLiterals(tail)) match {
      case Some(mm) =>
        def g(k: Int) = tail.substring(mm.start(k), mm.end(k))
        Some((head.group(1) != null, tgt, tgtAlias, g(1), body, g(2), g(3)))
      case None => throw new IllegalArgumentException(
        "cannot parse MERGE USING (...) tail — expected `[AS] alias ON " +
          s"<cond> WHEN ...`, got: $tail")
    }
  }

  /** Delta's "multiple source rows matched" refusal text — raised by
    * the guard folded into the matched-pairs pin and rethrown (same
    * text, same exception class callers always saw) at the statement
    * level.
    */
  private[graft] val AmbiguousMergeMsg =
    "MERGE: multiple source rows matched and attempted to " +
      "modify the same target row — deduplicate the source " +
      "on the merge key (or disambiguate with clause " +
      "conditions)"

  /** Pin a frame that carries a folded `raise_error` refusal guard.
    * The guard firing during the pin's materialization surfaces as a
    * SparkException-wrapped task failure; this converts it back into
    * the statement-level IllegalArgumentException contract (message =
    * `msg`, the guard's own text) so refusals keep the exact surface
    * they had when they were separate driver-side probe actions.
    * Any other failure rethrows untouched.
    */
  private def pinRefusing(df: DataFrame, msg: String): DataFrame =
    refusingAs(msg)(graft.sources.snapshot.SnapshotLog.pin(df))

  /** Run `body`, converting a folded `raise_error(msg)` refusal guard
    * that fired inside one of its Spark jobs back into the
    * statement-level IllegalArgumentException contract, with the
    * original failure as its cause. The guard is recognized by what
    * `raise_error` throws — a SparkThrowable of condition
    * USER_RAISED_EXCEPTION carrying exactly `msg` — anywhere on the
    * cause chain; any other failure, whatever its text, rethrows
    * untouched.
    */
  private[graft] def refusingAs[A](msg: String)(body: => A): A =
    try body
    catch {
      case e: Throwable if Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).take(32).exists {
            case st: org.apache.spark.SparkThrowable =>
              st.getCondition == "USER_RAISED_EXCEPTION" &&
                st.getMessageParameters.get("errorMessage") == msg
            case _ => false
          } =>
        throw new IllegalArgumentException(msg, e)
    }

  /** The table's schema at its head version. */
  private def tableSchema(spark: SparkSession,
      t: String): org.apache.spark.sql.types.StructType = {
    val snap = graft.sources.snapshot.SnapshotLog
    org.apache.spark.sql.types.StructType.fromDDL(
      snap.manifest(spark, t, snap.latestVersion(spark, t).get).schemaDdl)
  }

  /** Star bodies project the SOURCE's column for every table field —
    * refuse a source that cannot satisfy that before Catalyst produces
    * an unresolved-column error. The UNCONDITIONAL star form keeps its
    * stricter contract: an EXTRA source column refuses too (the table's
    * schema is the contract — no silent drop; WITH SCHEMA EVOLUTION is
    * the opt-in), while multi-clause statements may carry extra source
    * columns for their conditions and bodies.
    */
  private def requireStarSource(
      schema: org.apache.spark.sql.types.StructType, srcCols: Seq[String],
      matchedClauses: List[(Option[String], Option[String])],
      insClauses: List[(Option[String], Option[(String, String)])],
      unconditionalStar: Boolean): Unit =
    if (matchedClauses.exists(_._2.contains("*")) ||
        insClauses.exists(_._2.isEmpty)) {
      val missing = schema.fieldNames.filterNot(f =>
        srcCols.exists(_.equalsIgnoreCase(f)))
      require(missing.isEmpty,
        "UPDATE SET * / INSERT * needs the source to carry " +
          s"every table column; missing ${missing.toSeq} " +
          s"(source has $srcCols)")
      if (unconditionalStar)
        require(srcCols.map(_.toLowerCase).toSet ==
            schema.fieldNames.map(_.toLowerCase).toSet,
          s"update columns $srcCols != table " +
            s"${schema.fieldNames.toSeq} — extra source columns " +
            "need MERGE WITH SCHEMA EVOLUTION (no silent drop)")
    }

  /** An UPDATE SET body may assign table columns only, never a key. */
  private def requireAssignable(assigns: Map[String, Column],
      schema: org.apache.spark.sql.types.StructType,
      tKeys: Seq[String]): Unit = {
    assigns.keys.foreach(a =>
      require(schema.fieldNames.contains(a),
        s"UPDATE SET target '$a' not in table schema " +
          s"${schema.fieldNames.toSeq}"))
    require(!assigns.keys.exists(a => tKeys.exists(_.equalsIgnoreCase(a))),
      s"UPDATE SET may not reassign a MERGE key ($tKeys)")
  }

  /** Index of the first clause whose condition holds — a when-chain in
    * statement order; null = no clause (ride).
    */
  private def clauseIdx(conds: List[Option[String]]): Column =
    conds.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, (cond, i)) =>
        val ci = cond.map(e => org.apache.spark.sql.functions.expr(e))
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        Some(acc match {
          case None => org.apache.spark.sql.functions.when(ci, i)
          case Some(w) => w.when(ci, i)
        })
    }.get

  /** Per-field value of clause i, as a Column — parsed and validated
    * ONCE per clause, then folded into a when-chain so EVERY clause
    * rides ONE projection over ONE scan (a per-clause frame union would
    * re-evaluate the pruned read once per clause).
    */
  private def whenChain(clause: Column, idx: Seq[Int],
      value: Int => Column): Column =
    idx.foldLeft(Option.empty[Column]) { case (acc, i) =>
      Some(acc match {
        case None => org.apache.spark.sql.functions
          .when(clause === i, value(i))
        case Some(w) => w.when(clause === i, value(i))
      })
    }.get

  /** The explicit `INSERT (cols) VALUES (exprs)` bodies by clause index,
    * parsed and validated upfront (`INSERT *` clauses have none).
    */
  private def insertBodies(
      insClauses: List[(Option[String], Option[(String, String)])],
      schema: org.apache.spark.sql.types.StructType,
      tKeys: Seq[String]): Map[Int, Map[String, Column]] =
    insClauses.zipWithIndex.collect {
      case ((_, Some((colsS, valsS))), i) =>
        val cols = colsS.split(",").map(_.trim).toSeq
        val exprs = splitTopLevelCommas(valsS)
          .map(e => org.apache.spark.sql.functions.expr(e.trim))
        require(cols.nonEmpty && cols.length == exprs.length,
          s"INSERT column list (${cols.size}) and VALUES " +
            s"(${exprs.size}) must align")
        cols.foreach(a =>
          require(schema.fieldNames.contains(a),
            s"INSERT column '$a' not in table schema " +
              s"${schema.fieldNames.toSeq}"))
        tKeys.foreach(k =>
          require(cols.exists(_.equalsIgnoreCase(k)),
            s"INSERT column list must include the MERGE key '$k'"))
        schema.fields.foreach(f =>
          if (!cols.contains(f.name))
            require(f.nullable,
              s"INSERT omits non-nullable column '${f.name}'"))
        i -> cols.zip(exprs).toMap
    }.toMap

  /** Field `f` of the row that insert clause `clause` (an index from
    * [[clauseIdx]] over `nClauses` clauses) produces, read off a frame
    * whose columns are the source's: `INSERT *` takes the source column
    * of the same name, an explicit list its expression or NULL.
    */
  private def insertValue(f: org.apache.spark.sql.types.StructField,
      clause: Column, nClauses: Int,
      insByCol: Map[Int, Map[String, Column]]): Column =
    whenChain(clause, 0 until nClauses, i => insByCol.get(i) match {
      case None => org.apache.spark.sql.functions.col(f.name)
      case Some(byCol) => byCol.get(f.name).map(_.cast(f.dataType))
        .getOrElse(org.apache.spark.sql.functions.lit(null).cast(f.dataType))
    })

  /** The copy-on-write MERGE whose one matched clause is unconditional
    * (`WHEN MATCHED THEN UPDATE SET *|<assignments>`, any `WHEN NOT
    * MATCHED [AND cond] THEN INSERT` clauses; no residual ON, BY SOURCE
    * or CDC shape) through
    * [[graft.sources.snapshot.SnapshotLog.mergeByKeys]]: the source keys
    * probe one manifest, then exactly the candidate files rewrite as a
    * full outer join of their live rows with the source on the merge
    * keys, the source as `mergeByKeys` partitions it. From a small batch
    * of driver-held source rows (`SnapshotLog.smallLocal`) with
    * candidates that fit one advisory partition that is one SQL
    * execution and one Spark job (the probe runs on the driver, the join
    * needs no exchange); any other source adds the probe's aggregation
    * and the join's shuffle. A row with both sides takes the clause's
    * values, a target-only row is kept, a source-only row takes the insert
    * when-chain or drops. A source row that matches any target row
    * matches inside a candidate file (its key lies in that file's
    * [min,max]), so source-only here means NOT MATCHED for the whole
    * table. Duplicate-key target rows each take their own update; when
    * the probe saw a duplicated source key, a per-key source count rides
    * the join and a matched row whose key has several source rows
    * raises the "multiple source rows matched" refusal inside the write,
    * before anything publishes — a duplicated key that matches nothing
    * inserts every row.
    */
  private def mergeOneRewrite(t: String, stats: Seq[String],
      tKeys: Seq[String], tgtAlias: String, src: String, srcDf: DataFrame,
      schema: org.apache.spark.sql.types.StructType, setBody: String,
      insClauses: List[(Option[String], Option[(String, String)])]): Long = {
    import org.apache.spark.sql.functions.{col => c, count, lit => l,
      raise_error, when}
    val matchedValue: org.apache.spark.sql.types.StructField => Column =
      if (setBody == "*") f => c(s"$src.${f.name}")
      else {
        val assigns = parseAssignments(setBody, Set(tgtAlias))
        requireAssignable(assigns, schema, tKeys)
        f => assigns.getOrElse(f.name, c(s"$tgtAlias.${f.name}"))
      }
    val insByCol = insertBodies(insClauses, schema, tKeys)
    val (inT, inS, nSrc, insCol) =
      ("__graft_in_t", "__graft_in_s", "__graft_nsrc", "__graft_ins")
    val fields = schema.fields.toIndexedSeq
    graft.sources.snapshot.SnapshotLog.mergeByKeys(srcDf, t, tKeys, stats,
        mayInsert = insClauses.nonEmpty) { (target, shaped, guardDups) =>
      val source =
        if (!guardDups) shaped
        else shaped.withColumn(nSrc, count(l(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(tKeys.map(c): _*)))
      val both = c(inT).isNotNull && c(inS).isNotNull
      val joined = target.withColumn(inT, l(true)).as(tgtAlias)
        .join(source.withColumn(inS, l(true)).as(src),
          tKeys.map(k => c(s"$tgtAlias.$k") === c(s"$src.$k")).reduce(_ && _),
          "full_outer")
      // target and matched values go under internal names, the source
      // columns under their own, and the frame takes the source alias:
      // the insert clauses then resolve against the source alone, as a
      // NOT MATCHED row has no target side
      val staged = joined.select((fields.indices.map(i =>
          c(s"$tgtAlias.${fields(i).name}").as(s"__graft_t$i")) ++
        fields.indices.map { i =>
          val v = matchedValue(fields(i))
          val guarded =
            if (guardDups && i == 0)
              when(c(nSrc) > 1, raise_error(l(AmbiguousMergeMsg))).otherwise(v)
            else v
          when(both, guarded).as(s"__graft_m$i")
        } ++ shaped.columns.map(cn => c(s"$src.$cn").as(cn)) :+
        c(inT) :+ c(inS)): _*).as(src)
      val kept =
        if (insClauses.isEmpty) staged.where(c(inT).isNotNull)
        else staged
          .withColumn(insCol,
            when(c(inT).isNull, clauseIdx(insClauses.map(_._1))))
          .where(c(inT).isNotNull || c(insCol).isNotNull)
      kept.select(fields.indices.map { i =>
        val f = fields(i)
        val matchedOrKept = when(both, c(s"__graft_m$i").cast(f.dataType))
          .when(c(inT).isNotNull, c(s"__graft_t$i"))
        (if (insClauses.isEmpty) matchedOrKept
         else matchedOrKept.otherwise(insertValue(f, c(insCol),
           insClauses.size, insByCol).cast(f.dataType))).as(f.name)
      } :+ c(inS).isNotNull.as(
        graft.sources.snapshot.SnapshotLog.MergeChangedCol): _*)
    }.version
  }

  /** The MERGE execution shared by the bare-view and subquery source
    * forms — `tgtAlias` / `src` are the TARGET and SOURCE aliases
    * (what the ON pairs and clause bodies qualify columns with; the
    * target alias defaults to the view name), `srcDf0` the resolved
    * source frame. See [[dml]] for the full clause grammar and
    * semantics.
    *
    * Execution discipline: the unconditional-update copy-on-write shape
    * runs as one candidacy probe and one rewrite write
    * ([[mergeOneRewrite]]) and reads its source once per pass; its
    * source is pinned only when it could diverge between the two — a
    * deterministic plan over driver-held rows or already-pinned blocks
    * is read as it is, and a small batch of driver-held rows is probed on
    * the driver, so such a MERGE is the write's one SQL execution and one
    * job. Every
    * other shape PINS its source (materialized
    * exactly once — [[graft.sources.snapshot.SnapshotLog.pin]]) before
    * anything probes it, so a non-deterministic source cannot diverge
    * between the candidacy probe and the rewrite, and the many
    * downstream uses (semi-join probe, clause joins, insert anti-join,
    * the mutation's own containment probe) re-read storage blocks
    * instead of re-evaluating the plan. Every pin is released once the
    * statement returns — a DML session never accumulates dead blocks.
    *
    * Duplicate keys are handled per Delta semantics: a target key's
    * rows each resolve INDEPENDENTLY to the first clause whose
    * condition holds; rows no clause claims ride through even when a
    * same-key sibling rewrites (they are carried through the
    * replace-by-key machinery as unchanged rows), and a key deletes
    * only when EVERY one of its rows resolved to DELETE. Multiple
    * SOURCE rows resolving against the same matched key refuse loudly
    * (Delta's "multiple source rows matched" error).
    */
  private def execMerge(spark: SparkSession, evolve: Boolean, name: String,
      tgtAlias: String, src: String, srcDf0: DataFrame, onExpr: String,
      clauses: String): Long = {
        val (t, stats) = mutableSnapshotOf(spark, name)
        require(!tgtAlias.equalsIgnoreCase(src),
          s"MERGE target and source aliases must differ, got '$tgtAlias' " +
            "for both sides")
        require(!tgtAlias.contains(".") && !src.contains("."),
          "a dotted MERGE name needs an explicit alias (`MERGE INTO " +
            s"a.b AS t USING c.d AS s`) — ON pairs and clause bodies " +
            s"qualify by the ALIAS, got '$tgtAlias' / '$src'")
        // ON is an AND-conjunction of equi-key pairs (one key or a
        // COMPOSITE key; each pair binds the same-named column on both
        // sides — the upsert machinery keys the shared name) plus
        // OPTIONAL residual range conjuncts on EITHER side:
        // `AND v.ds >= '2026-08-01'` (target-side — prunes candidate
        // files exactly like DML conjunctions AND restricts the match
        // predicate) or `AND s.ds >= 3` (source-side — restricts which
        // source rows can MATCH; rows failing it are NOT MATCHED and
        // still insert, the Delta outcome). Parsed sequentially, never
        // split on a raw AND regex — a literal containing " AND "
        // stays data. Alias tokens must start with a letter/underscore
        // so a decimal literal (`t.v = 1.5`) parses as a residual
        // comparison, not a malformed equi-pair.
        val OnPairPrefixRe =
          """(?s)^\s*([A-Za-z_]\w*)\.(\w+)\s*=\s*([A-Za-z_]\w*)\.(\w+)\s*""".r
        val OnCmpPrefixRe =
          """(?is)^\s*([A-Za-z_]\w*)\.(\w+)\s*(<=|>=|=|<|>)\s*('(?:[^']|'')*'|[^\s'()]+)\s*""".r
        val OnAndPrefixRe = """(?is)^AND\s+""".r
        val pairB = Seq.newBuilder[String]
        val resB = Seq.newBuilder[ColumnRange]
        val srcResB = Seq.newBuilder[ColumnRange]
        val srcPredB = Seq.newBuilder[String]
        var onRest: CharSequence = onExpr.trim
        var onFirst = true
        // Arbitrary SOURCE-ONLY conjunct (`AND s.cat IN ('a','b')`,
        // `AND s.flag`, `AND lower(s.name) LIKE 'x%'`): anything the
        // pair/range grammars don't claim, as long as it references
        // ONLY the source alias. It restricts which source rows can
        // MATCH (rows failing it are NOT MATCHED and still insert —
        // same semantics as the source-side range residual), it just
        // cannot prune candidate files the way a range can. The
        // qualifier strips off so the predicate resolves against the
        // PINNED source frame (the pin drops the alias), and the
        // stripped text must analyze against the source frame alone —
        // typos and target references refuse at parse time, not as a
        // Catalyst error mid-commit.
        def takeArbitrarySrcConjunct(): Unit = {
          val s0 = onRest.toString
          val cut = topLevelAndIndex(s0)
          val conjunct = s0.substring(0, cut).trim
          val masked = maskLiterals(conjunct)
          val quals = """([A-Za-z_]\w*)\s*\.""".r
            .findAllMatchIn(masked).map(_.group(1)).toSeq
          require(!quals.exists(_.equalsIgnoreCase(tgtAlias)),
            "MERGE ON conjuncts beyond equi-key pairs and range " +
              "residuals must be SOURCE-only — target-side conditions " +
              s"support ranges (col op literal) only: $conjunct")
          require(quals.exists(_.equalsIgnoreCase(src)),
            "cannot parse MERGE ON conjunct — expected an equi-key " +
              "pair, a range residual, or a source-only predicate " +
              s"qualified by '$src' (qualify its columns; wrap a " +
              s"BETWEEN/AND conjunct in parentheses): $conjunct")
          val bare = stripQualifier(conjunct, src)
          try srcDf0.where(org.apache.spark.sql.functions.expr(bare))
            .queryExecution.analyzed
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"MERGE ON source-side conjunct does not resolve " +
                s"against the source: $conjunct (${e.getMessage})", e)
          }
          srcPredB += bare
          onRest = onRest.subSequence(cut, onRest.length())
        }
        while (onRest.length() > 0) {
          if (!onFirst) OnAndPrefixRe.findPrefixMatchOf(onRest) match {
            case Some(mm) =>
              onRest = onRest.subSequence(mm.end, onRest.length())
            case None => throw new IllegalArgumentException(
              s"MERGE ON must be an AND-conjunction, got: $onRest")
          }
          OnPairPrefixRe.findPrefixMatchOf(onRest) match {
            case Some(mm) if !(mm.group(1).equalsIgnoreCase(src) &&
                mm.group(3).equalsIgnoreCase(src)) =>
              val (a1, k1, a2, k2) =
                (mm.group(1), mm.group(2), mm.group(3), mm.group(4))
              val (tAlias, tKey, sAlias, sKey) =
                if (a1.equalsIgnoreCase(tgtAlias)) (a1, k1, a2, k2)
                else (a2, k2, a1, k1)
              require(tAlias.equalsIgnoreCase(tgtAlias) &&
                sAlias.equalsIgnoreCase(src),
                s"MERGE ON must join $tgtAlias to $src, got $a1.$k1 = $a2.$k2")
              require(tKey.equalsIgnoreCase(sKey),
                s"MERGE key must match on both sides, got $tKey vs $sKey")
              pairB += tKey
              onRest = onRest.subSequence(mm.end, onRest.length())
            case Some(_) =>
              // both sides source-qualified (`s.a = s.b`): a source
              // self-comparison, not a key pair
              takeArbitrarySrcConjunct()
            case None => OnCmpPrefixRe.findPrefixMatchOf(onRest) match {
              case Some(mm) =>
                val (alias, colName, op, litS) =
                  (mm.group(1), mm.group(2), mm.group(3), mm.group(4))
                val isSrc = alias.equalsIgnoreCase(src)
                // a comparison that can't be a prunable range (boolean
                // literal, column-ref RHS, unknown source column)
                // falls back to the arbitrary source-only grammar when
                // the SOURCE owns it; target-side stays ranges-only
                val rangeable =
                  !litS.matches("""(?s)[A-Za-z_]\w*\.\w+""") &&
                    scala.util.Try(sqlLiteral(litS)).isSuccess &&
                    (!isSrc ||
                      srcDf0.columns.exists(_.equalsIgnoreCase(colName)))
                if (isSrc && !rangeable) takeArbitrarySrcConjunct()
                else {
                  require(alias.equalsIgnoreCase(tgtAlias) || isSrc,
                    s"MERGE ON residual condition references unknown " +
                      s"alias '$alias' (target is $tgtAlias, source is " +
                      s"$src): ${mm.matched.trim}")
                  require(!litS.matches("""(?s)[A-Za-z_]\w*\.\w+"""),
                    "MERGE ON residual conditions compare a column " +
                      "to a LITERAL — a column reference " +
                      s"('$litS') is not a prunable range: ${mm.matched.trim}")
                  val vLit = sqlLiteral(litS)
                  def range(cn: String) = op match {
                    case "=" => ColumnRange.eq(cn, vLit)
                    case "<" => ColumnRange(cn, None, Some(vLit),
                      hiStrict = true)
                    case "<=" => ColumnRange(cn, None, Some(vLit))
                    case ">" => ColumnRange(cn, Some(vLit), None,
                      loStrict = true)
                    case ">=" => ColumnRange(cn, Some(vLit), None)
                  }
                  if (isSrc) {
                    val actual = srcDf0.columns
                      .find(_.equalsIgnoreCase(colName)).get
                    srcResB += range(actual)
                  } else resB += range(colName)
                  onRest = onRest.subSequence(mm.end, onRest.length())
                }
              case None => takeArbitrarySrcConjunct()
            }
          }
          onFirst = false
        }
        val tKeys: Seq[String] = pairB.result()
        val residualRanges: Seq[ColumnRange] = resB.result()
        val srcRanges: Seq[ColumnRange] = srcResB.result()
        val srcPreds: Seq[String] = srcPredB.result()
        // every source-side ON restriction, range or arbitrary — the
        // paths below treat them uniformly (only ranges also prune)
        val anySrcCond = srcRanges.nonEmpty || srcPreds.nonEmpty
        require(tKeys.nonEmpty,
          s"MERGE ON needs at least one equi-key pair, got: $onExpr")
        require(tKeys.distinct == tKeys,
          s"duplicate MERGE key column in ON: $tKeys")
        // ORDERED clause grammar (the full Delta MERGE clause surface):
        // any number of `WHEN MATCHED [AND cond] THEN UPDATE SET
        // <*|assignments> | DELETE` and `WHEN NOT MATCHED [AND cond]
        // THEN INSERT <*|(cols) VALUES (exprs)>` clauses, applied
        // FIRST-MATCH-WINS per row in statement order. The split runs
        // over the literal-MASKED clause text ([[maskLiterals]] —
        // offsets align with the original), so a WHEN/THEN inside a
        // string literal is data; the BY SOURCE clauses are blanked
        // first so their bodies never bleed into the lazy captures.
        val MatchedClauseRe =
          ("""(?is)WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+""" +
            """(UPDATE\s+SET\s+(\*|.+?)|DELETE)\s*(?=WHEN\b|$)""").r
        // `BY TARGET` is Delta's optional synonym on the insert family
        // (the BY SOURCE clauses were stripped before this regex runs)
        val InsClauseRe =
          ("""(?is)WHEN\s+NOT\s+MATCHED(?:\s+BY\s+TARGET)?""" +
            """(?:\s+AND\s+(.+?))?\s+THEN\s+""" +
            """INSERT\s*(\*|\(([^)]*)\)\s*VALUES\s*\((.+?)\))\s*(?=WHEN\b|$)""").r
        val cMask = maskLiterals(clauses)
        def grp(text: String, m: scala.util.matching.Regex.Match,
            k: Int): Option[String] =
          if (m.start(k) < 0) None
          else Some(text.substring(m.start(k), m.end(k)))
        val bySrcMatches = MergeBySourceRe.findAllMatchIn(cMask).toList
        // (cond, body: "DELETE" | "UPDATE SET ...") — ordered, like
        // the other families
        val bySrcClauses: List[(Option[String], String)] =
          bySrcMatches.map(m => (grp(clauses, m, 1).map(_.trim),
            grp(clauses, m, 2).get.trim))
        val bySrcSpans = bySrcMatches.map(m => (m.start, m.end))
        val rest0 = blankSpans(clauses, bySrcSpans)
        val rest0Mask = blankSpans(cMask, bySrcSpans)
        val mMatches = MatchedClauseRe.findAllMatchIn(rest0Mask).toList
        // (cond, Some(setBody)) = UPDATE; (cond, None) = DELETE
        val matchedClauses: List[(Option[String], Option[String])] =
          mMatches.map { m =>
            val body = grp(rest0, m, 2).get.trim
            (grp(rest0, m, 1).map(_.trim),
              if (body.equalsIgnoreCase("DELETE")) None
              else Some(grp(rest0, m, 3).get.trim))
          }
        val iMatches = InsClauseRe.findAllMatchIn(rest0Mask).toList
        // (cond, Some((cols, vals))) = explicit; (cond, None) = INSERT *
        val insClauses: List[(Option[String], Option[(String, String)])] =
          iMatches.map { m =>
            (grp(rest0, m, 1).map(_.trim),
              if (grp(rest0Mask, m, 2).get.trim == "*") None
              else Some((grp(rest0, m, 3).get, grp(rest0, m, 4).get)))
          }
        // every clause must be consumed by a recognized grammar — an
        // unparsed WHEN is a refusal, never a silently ignored clause
        val leftover = blankSpans(rest0,
          (mMatches ++ iMatches).map(m => (m.start, m.end))).trim
        require(leftover.isEmpty,
          s"unrecognized MERGE clause(s): $leftover")
        // first-match-wins makes an unconditional clause a wall: every
        // clause after it is dead. Delta's rule, enforced loudly —
        // only the LAST clause of a family may omit its condition.
        def requireOrdered(conds: List[Option[String]],
            family: String): Unit =
          conds.dropRight(1).zipWithIndex.foreach { case (cond, i) =>
            require(cond.isDefined,
              s"$family clause ${i + 1} of ${conds.size} has no " +
                "condition — an unconditional clause must be LAST in " +
                "its family (first-match-wins would never reach the " +
                "clauses after it)")
          }
        requireOrdered(matchedClauses.map(_._1), "WHEN MATCHED")
        requireOrdered(insClauses.map(_._1), "WHEN NOT MATCHED")
        requireOrdered(bySrcClauses.map(_._1), "WHEN NOT MATCHED BY SOURCE")
        val hasMatchedDelete = matchedClauses.exists(_._2.isEmpty)
        // the unconditional single SET * / INSERT * pair — the upsert
        // and schema-evolution fast-path shape
        val unconditionalStar =
          matchedClauses.size == 1 && matchedClauses.head._1.isEmpty &&
            matchedClauses.head._2.contains("*") &&
            insClauses.size == 1 && insClauses.head._1.isEmpty &&
            insClauses.head._2.isEmpty
        // the CDC shape: a leading source-op DELETE clause over the
        // unconditional SET * / INSERT * pair routes straight to
        // applyChanges (one pass, no semi-join build)
        val CdcCondRe = """(?is)^\s*(\w+)\.(\w+)\s*=\s*'D'\s*$""".r
        val cdcOp: Option[String] = matchedClauses match {
          case List((Some(CdcCondRe(a, opc)), None), (c2, Some("*")))
            if a.equalsIgnoreCase(src) && c2.isEmpty &&
              insClauses.size == 1 && insClauses.head._1.isEmpty &&
              insClauses.head._2.isEmpty => Some(opc)
          case _ => None
        }
        if (residualRanges.nonEmpty || anySrcCond) {
          // the residual path routes matched rows through mergeMatched
          // (replace-by-key restricted to residual-passing rows,
          // inserts appended blind); the DELETE / by-source /
          // evolution forms and the MOR eq-delete strategy all mask or
          // replace by KEY alone and would wrongly touch same-key rows
          // the residual spares (or rows the merge proved unmatched) —
          // refuse loudly rather than approximate
          require(!hasMatchedDelete && bySrcClauses.isEmpty && !evolve,
            "MERGE ON residual conditions compose with WHEN MATCHED " +
              "UPDATE / WHEN NOT MATCHED INSERT clauses only (no " +
              "DELETE clause, no BY SOURCE, no SCHEMA EVOLUTION)")
          require(!snapshotOf(spark, name).morMerge,
            "MERGE ON residual conditions require a copy-on-write " +
              "registration — a MOR eq-delete masks by key and cannot " +
              "spare a same-key row that fails the residual")
        }
        require(matchedClauses.nonEmpty || insClauses.nonEmpty ||
          bySrcClauses.nonEmpty,
          s"MERGE needs at least one WHEN clause, got: $clauses")
        val snap = graft.sources.snapshot.SnapshotLog
        // WITH SCHEMA EVOLUTION: source-only columns ADD to the table
        // first (additive, metadata-only — existing rows serve NULL),
        // then the merge executes against the evolved schema.
        // Supported for the unconditional SET * / INSERT * form, where
        // "the source's columns land" is the whole contract; explicit
        // bodies already name their columns, so evolution there would
        // only ever add columns the statement never fills.
        if (evolve) {
          require(bySrcClauses.isEmpty && unconditionalStar,
            "WITH SCHEMA EVOLUTION supports the unconditional " +
              s"UPDATE SET * / INSERT * MERGE form, got: $clauses")
          val ddl0 = snap.manifest(spark, t,
            snap.latestVersion(spark, t).get).schemaDdl
          val have = org.apache.spark.sql.types.StructType.fromDDL(ddl0)
            .fieldNames.map(_.toLowerCase).toSet
          val extra = srcDf0.schema.fields
            .filterNot(f => have(f.name.toLowerCase))
          if (extra.nonEmpty)
            snap.evolveSchema(spark, t,
              ddl0 + extra.map(f => s",${f.name} ${f.dataType.sql}").mkString)
        }
        // pin the source ONCE per statement (all parsing/validation is
        // done — nothing below may re-evaluate the caller's plan), and
        // release every pin when the statement returns. The pin
        // COLUMN-PRUNES first: a checkpoint materializes every column
        // it is given, and a MERGE referencing three source columns
        // must not pay to materialize fifty — the kept set is every
        // source column NAMED anywhere in the ON/clause text (scanned
        // literal-masked; over-approximate — a stray name keeps an
        // unused column, never drops a used one, and column references
        // in this dialect are always by name) plus the merge keys.
        // Star bodies (SET * / INSERT * / CDC / evolution) keep the
        // full frame: their contract IS "every column lands".
        val starNeedsAll = evolve || cdcOp.isDefined ||
          matchedClauses.exists(_._2.contains("*")) ||
          insClauses.exists(_._2.isEmpty)
        val srcForPin =
          if (starNeedsAll) srcDf0
          else {
            val text = maskLiterals(onExpr + "\n" + clauses)
            def referenced(cn: String) =
              ("""(?i)(?<![\w`])""" + java.util.regex.Pattern.quote(cn) +
                """(?![\w`])""").r.findFirstIn(text).isDefined
            val keep = srcDf0.columns.filter(cn =>
              tKeys.exists(_.equalsIgnoreCase(cn)) || referenced(cn))
            if (keep.length == srcDf0.columns.length) srcDf0
            else srcDf0.select(keep.map(cn =>
              org.apache.spark.sql.functions.col(cn)).toIndexedSeq: _*)
              .as(src)
          }
        // the unconditional-update copy-on-write shape compiles to one
        // probe and one write ([[mergeOneRewrite]]), and reads its
        // source once per pass: a driver-local or already-pinned
        // deterministic source yields the same rows on both, so only
        // any other source pays the pin
        val oneRewrite = cdcOp.isEmpty && bySrcClauses.isEmpty &&
          residualRanges.isEmpty && !anySrcCond &&
          (matchedClauses match {
            case List((None, Some(_))) => true
            case _ => false
          }) && !snapshotOf(spark, name).morMerge
        val pins = scala.collection.mutable.ArrayBuffer[DataFrame]()
        val srcDf =
          if (oneRewrite && snap.stableSource(srcForPin)) srcForPin
          else {
            val p = snap.pin(srcForPin)
            pins += p
            p
          }
        try {
        // the conditional-family ambiguity guard defers to the first
        // action over the staged row set (inside the mutation
        // primitives below) — convert it back to the refusal surface
        val ver = refusingAs(AmbiguousMergeMsg) { cdcOp match {
          case Some(opc) if bySrcClauses.isEmpty && residualRanges.isEmpty &&
              !anySrcCond =>
            snap.applyChanges(srcDf, t, tKeys, opc, stats, -1L).version
          case _ if oneRewrite =>
            val schema = tableSchema(spark, t)
            requireStarSource(schema, srcDf.columns.toSeq, matchedClauses,
              insClauses, unconditionalStar)
            mergeOneRewrite(t, stats, tKeys, tgtAlias, src, srcDf, schema,
              matchedClauses.head._2.get, insClauses)
          case _ =>
            val schema = tableSchema(spark, t)
            requireStarSource(schema, srcDf.columns.toSeq, matchedClauses,
              insClauses, unconditionalStar)
            // Explicit bodies, per-clause conditions, and ORDERED
            // multi-clause families: resolve every matched pair to the
            // FIRST clause whose condition holds (a when-chain in
            // statement order), project each row's OUTPUT values in
            // the same pass, and pin the result — one stats/Bloom-
            // pruned semi-join read feeds every downstream op (at
            // 100 TB the join cost is the matched files, not the
            // table). Rows resolving to no clause ride; under
            // duplicate-key targets a riding row whose key a resolved
            // sibling rewrites is CARRIED through unchanged, and a key
            // deletes only when every one of its rows resolved to
            // DELETE — the per-row Delta semantics expressed through
            // keyed replace machinery.
            import org.apache.spark.sql.functions.{col => c, lit => l}
            // source-side restriction: rows failing it can match
            // nothing (they are still NOT MATCHED and insert);
            // null-safe so a NULL value is non-matchable, like in a
            // join. Ranges and arbitrary predicates compose by AND.
            val srcResidualHolds: Column = {
              val conj =
                (if (srcRanges.isEmpty) Nil
                 else Seq(snap.rangeExpr(srcRanges))) ++
                  srcPreds.map(org.apache.spark.sql.functions.expr)
              if (conj.isEmpty) l(true)
              else conj.map(_ <=> true).reduce(_ && _)
            }
            val srcMatchable =
              if (!anySrcCond) srcDf else srcDf.where(srcResidualHolds)
            // residual ON conjuncts prune the probe's candidate FILES
            // (stats classification, like DML) and then restrict the
            // matched rows at row level with the same predicate
            val (matchedTgt0, _, _, _) =
              snap.readSemiJoin(spark, t, tKeys, srcMatchable, tKeys, None,
                10000, residualRanges)
            val matchedTgt =
              if (residualRanges.isEmpty) matchedTgt0
              else matchedTgt0.where(snap.rangeExpr(residualRanges))
            def onCond = tKeys.map(k =>
              c(s"$tgtAlias.$k") === c(s"$src.$k")).reduce(_ && _)
            val clauseCol = "__graft_clause"
            val srcIdCol = "__graft_src_id"
            val tgtIdCol = "__graft_tgt_id"
            val updAssigns: Map[Int, Map[String, Column]] =
              matchedClauses.zipWithIndex.collect {
                case ((_, Some(b)), i) if b != "*" =>
                  val a = parseAssignments(b, Set(tgtAlias))
                  requireAssignable(a, schema, tKeys); i -> a
              }.toMap
            val updIdx = matchedClauses.zipWithIndex
              .collect { case ((_, Some(_)), i) => i }
            val delIdx = matchedClauses.zipWithIndex
              .collect { case ((_, None), i) => i }
            // every matched (target row, source row) pair with its
            // resolved clause and the row's OUTPUT values (update
            // clauses project their assignments, everything else the
            // original target row) — pinned: one semi-join read feeds
            // the ops, the ambiguity refusal, and the insert anti-join.
            // Both sides carry a ROW ID (assigned once — the pin
            // freezes them): the source id drives the ambiguity
            // refusal, the target id collapses a target row's several
            // pairs to its single per-row outcome.
            //
            // Delta's "multiple source rows matched" refusal — at a
            // DELIBERATELY finer grain than Delta's own check: Delta
            // fires on multiple matches whenever a modify clause
            // exists, regardless of clause conditions; here two
            // distinct source rows refuse only when both RESOLVE a
            // clause against the same target row (a pair no clause
            // claims modifies nothing, and distinct sources may each
            // claim a DIFFERENT row of a duplicate-key target). The
            // relaxation is deterministic and strictly more
            // permissive — statements Delta refuses can succeed here;
            // parity tests must not assume Delta's coarser refusal.
            // WHERE the refusal runs is branch-shaped (the DML family
            // is action-latency-bound, so probe actions matter):
            // conditional matched families FOLD the refusal into the
            // per-target-row collapse window they already pay (the
            // same Window.partitionBy(tgtId) exchange computes two
            // more aggregates and a raise_error guard — no extra
            // action, no extra shuffle); the unconditional families
            // left here (a lone DELETE, or an update under residual ON,
            // BY SOURCE or MOR — the plain copy-on-write update takes
            // [[mergeOneRewrite]]) keep the separate one-aggregation
            // probe, because folding
            // would add a window pass to a branch whose plan contract
            // is "no Window" (a window shuffles full pair rows where
            // the probe shuffles two id columns). Either way the
            // refusal fires BEFORE anything mutates: the guard rides
            // the staged row set, whose first evaluation is the
            // mutation primitive's candidacy probe — always ahead of
            // its write.
            val anyMatchedCond = matchedClauses.exists(_._1.isDefined)
            val resolvedOpt: Option[DataFrame] =
              if (matchedClauses.isEmpty) None
              else {
                val clauseExpr = clauseIdx(matchedClauses.map(_._1))
                def outField(f: org.apache.spark.sql.types.StructField)
                    : Column = {
                  val orig = c(s"$tgtAlias.${f.name}")
                  if (updIdx.isEmpty) orig
                  else whenChain(clauseExpr, updIdx,
                    i => matchedClauses(i)._2.get match {
                      case "*" => c(s"$src.${f.name}")
                      case _ => updAssigns(i).get(f.name)
                        .map(_.cast(f.dataType)).getOrElse(orig)
                    }).otherwise(orig)
                }
                val r = snap.pin(matchedTgt.withColumn(tgtIdCol,
                    org.apache.spark.sql.functions
                      .monotonically_increasing_id()).as(tgtAlias)
                  .join(srcMatchable.withColumn(srcIdCol,
                    org.apache.spark.sql.functions
                      .monotonically_increasing_id()).as(src), onCond)
                  .select((schema.fields.map(f => outField(f).as(f.name))
                    .toSeq :+ clauseExpr.as(clauseCol) :+
                    c(s"$src.$srcIdCol").as(srcIdCol) :+
                    c(s"$tgtAlias.$tgtIdCol").as(tgtIdCol)): _*))
                pins += r
                Some(r)
              }
            // unconditional families: the separate probe (one
            // aggregation over the pinned pairs — see the branch note
            // above; its pass guarantees every target row has at most
            // ONE resolved pair, the invariant the paths below rely on)
            resolvedOpt.filter(_ => !anyMatchedCond).foreach { r =>
              val amb = r.where(c(clauseCol).isNotNull)
                .groupBy(c(tgtIdCol))
                .agg(org.apache.spark.sql.functions
                  .countDistinct(c(srcIdCol)).as("__ns"))
                .where(c("__ns") > 1)
              require(amb.isEmpty, AmbiguousMergeMsg)
            }
            val matchedKeys = resolvedOpt match {
              case Some(r) => r.select(tKeys.map(c): _*).distinct()
              case None => matchedTgt.select(tKeys.map(c): _*).distinct()
            }
            // per-key clause resolution under duplicate-key rows: U
            // rows = update-resolved rows PLUS riding rows whose key a
            // resolved sibling rewrites (carried through unchanged —
            // replace-by-key would otherwise drop them); D rows = one
            // per key whose EVERY row resolved to DELETE (any survivor
            // turns the key's outcome into "replace with the survivor
            // set"). One window over the pinned rows, bounded by the
            // matched set.
            def splitRowOps(resolved: DataFrame, updIdxs: Seq[Int],
                delIdxs: Seq[Int])
                : (Option[DataFrame], Option[DataFrame]) = {
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(tKeys.map(c): _*)
              val isUpd = if (updIdxs.isEmpty) l(false)
                else c(clauseCol).isin(updIdxs.map(Integer.valueOf): _*)
              val isDel = if (delIdxs.isEmpty) l(false)
                else c(clauseCol).isin(delIdxs.map(Integer.valueOf): _*)
              val isRider = c(clauseCol).isNull
              val ann = resolved
                .withColumn("__graft_k_resolved",
                  org.apache.spark.sql.functions.max(
                    org.apache.spark.sql.functions
                      .when(c(clauseCol).isNotNull, 1).otherwise(0))
                    .over(w))
                .withColumn("__graft_k_survivor",
                  org.apache.spark.sql.functions.max(
                    org.apache.spark.sql.functions
                      .when(isUpd || isRider, 1).otherwise(0)).over(w))
              val u = Some(
                ann.where(isUpd ||
                    (isRider && c("__graft_k_resolved") === 1))
                  .select(schema.fieldNames.map(c).toIndexedSeq: _*))
              val d = if (delIdxs.isEmpty) None else Some(
                ann.where(isDel && c("__graft_k_survivor") === 0)
                  .select(schema.fieldNames.map(c).toIndexedSeq: _*)
                  .dropDuplicates(tKeys))
              (u, d)
            }
            val (matchedU: Option[DataFrame], matchedD: Option[DataFrame]) =
              resolvedOpt match {
                case None => (None, None)
                case Some(r) if !anyMatchedCond =>
                  // a single unconditional clause: every pair resolves
                  // and the ambiguity probe has already refused
                  // duplicate-source keys, so pairs ARE per-target-row
                  // outcomes — the window passes are skipped
                  val rows =
                    r.select(schema.fieldNames.map(c).toIndexedSeq: _*)
                  if (delIdx.isEmpty) (Some(rows), None)
                  else (None, Some(rows.dropDuplicates(tKeys)))
                case Some(r) =>
                  // collapse a target row's pairs to its single
                  // outcome: the resolved pair if any (after the
                  // ambiguity refusal there is at most one), else ONE
                  // rider representative (every pair of a riding row
                  // projects the same original values) — without this,
                  // a target row matched by one resolving and one
                  // non-resolving source row would land twice.
                  // The ambiguity refusal rides THIS window (same
                  // partitionBy — Catalyst folds all three aggregates
                  // into one Window operator): two distinct resolved
                  // source ids over a target row make min < max and
                  // clauseCol evaluates to raise_error, which the
                  // filters below force for every pair row. The guard
                  // fires when the staged row set first materializes —
                  // the mutation primitive's candidacy probe, always
                  // before its write — and execMerge's dispatch wrapper
                  // converts it back to the IllegalArgumentException
                  // surface.
                  val wT = org.apache.spark.sql.expressions.Window
                    .partitionBy(c(tgtIdCol))
                  val resolvedSrc = org.apache.spark.sql.functions
                    .when(c(clauseCol).isNotNull, c(srcIdCol))
                  val annT = r.withColumn("__graft_t_resolved",
                    org.apache.spark.sql.functions.max(
                      org.apache.spark.sql.functions
                        .when(c(clauseCol).isNotNull, 1).otherwise(0))
                      .over(wT))
                    .withColumn(clauseCol,
                      org.apache.spark.sql.functions.when(
                        org.apache.spark.sql.functions.min(resolvedSrc)
                          .over(wT) <
                          org.apache.spark.sql.functions.max(resolvedSrc)
                            .over(wT),
                        org.apache.spark.sql.functions.raise_error(
                          l(AmbiguousMergeMsg))).otherwise(c(clauseCol)))
                  val reps = annT.where(c(clauseCol).isNotNull)
                    .unionByName(annT.where(c(clauseCol).isNull &&
                        c("__graft_t_resolved") === 0)
                      .dropDuplicates(tgtIdCol))
                  splitRowOps(reps, updIdx, delIdx)
              }
            val inserted: Option[DataFrame] =
              if (insClauses.isEmpty) None
              else {
                val insByCol = insertBodies(insClauses, schema, tKeys)
                // a source row is NOT MATCHED iff no target row
                // satisfies the full ON with it: matchable rows
                // anti-join the matched keys; rows failing a
                // source-side residual can match nothing and are
                // not-matched OUTRIGHT (they insert even when their
                // key exists in the target — Delta's outcome)
                val antiMatchable =
                  srcMatchable.join(matchedKeys, tKeys, "left_anti")
                val antiAll =
                  if (!anySrcCond) antiMatchable
                  else antiMatchable.unionByName(
                    srcDf.where(!srcResidualHolds))
                val anti = antiAll.as(src)
                  .withColumn(clauseCol, clauseIdx(insClauses.map(_._1)))
                Some(anti.where(c(clauseCol).isNotNull)
                  .select(schema.fields.map(f =>
                    insertValue(f, c(clauseCol), insClauses.size, insByCol)
                      .as(f.name))
                    .toIndexedSeq: _*))
              }
            // WHEN NOT MATCHED BY SOURCE: target rows with no
            // (matchable) source key resolve FIRST-MATCH-WINS across
            // the ordered by-source clauses, with the same per-row
            // discipline as the matched family — riders sharing a key
            // with a resolved sibling carry, a key deletes only when
            // all its rows resolved to DELETE. The form inherently
            // reads the target once — no file stats can prove the
            // ABSENCE of a key — so the frame pins: the NULL-key
            // refusal probe, the U rows, and the D rows all read ONE
            // materialization of the anti-join, never three
            // evaluations of it.
            val (bUpd: Option[DataFrame], bDel: Option[DataFrame]) =
              if (bySrcClauses.isEmpty) (None, None)
              else {
                val bAssigns: Map[Int, Map[String, Column]] =
                  bySrcClauses.zipWithIndex.collect {
                    case ((_, b), i) if !b.equalsIgnoreCase("DELETE") =>
                      val a = parseAssignments(
                        b.replaceFirst("(?is)^UPDATE\\s+SET\\s+", ""),
                        Set(tgtAlias))
                      requireAssignable(a, schema, tKeys)
                      i -> a
                  }.toMap
                val bDelIdx = bySrcClauses.zipWithIndex
                  .collect { case ((_, b), i)
                    if b.equalsIgnoreCase("DELETE") => i }
                val bUpdIdx = bySrcClauses.indices
                  .filterNot(bDelIdx.contains)
                val bClauseExpr = clauseIdx(bySrcClauses.map(_._1))
                def bOutField(f: org.apache.spark.sql.types.StructField)
                    : Column = {
                  val orig = c(s"$tgtAlias.${f.name}")
                  if (bUpdIdx.isEmpty) orig
                  else whenChain(bClauseExpr, bUpdIdx,
                    i => bAssigns(i).get(f.name)
                      .map(_.cast(f.dataType)).getOrElse(orig))
                    .otherwise(orig)
                }
                // a NULL merge key never equals any source key, so such
                // target rows are always "not matched by source" — but
                // the keyed change machinery cannot address them (its
                // delete anti-join and key-uniqueness probe both skip
                // NULLs and would misfire with a misleading duplicate-
                // keys error). Refuse with the actual cause; rows every
                // by-source CONDITION excludes ride through fine. The
                // refusal guard is FOLDED INTO THE PIN's materialization
                // (row-local — no window needed) instead of running as
                // its own driver-side probe action afterwards: one
                // fixed action per by-source statement saved, same
                // exception surface via pinRefusing.
                val nullKey = tKeys.map(c(_).isNull).reduce(_ || _)
                val nullKeyMsg =
                  s"WHEN NOT MATCHED BY SOURCE cannot act on target " +
                    s"rows whose merge key ($tKeys) is NULL — NULL " +
                    "never matches a source key and the keyed change " +
                    "machinery cannot address those rows; DELETE/" +
                    "UPDATE them via a `<key> IS NULL` predicate first " +
                    "or exclude them with AND <key> IS NOT NULL on the " +
                    "clause"
                val unmatched = pinRefusing(
                  snap.read(spark, t).as(tgtAlias)
                    .join(srcMatchable.select(tKeys.map(c): _*).distinct(),
                      tKeys, "left_anti")
                    .select((schema.fields.map(f => bOutField(f).as(f.name))
                      .toSeq :+ bClauseExpr.as(clauseCol)): _*)
                    .withColumn(clauseCol,
                      org.apache.spark.sql.functions.when(
                        c(clauseCol).isNotNull && nullKey,
                        org.apache.spark.sql.functions.raise_error(
                          l(nullKeyMsg))).otherwise(c(clauseCol))),
                  nullKeyMsg)
                pins += unmatched
                val anyBCond = bySrcClauses.exists(_._1.isDefined)
                if (!anyBCond) {
                  val rows = unmatched
                    .select(schema.fieldNames.map(c).toIndexedSeq: _*)
                  if (bDelIdx.isEmpty) (Some(rows), None)
                  else (None, Some(rows.dropDuplicates(tKeys)))
                } else splitRowOps(unmatched, bUpdIdx, bDelIdx)
              }
            val opCol = "__graft_merge_op"
            // conditioned clause families resolve through window passes
            // over the pinned pairs (splitRowOps / the per-target-row
            // collapse) — and the mutation primitives below evaluate
            // their row-set input TWICE (candidacy probe, then the
            // rewrite write). Stage the row set once so the window plan
            // runs a single time and both passes read storage blocks;
            // unconditioned merges project straight off the already-
            // pinned pairs, where staging would cost more than the
            // cheap block re-read it saves. Stage = LAZY localCheckpoint,
            // not an eager pin: the mutation primitive's candidacy
            // probe is the first action over the row set and
            // materializes the checkpoint blocks as a side effect, so
            // the evaluate-once goal costs NO extra Spark job (the
            // eager checkpoint here was one of the fixed per-statement
            // actions the DML family is bound by), while the rewrite
            // write still reads raw checkpoint blocks (a columnar
            // persist variant was tried and measured slower on the
            // re-read passes). The usual checkpoint trade is
            // acceptable here exactly as in pin(): this frame feeds a
            // mutation, so fail-rather-than-recompute is the right
            // behavior on block loss.
            val windowed = anyMatchedCond ||
              bySrcClauses.exists(_._1.isDefined)
            def pinRowSet(df: DataFrame): DataFrame =
              if (!windowed) df
              else {
                val p = df.localCheckpoint(eager = false)
                pins += p
                p
              }
            if (bySrcClauses.isEmpty &&
                (residualRanges.nonEmpty || anySrcCond))
              // replace-by-key restricted to residual-passing rows
              // (exactly the update keys when the residual is
              // source-side only); inserts never drive a rewrite, so
              // an unmatched source row INSERTS even when its key
              // exists outside the residual's reach — the Delta
              // bounded-merge outcome
              // stagedKeys: the row set bottoms out in pinned frames
              // either way (staged window output or a projection off
              // the pinned pairs), so the key-set distinct is
              // deterministic and stages lazily — the candidacy probe
              // materializes it, saving the eager key-pin action
              snap.mergeMatched(spark, t, tKeys, matchedU.map(pinRowSet),
                inserted, residualRanges, stats, stagedKeys = true).version
            else if (bySrcClauses.isEmpty && matchedD.isEmpty) {
              val updates = pinRowSet((matchedU.toSeq ++ inserted)
                .reduce(_ unionByName _))
              // upsertRows / upsertMORRows, not upsert: per-row clause
              // resolution legitimately yields several replacement
              // rows per key (duplicate-key targets); source-side
              // ambiguity was already refused above
              if (snapshotOf(spark, name).morMerge)
                snap.upsertMORRows(updates, t, tKeys, stats)
              else snap.upsertRows(updates, t, tKeys, stats).version
            } else {
              // a DELETE-resolved clause or a by-source family means
              // the merge is a changelog: one commit through the CDC
              // machinery (CoW cost class — row-deleting/row-locating
              // work). U and D keys are disjoint by construction: a
              // key only deletes when it has NO survivor.
              val ups = (matchedU.toSeq ++ inserted ++ bUpd.toSeq)
                .map(_.withColumn(opCol, l("U")))
              val dels = (matchedD.toSeq ++ bDel.toSeq)
                .map(_.withColumn(opCol, l("D")))
              val changes = pinRowSet((ups ++ dels).reduce(_ unionByName _))
              snap.applyChangesRows(changes, t, tKeys, opCol, stats, -1L)
                .version
            }
        } }
        ver
        } finally pins.foreach(snap.unpin)
  }

  def dml(spark: SparkSession, statement: String): Long = {
    // every match arm binds the TARGET VIEW NAME from its own capture
    // group (normalized — backticks stripped) — the repoint below
    // reuses it, never a re-parse. The bare-view MERGE is matched
    // against its literal-MASKED text so an ON literal containing
    // " WHEN " never mis-splits; group offsets index the original.
    val (v, name) = parseMergeSubquery(statement) match {
      case Some((evolve, tgt, tgtAlias, alias, body, onExpr, clauses)) =>
        // the subquery evaluates lazily inside the merge — Catalyst
        // plans it like any other source frame (windows, joins, CTEs
        // all compose); its alias scopes the ON pairs and clause bodies
        (execMerge(spark, evolve, tgt, tgtAlias, alias,
          spark.sql(body).as(alias), onExpr, clauses), tgt)
      case None => MergeRe.findFirstMatchIn(maskLiterals(statement)) match {
      case Some(m) =>
        def g(k: Int): Option[String] =
          if (m.start(k) < 0) None
          else Some(statement.substring(m.start(k), m.end(k)))
        val tgt = normName(g(2).get)
        val tgtAlias = g(3).getOrElse(tgt)
        val srcName = normName(g(4).get)
        val srcAlias = g(5).getOrElse(srcName)
        // resolve the source from the ORIGINAL (still-quoted) text:
        // spark.table parses backticks itself, so `a.b` stays one
        // dotted name and `my-view` parses at all — stripping the
        // quotes first would misresolve both. normName is for
        // registry lookups and default aliases only.
        (execMerge(spark, g(1).isDefined, tgt, tgtAlias, srcAlias,
          spark.table(g(4).get.trim).as(srcAlias), g(6).get, g(7).get), tgt)
      case None => statement match {
      case DeleteRe(name0, where) =>
        val name = normName(name0)
        val (t, stats) = mutableSnapshotOf(spark, name)
        val snap = graft.sources.snapshot.SnapshotLog
        // three cost classes, all exact: a conjunction grammar →
        // stats-classified CoW delete (files the predicate provably
        // misses are never read); `col IN (SELECT ...)` — the
        // GDPR-erasure shape — evaluates the subquery ONCE and records
        // the key set as a merge-on-read equality delete (zero files
        // touched at ANY table size; the scan-time anti-join and
        // OPTIMIZE do the physical work); anything else — OR, LIKE,
        // arbitrary expressions — falls back to the merge-on-read
        // positional delete: ONE scan marks matching positions, zero
        // files rewrite.
        val ver = where match {
          case DeleteInSubqueryRe(colName, sub) =>
            val keys = spark.sql(sub)
            require(keys.columns.length == 1,
              s"IN-subquery must select exactly one column, got " +
                s"${keys.columns.toSeq}")
            snap.deleteKeysMOR(keys.toDF(colName), t, colName)
          case DeleteInTupleRe(colsS, sub) =>
            // composite-key erasure: one eq-delete sidecar carries the
            // whole tuple set — zero data files touched at any size
            val cols = colsS.split(",").map(_.trim).toSeq
            val keys = spark.sql(sub)
            require(keys.columns.length == cols.length,
              s"tuple IN-subquery must select ${cols.length} columns " +
                s"(${cols.mkString(", ")}), got ${keys.columns.toSeq}")
            snap.deleteKeysMOR(keys.toDF(cols: _*), t, cols)
          case _ => (try Some(parseWhere(where))
            catch { case _: IllegalArgumentException => None }) match {
            case Some(crs) => snap.deleteWhere(spark, t, crs, stats)
              .map(_.version)
            case None => snap.deleteMatchingDV(spark, t,
              org.apache.spark.sql.functions.expr(where)).map(_.version)
          }
        }
        (ver.getOrElse(snap.latestVersion(spark, t).get), name)
      case InsertRe(name0, colsS, body) =>
        val name = normName(name0)
        val (t, stats) = mutableSnapshotOf(spark, name)
        val snap = graft.sources.snapshot.SnapshotLog
        // VALUES rows plan through Spark's inline-table relation; a
        // column list (or, for bare VALUES, the full schema) binds the
        // result's columns POSITIONALLY — the commit's alignToSchema
        // then type-checks and NULL-fills omitted nullable columns
        val isValues = body.trim.toUpperCase.startsWith("VALUES")
        val df0 =
          if (isValues) spark.sql(s"SELECT * FROM ($body)")
          else spark.sql(body)
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          snap.manifest(spark, t,
            snap.latestVersion(spark, t).get).schemaDdl)
        // positionally-bound columns CAST to the table's types (the
        // standard INSERT coercion — a VALUES integer literal must
        // land in a BIGINT column); by-name SELECT keeps the strict
        // type check the append contract has always had
        def bindPositional(cols: Seq[String]): DataFrame = {
          cols.foreach(c => require(schema.fieldNames.contains(c),
            s"INSERT column '$c' not in table schema " +
              s"${schema.fieldNames.toSeq}"))
          df0.toDF(cols.toIndexedSeq: _*).select(cols.map(c =>
            org.apache.spark.sql.functions.col(c)
              .cast(schema(c).dataType).as(c)).toIndexedSeq: _*)
        }
        val df = Option(colsS) match {
          case Some(cs) =>
            val cols = cs.split(",").map(_.trim).toSeq
            require(df0.columns.length == cols.length,
              s"INSERT column list (${cols.length}) and " +
                s"${if (isValues) "VALUES arity" else "SELECT columns"} " +
                s"(${df0.columns.length}) must align")
            bindPositional(cols)
          case None if isValues =>
            require(df0.columns.length == schema.fields.length,
              s"INSERT VALUES arity (${df0.columns.length}) != table " +
                s"columns (${schema.fields.length}) — list the columns " +
                "explicitly to insert a subset")
            bindPositional(schema.fieldNames.toSeq)
          case None => df0
        }
        // rows the driver already holds (VALUES, a local frame's view)
        // land as one file, not one per local-scan partition
        (snap.commit(if (snap.driverLocal(df)) df.coalesce(1) else df, t,
          "append", stats), name)
      case InsertOverwriteRe(name0, select) =>
        val name = normName(name0)
        // full-table replace in one commit: files, schema, column
        // mapping, and eq-delete state all reset to the SELECT's
        // result (the Delta INSERT OVERWRITE shape). The old files
        // become unreferenced debris for VACUUM — nothing is read.
        val (t, stats) = mutableSnapshotOf(spark, name)
        (graft.sources.snapshot.SnapshotLog
          .commit(spark.sql(select), t, "overwrite", stats), name)
      case TruncateRe(name0) =>
        val name = normName(name0)
        // empty the table, keep the schema: an overwrite commit of
        // ZERO rows — O(1) at any table size (no file is read or
        // rewritten). CHECK constraints live in their own sidecar
        // and survive; history stays append-only, so the truncate is
        // itself undoable via RESTORE.
        val (t, stats) = mutableSnapshotOf(spark, name)
        val snap = graft.sources.snapshot.SnapshotLog
        val ddl = snap.manifest(spark, t,
          snap.latestVersion(spark, t).get).schemaDdl
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
        // the declared layout survives the truncate (the overwrite
        // commit would otherwise reset it with the rest of the state —
        // clustering metadata is a table property, not data)
        (snap.commit(empty, t, "overwrite", stats,
          declareLayout = snap.layoutOf(spark, t)), name)
      case CreateTableRe(orReplace, name0, loc, kind, clusterCols, nf,
          select) =>
        val name = normName(name0)
        // CTAS onto a snapshot location: ONE commit of the SELECT's
        // result, then the name registers as a live (unpinned) view.
        // Plain CREATE refuses an already-committed location; OR
        // REPLACE overwrites it (schema and all — same contract as
        // INSERT OVERWRITE). With CLUSTER BY the schema, the declared
        // layout, and the CONFORMED data all publish in the SAME
        // manifest commit — atomic like plain CTAS: no transient
        // window where an OR REPLACE has truncated the old table
        // before the data lands, no recoverable-only-via-RESTORE
        // state on a crash between commits, and concurrent readers
        // flip from old state to new in one version.
        val snap = graft.sources.snapshot.SnapshotLog
        val exists = snap.latestVersion(spark, loc).isDefined
        require(orReplace != null || !exists,
          s"location '$loc' already holds a committed table " +
            "(use CREATE OR REPLACE TABLE)")
        val result = spark.sql(select)
        val mode = if (exists) "overwrite" else "append"
        val ver =
          if (kind == null) snap.commit(result, loc, mode, Nil)
          else {
            val cols = clusterCols.split(",").map(_.trim).toSeq
            snap.commit(result, loc, mode, cols,
              declareLayout = Some(graft.sources.snapshot.SnapshotLog
                .LayoutSpec(kind.toLowerCase, cols, nf.toInt)))
          }
        registerSnapshot(spark, name, loc, None,
          if (kind == null) Nil
          else clusterCols.split(",").map(_.trim).toSeq)
        (ver, name)
      case DeleteAllRe(name0) =>
        // whole-table DELETE (no WHERE) — Delta's form: every row
        // goes, the schema stays, O(1) at any size (the TRUNCATE body)
        val name = normName(name0)
        val (t, stats) = mutableSnapshotOf(spark, name)
        val snap = graft.sources.snapshot.SnapshotLog
        val ddl = snap.manifest(spark, t,
          snap.latestVersion(spark, t).get).schemaDdl
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
        // a DELETE never touches clustering metadata (Delta parity) —
        // carry the declared layout through the zero-row overwrite
        (snap.commit(empty, t, "overwrite", stats,
          declareLayout = snap.layoutOf(spark, t)), name)
      case UpdateRe(name0, tail) =>
        val name = normName(name0)
        // SET clause ends at the first WHERE outside literals/comments
        // (an assignment literal containing the word "where" is data);
        // NO WHERE at all is Delta's whole-table UPDATE — every row
        // rewrites (updateMatching with an always-true predicate)
        val wi = topLevelIndexOf(tail, "WHERE")
        val setClause = if (wi > 0) tail.substring(0, wi) else tail
        val where =
          if (wi > 0) tail.substring(wi + "WHERE".length) else null
        val (t, stats) = mutableSnapshotOf(spark, name)
        val snap = graft.sources.snapshot.SnapshotLog
        if (where == null) {
          val ver = snap.updateMatching(spark, t,
            org.apache.spark.sql.functions.lit(true),
            parseAssignments(setClause, Set(name)), stats)
            .map(_.version)
          (ver.getOrElse(snap.latestVersion(spark, t).get), name)
        } else {
        // same cost classes as DELETE: conjunctions classify from
        // stats; `col IN (SELECT ...)` evaluates the subquery once and
        // rewrites only the files its key tuples may land in
        // (updateKeys — no driver-side collect at any key count);
        // arbitrary predicates locate the files that actually hold a
        // match (one pruned probe scan) and rewrite exactly those
        val ver = where match {
          case DeleteInSubqueryRe(colName, sub) =>
            val keys = spark.sql(sub)
            require(keys.columns.length == 1,
              s"IN-subquery must select exactly one column, got " +
                s"${keys.columns.toSeq}")
            snap.updateKeys(spark, t, Seq(colName), keys.toDF(colName),
              parseAssignments(setClause, Set(name)), stats)
            .map(_.version)
          case DeleteInTupleRe(colsS, sub) =>
            // composite keys-frame CoW update: only files the tuple
            // set may land in (interval conjunction) rewrite
            val cols = colsS.split(",").map(_.trim).toSeq
            val keys = spark.sql(sub)
            require(keys.columns.length == cols.length,
              s"tuple IN-subquery must select ${cols.length} columns " +
                s"(${cols.mkString(", ")}), got ${keys.columns.toSeq}")
            snap.updateKeys(spark, t, cols, keys.toDF(cols: _*),
              parseAssignments(setClause, Set(name)), stats)
            .map(_.version)
          case _ => (try Some(parseWhere(where))
            catch { case _: IllegalArgumentException => None }) match {
            case Some(crs) => snap.updateWhere(spark, t, crs,
              parseAssignments(setClause, Set(name)), stats)
            .map(_.version)
            case None => snap.updateMatching(spark, t,
              org.apache.spark.sql.functions.expr(where),
              parseAssignments(setClause, Set(name)), stats)
            .map(_.version)
          }
        }
        (ver.getOrElse(snap.latestVersion(spark, t).get), name)
        }
      case OptimizeRe(name0, tail) =>
        val name = normName(name0)
        // OPTIMIZE v → compaction; OPTIMIZE v ZORDER BY (a, b[, c, d])
        // → the same rewrite clustered on a k-way z-order interleave,
        // each column scaled into its bitsFor(k)-bit lane from MANIFEST
        // stats (metadata-only — no window, no extra pass; the Delta
        // OPTIMIZE..ZORDER shape). String dimensions ride ord64 AFTER
        // common-prefix stripping (the table-wide prefix comes from the
        // string min/max, also manifest-only), so URL/domain-shaped
        // columns cluster on the bytes that differ. WHERE <conjunction>
        // (the same AND-of-ranges grammar DML takes) scopes either form
        // to the files no conjunct provably excludes — maintenance over
        // one partition of one source of a 100 TB table, never the
        // world (the Delta OPTIMIZE..WHERE shape)
        val (t, stats) = mutableSnapshotOf(spark, name)
        val snap = graft.sources.snapshot.SnapshotLog
        val target = 256L << 20
        // clause split: [WHERE <conjunction>] [ZORDER BY (cols)] — the
        // ZORDER keyword is found outside literals, so a WHERE string
        // literal containing "zorder" stays data
        val zi = topLevelIndexOf(tail, "ZORDER")
        val (wherePart, zPart) =
          if (zi < 0) (tail.trim, "")
          else (tail.substring(0, zi).trim, tail.substring(zi).trim)
        val scope: Seq[graft.sources.snapshot.SnapshotLog.ColumnRange] =
          wherePart match {
            case "" => Nil
            case OptimizeWhereRe(conj) => parseWhere(conj)
            case other => throw new IllegalArgumentException(
              s"cannot parse OPTIMIZE clause: $other")
          }
        val zcols = zPart match {
          case "" => null
          case OptimizeZorderRe(cs) => cs
          case other => throw new IllegalArgumentException(
            s"cannot parse OPTIMIZE ZORDER clause: $other")
        }
        val ver =
          if (zcols == null) snap.compact(spark, t, target, stats,
            where = scope)
          else {
            val zs = zcols.split(",").map(_.trim).toSeq
            require(zs.size >= 2 && zs.size <= 4,
              s"ZORDER BY interleaves 2 to 4 columns, got ${zs.size}")
            val lane = ((1L << graft.functions.ZOrder.bitsFor(zs.size)) - 1)
              .toDouble
            val ranges = snap.tableStats(spark, t).colRanges
            def scaled(c: String): org.apache.spark.sql.Column = {
              val (mnA, mxA) = ranges.getOrElse(c,
                throw new IllegalArgumentException(
                  s"ZORDER BY column '$c' has no manifest stats — commit " +
                    s"with statsCols including it first"))
              val (mn, mx, dim) = (mnA, mxA) match {
                case (a: Number, b: Number) =>
                  (a.doubleValue(), b.doubleValue(),
                    org.apache.spark.sql.functions.col(c).cast("double"))
                case (a: String, b: String) =>
                  val p = graft.functions.StringOrd.commonPrefix(a, b)
                  (graft.functions.StringOrd.ord64OfAfter(a, p).toDouble,
                    graft.functions.StringOrd.ord64OfAfter(b, p).toDouble,
                    graft.functions.StringOrd.ord64After(
                      org.apache.spark.sql.functions.col(c), p)
                      .cast("double"))
                case _ => throw new IllegalArgumentException(
                  s"ZORDER BY supports numeric and string columns; '$c' " +
                    s"has ${mnA.getClass.getSimpleName} stats — cluster " +
                    "on a numeric key (or a precomputed surrogate) instead")
              }
              val span = math.max(mx - mn, 1e-12)
              org.apache.spark.sql.functions.floor(
                (dim - mn) / span * lane).cast("long")
            }
            snap.compact(spark, t, target, (stats ++ zs).distinct,
              clusterExpr = Some(_ =>
                graft.functions.ZOrder.zOrderK(zs.map(scaled))),
              where = scope)
          }
        (ver.getOrElse(snap.latestVersion(spark, t).get), name)
      case VacuumRe(name0) =>
        val name = normName(name0)
        // VACUUM drops unreferenced debris; no new version publishes
        val (t, _) = mutableSnapshotOf(spark, name)
        graft.sources.snapshot.SnapshotLog.vacuum(spark, t)
        (graft.sources.snapshot.SnapshotLog.latestVersion(spark, t).get, name)
      case RestoreVersionRe(name0, ver) =>
        val name = normName(name0)
        // metadata-only rollback (the Delta RESTORE TABLE shape):
        // republishes the target version's file list as a NEW version
        val (t, _) = mutableSnapshotOf(spark, name)
        (graft.sources.snapshot.SnapshotLog.restore(spark, t, ver.toLong),
          name)
      case RestoreTimestampRe(name0, ts) =>
        val name = normName(name0)
        val (t, _) = mutableSnapshotOf(spark, name)
        val snap = graft.sources.snapshot.SnapshotLog
        val millis = parseTsMillis(ts)
        val ver = snap.versionAt(spark, t, millis).getOrElse(
          throw new IllegalArgumentException(
            s"no version of $t existed at t=$millis (or it has been " +
              "expired)"))
        (snap.restore(spark, t, ver), name)
      case AddConstraintRe(name0, cname, expr0) =>
        val name = normName(name0)
        // CHECK constraints bind on every future write (writeData's
        // constraintGuard); registration scans existing rows and
        // refuses if any violate — see SnapshotLog.addConstraint
        val (t, _) = mutableSnapshotOf(spark, name)
        graft.sources.snapshot.SnapshotLog
          .addConstraint(spark, t, cname, expr0.trim)
        (graft.sources.snapshot.SnapshotLog.latestVersion(spark, t).get, name)
      case DropConstraintRe(name0, cname) =>
        val name = normName(name0)
        val (t, _) = mutableSnapshotOf(spark, name)
        graft.sources.snapshot.SnapshotLog.dropConstraint(spark, t, cname)
        (graft.sources.snapshot.SnapshotLog.latestVersion(spark, t).get, name)
      case AlterDropRe(name0, colName) =>
        val name = normName(name0)
        // metadata-only drop; the physical slot stays tombstoned so a
        // later ADD COLUMN of the same name serves NULL, never the old
        // bytes (see SnapshotLog.dropColumn)
        val (t, _) = mutableSnapshotOf(spark, name)
        (graft.sources.snapshot.SnapshotLog.dropColumn(spark, t, colName),
          name)
      case AlterClusterRe(name0, kind, cols, n) =>
        val name = normName(name0)
        // declare (or replace) the table's clustering layout — ONE
        // manifest write, zero data movement: appends conform from the
        // next batch on, OPTIMIZE re-clusters existing files to it
        // (see SnapshotLog.setLayout; type/arity validation lives
        // there and refuses loudly)
        val (t, _) = mutableSnapshotOf(spark, name)
        (graft.sources.snapshot.SnapshotLog.setLayout(spark, t,
          kind.toLowerCase, cols.split(",").map(_.trim).toSeq, n.toInt),
          name)
      case AlterClusterNoneRe(name0) =>
        val name = normName(name0)
        // drop the declared layout: writes stop conforming, files keep
        // whatever organization they have
        val (t, _) = mutableSnapshotOf(spark, name)
        (graft.sources.snapshot.SnapshotLog.clearLayout(spark, t), name)
      case AlterRenameRe(name0, oldC, newC) =>
        val name = normName(name0)
        // metadata-only column mapping (see SnapshotLog.renameColumn);
        // the repoint below re-registers the view with the new schema
        val (t, _) = mutableSnapshotOf(spark, name)
        (graft.sources.snapshot.SnapshotLog
          .renameColumn(spark, t, oldC, newC), name)
      case AlterAddRe(name0, colName, typ) =>
        val name = normName(name0)
        // additive metadata-only evolution; pre-existing files serve
        // the new column as NULL (nullability enforced by evolveSchema)
        val (t, _) = mutableSnapshotOf(spark, name)
        val latest = graft.sources.snapshot.SnapshotLog
          .latestVersion(spark, t).get
        val ddl = graft.sources.snapshot.SnapshotLog
          .manifest(spark, t, latest).schemaDdl
        (graft.sources.snapshot.SnapshotLog
          .evolveSchema(spark, t, s"$ddl,$colName $typ"), name)
      case other =>
        throw new IllegalArgumentException(
          "unsupported statement (DELETE FROM/INSERT INTO/" +
            "INSERT OVERWRITE/UPDATE/MERGE INTO/TRUNCATE TABLE/" +
            "CREATE [OR REPLACE] TABLE .. LOCATION .. AS SELECT/" +
            "ALTER TABLE ... RENAME COLUMN/ADD COLUMN/" +
            "DROP COLUMN/ADD CONSTRAINT/DROP CONSTRAINT/CLUSTER BY/" +
            "RESTORE TABLE .. TO VERSION|TIMESTAMP AS OF/" +
            s"OPTIMIZE [WHERE] [ZORDER BY]/VACUUM): $other")
    } } }
    // repoint the view at the new version so SQL readers see the change
    // (the registration's merge strategy survives the repoint). Catalog
    // names have no view to repoint — every read re-resolves the table
    // head at analysis time, so there is nothing to go stale.
    if (snapshotReg.containsKey((spark, name.toLowerCase))) {
      val reg = snapshotOf(spark, name)
      registerSnapshot(spark, name, reg.table, None, reg.statsCols,
        if (reg.morMerge) "mor" else "cow")
    }
    v
  }

  /** The target view name of a graft DML statement, when the text has
    * one of the dispatch shapes — a pure text probe: nothing executes,
    * no registry is consulted. What the parser extension uses to
    * decide whether a statement is OURS (shape matches AND the target
    * is a registered snapshot view) before stock Spark ever sees it.
    */
  private[graft] def dmlTargetOf(statement: String): Option[String] =
    MergeSubqueryHeadRe.findPrefixMatchOf(statement)
      .map(m => normName(m.group(2)))
      .orElse(MergeRe.findFirstMatchIn(maskLiterals(statement)).map(m =>
        normName(statement.substring(m.start(2), m.end(2)))))
      .orElse(statement match {
        case DeleteRe(n, _) => Some(normName(n))
        case DeleteAllRe(n) => Some(normName(n))
        case InsertRe(n, _, _) => Some(normName(n))
        case InsertOverwriteRe(n, _) => Some(normName(n))
        case TruncateRe(n) => Some(normName(n))
        case UpdateRe(n, _) => Some(normName(n))
        case OptimizeRe(n, _) => Some(normName(n))
        case VacuumRe(n) => Some(normName(n))
        case RestoreVersionRe(n, _) => Some(normName(n))
        case RestoreTimestampRe(n, _) => Some(normName(n))
        case AddConstraintRe(n, _, _) => Some(normName(n))
        case DropConstraintRe(n, _) => Some(normName(n))
        case AlterClusterRe(n, _, _, _) => Some(normName(n))
        case AlterClusterNoneRe(n) => Some(normName(n))
        case AlterRenameRe(n, _, _) => Some(normName(n))
        case AlterDropRe(n, _) => Some(normName(n))
        case AlterAddRe(n, _, _) => Some(normName(n))
        case _ => None
      })

  private[graft] def isRegistered(spark: SparkSession, name: String): Boolean =
    snapshotReg.containsKey((spark, normName(name).toLowerCase)) ||
      catalogPathOf(spark, name).isDefined

  /** Should the dialect OWN this statement for `spark.sql`? Registered
    * views: every dialect statement. Catalog-qualified names: all but
    * INSERT INTO / INSERT OVERWRITE — those delegate to stock Spark,
    * whose v2 write path does standard INSERT coercion and lands in the
    * SAME [[graft.sources.snapshot.SnapshotLog.commit]] through the
    * catalog's V1Write (native semantics for a native name).
    */
  private[graft] def ownsStatement(spark: SparkSession,
      statement: String): Boolean =
    dmlTargetOf(statement) match {
      case Some(n) if isRegistered(spark, n) =>
        snapshotReg.containsKey((spark, n.toLowerCase)) || (statement match {
          case InsertRe(_, _, _) => false
          case InsertOverwriteRe(_, _) => false
          case _ => true
        })
      case _ => false
    }

  /** `EXPLAIN [mode] <statement>` — when the inner statement is owned
    * graft DML, the explain renders the lazy command without executing
    * it (stock `ExplainCommand` analyzes in SKIP mode, so the mutation
    * never runs). Modes map to Spark's own.
    */
  private val ExplainRe =
    """(?is)^\s*EXPLAIN(\s+EXTENDED|\s+FORMATTED|\s+CODEGEN|\s+COST)?\s+(.+)$""".r

  /** Parser-extension hook ([[graft.plans.GraftExtensions]]): decide
    * what `spark.sql(statement)` should do when the graft dialect owns
    * the statement.
    *
    *  - `Some(Right(plan))` — the statement is graft DML on a
    *    REGISTERED snapshot view (a lazily-executed
    *    [[graft.plans.GraftDmlCommand]] — the mutation runs when the
    *    plan executes, returning one `version` row, Delta's SQL
    *    shape), an `EXPLAIN` of one, or DESCRIBE HISTORY / DETAIL
    *    (read-only frames, built here).
    *  - `Some(Left(text))` — a read-shaped statement using the
    *    time-travel / change-feed dialect (`VERSION AS OF`,
    *    `TIMESTAMP AS OF`, `table_changes(...)` on registered views):
    *    rewritten to plain SQL for the DELEGATE parser.
    *  - `None` — not ours; the stock parser owns it.
    */
  private[graft] def interceptSql(spark: SparkSession, statement: String)
      : Option[Either[String,
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = {
    statement match {
      case DescribeHistoryRe(n) if isRegistered(spark, n) =>
        return Some(Right(query(spark, statement).queryExecution.analyzed))
      case DescribeDetailRe(n) if isRegistered(spark, n) =>
        return Some(Right(query(spark, statement).queryExecution.analyzed))
      case ExplainRe(mode, inner) if ownsStatement(spark, inner) =>
        val m = Option(mode).map(_.trim.toUpperCase).getOrElse("") match {
          case "EXTENDED" => org.apache.spark.sql.execution.ExtendedMode
          case "FORMATTED" => org.apache.spark.sql.execution.FormattedMode
          case "CODEGEN" => org.apache.spark.sql.execution.CodegenMode
          case "COST" => org.apache.spark.sql.execution.CostMode
          case _ => org.apache.spark.sql.execution.SimpleMode
        }
        return Some(Right(org.apache.spark.sql.execution.command
          .ExplainCommand(graft.plans.GraftDmlCommand(inner), m)))
      case _ => ()
    }
    if (ownsStatement(spark, statement))
      Some(Right(graft.plans.GraftDmlCommand(statement)))
    else {
        // read-shaped dialect: rewrite and let the stock parser parse
        // the plain-SQL result (only registered names rewrite; a
        // statement without the dialect passes through as None)
        val s1 =
          if (TimestampAsOfRe.findFirstIn(statement).isDefined)
            rewriteTimestampAsOf(spark, statement)
          else statement
        val s2 =
          if (VersionAsOfRe.findFirstIn(s1).isDefined)
            rewriteVersionAsOf(spark, s1)
          else s1
        val s3 =
          if (TableChangesCallRe.findFirstIn(s2).isDefined)
            rewriteTableChanges(spark, s2)
          else s2
        if (s3 == statement) None else Some(Left(s3))
    }
  }

  /** Register a snapshot view pinned to a TAG — `VERSION AS OF '<tag>'`
    * for SQL users; resolves the tag at registration time.
    */
  def registerSnapshotTag(spark: SparkSession, name: String, table: String,
      tag: String): Unit = {
    graft.sources.snapshot.SnapshotLog.readTag(spark, table, tag)
      .createOrReplaceTempView(name)
    snapshotReg.put((spark, name.toLowerCase),
      SnapshotReg(table, Nil, pinned = true))
  }

  /** The snapshot table's file manifest as `<name>` — the Iceberg
    * `table.files` metadata view for SQL users (per-file rows, bytes,
    * DV presence, min/max/nulls for `cols`); metadata-only.
    */
  def registerSnapshotFiles(spark: SparkSession, name: String, table: String,
      cols: Seq[String] = Nil, version: Option[Long] = None): Unit =
    graft.sources.snapshot.SnapshotLog.fileManifest(spark, table, version, cols)
      .createOrReplaceTempView(name)

  /** One-call setup: views + functions. */
  def init(spark: SparkSession, dir: String): Unit = {
    registerTables(spark, dir)
    registerFunctions(spark)
  }

  /** Run a SQL query against the registered surface. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    init(spark, dir)
    spark.sql(query)
  }
}
