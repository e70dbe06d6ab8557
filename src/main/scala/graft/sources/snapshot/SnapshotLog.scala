package graft.sources.snapshot

import java.util.{ArrayList => JArrayList, LinkedHashMap => JLinkedHashMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-log table format: versioned parquet snapshots with atomic
  * commits, time travel, and manifest-level min/max file pruning.
  *
  * Why this exists at 100 TB: a plain parquet directory answers "what
  * files are in this table" by LISTING (O(files), throttled and
  * eventually-consistent on object stores) and "which files can this
  * predicate skip" by opening every footer. A manifest inverts both: the
  * log directory holds one small JSON per version, the manifest carries
  * per-file row counts and column min/max, so planning reads ONE small
  * file regardless of table size, and file skipping is a driver-side
  * filter over manifest entries — the Iceberg/Delta insight, reduced to
  * its load-bearing core.
  *
  * Commit protocol: data files land under `data/v<N>/` (never modified
  * after), then the manifest `_log/v<N>.json` is published by
  * write-temp + rename. Rename is atomic on HDFS/local and refuses an
  * existing destination, so two racing commits of the same version
  * cannot both win — the loser retries on the next version. (Object
  * stores without atomic rename need a conditional-put log store; same
  * contract, different primitive.) A crash before the rename leaves only
  * an ignored `.tmp-*` file and unreferenced data files — readers never
  * see partial state.
  *
  * Manifest paths are RELATIVE to the table root, so a table is
  * relocatable (copy the directory, read it elsewhere).
  */
object SnapshotLog {

  private val mapper = new ObjectMapper()

  /** Deletion-vector reference: `path` is a parquet directory (relative
    * to the table root) of `(__file string, __pos long)` deleted-row
    * positions; `rows` is how many of them belong to the referencing
    * file. Several files may share one DV directory — each entry claims
    * only its own positions.
    */
  final case class DvRef(path: String, rows: Long)

  /** One immutable data file: row count, size, per-column [min,max]
    * (absent for all-null files — those are never pruned away),
    * optional per-column Bloom filters (base64 bitmap over the portable
    * hash of the column's string form) for point-lookup file skipping
    * beyond what ranges can express, and an optional deletion vector
    * ([[DvRef]]) masking rows without rewriting the file
    * (merge-on-read — see [[deleteWhereDV]]).
    *
    * `ndvs` holds an optional per-column KMV distinct sketch (base64 of
    * the ≤[[NdvK]] smallest distinct portable hashes of the column's
    * string form) — mergeable across files by construction (the k
    * smallest of a union = the k smallest of the per-file k-smallest
    * sets), which is what makes [[tableStats]]'s approximate NDV a
    * metadata-only answer.
    *
    * `nulls` holds exact per-column null counts (absent = unknown) —
    * the stat that lets IS NULL / IS NOT NULL predicates skip files
    * the [min,max] window can't speak for (min/max describe only the
    * non-null values).
    *
    * `seq` is the file's DATA SEQUENCE NUMBER (the Iceberg v2
    * concept): a monotone logical clock stamped at commit, independent
    * of version numbering (branches share the parent's clock).
    * Equality deletes apply to a file iff the delete's seq is STRICTLY
    * greater — a file written in or after the deleting commit never
    * loses its own rows. 0 = legacy/pre-sequence file: every equality
    * delete applies (conservatively correct).
    */
  final case class FileEntry(path: String, rows: Long, bytes: Long,
      stats: Map[String, (Any, Any)], blooms: Map[String, String] = Map.empty,
      dv: Option[DvRef] = None, ndvs: Map[String, String] = Map.empty,
      nulls: Map[String, Long] = Map.empty, seq: Long = 0L)

  /** Equality-delete reference (Iceberg v2 merge-on-read upsert core):
    * `path` is a parquet directory (table-relative) holding the
    * DISTINCT deleted/replaced key values in one column named by
    * `keyCol` — the key's PHYSICAL column name (rename-stable, so the
    * ref survives renames); `rows` counts the keys; `seq` is the
    * issuing commit's sequence number. A row is masked iff its key is
    * in the set AND its file's seq < this seq.
    */
  final case class EqDelete(path: String, keyCol: String, rows: Long,
      seq: Long)

  /** Rows a file actually serves: written rows minus DV-masked rows. */
  private def liveRows(f: FileEntry): Long =
    f.rows - f.dv.map(_.rows).getOrElse(0L)

  /** Declared clustering layout — the Iceberg partition-spec idea
    * reduced to its engine-visible core: HOW a conforming write
    * organizes its files, recorded as a TABLE PROPERTY in the manifest
    * so writers never re-state it and maintenance can re-establish it.
    * `kind`:
    *  - `range`: `repartitionByRange(n, cols) + sortWithinPartitions`
    *    — disjoint tight [min,max] per file; the readPruned/readPoint
    *    skipping shape.
    *  - `bucket`: `repartition(n, cols)` — hash co-location for
    *    bucket-aligned joins and point writes.
    *  - `zorder`: 2 columns interleaved (ZOrder.zOrder2 over 16-bit
    *    scaling from the BATCH's own ranges) then range-partitioned —
    *    multi-column skipping.
    * `n` is the target file count of one conforming write (a batch,
    * not the table). Bulk-adding paths (commit append,
    * appendStreamBatch, compact) apply the full layout; surgical
    * mutations (upsert/CDC/MOR/DV) keep their O(changed-files) write
    * granularity and only SORT within their rewrites — re-ranging the
    * world per point-update is exactly what a 100 TB table must not
    * do; `compact()` re-establishes the global layout on its own
    * schedule. Declared via [[setLayout]]; `overwrite` commits reset
    * it with the rest of the table state.
    */
  final case class LayoutSpec(kind: String, cols: Seq[String], n: Int)

  /** One version of the table. `epoch` carries a streaming writer's
    * batch id for exactly-once replay detection ([[appendStreamBatch]]);
    * -1 for batch commits. `ts` is the publish wall-clock (epoch
    * millis), stamped by [[publish]] — the basis for age-based retention
    * ([[expireOlderThan]]). Monotone non-strict along the version chain
    * (commits are serialized by the rename CAS).
    *
    * `physical` is the column-mapping table (Delta's name-mode core):
    * logical column name → the PHYSICAL name the parquet files carry —
    * a column's name at first write, fixed for life. Identity entries
    * are omitted, so an never-renamed table has an empty map and the
    * fast read path. [[renameColumn]] changes only the logical side
    * (one manifest write, zero data movement); reads alias physical →
    * logical over the scan; writes alias logical → physical before
    * landing files, so every data file is layout-uniform regardless of
    * which rename era wrote it. Manifest stats/blooms/ndvs/nulls stay
    * keyed by LOGICAL name (re-keyed at rename), so all pruning paths
    * are rename-oblivious.
    *
    * `eqDeletes` carries the outstanding equality-delete set (see
    * [[EqDelete]]); empty for tables that never MOR-upsert — every
    * read path then takes its pre-existing plan unchanged.
    */
  final case class Manifest(version: Long, parent: Long, op: String,
      schemaDdl: String, files: Seq[FileEntry], epoch: Long = -1L,
      ts: Long = 0L, physical: Map[String, String] = Map.empty,
      eqDeletes: Seq[EqDelete] = Nil, layout: Option[LayoutSpec] = None)

  /** The parquet-level name of logical column `c` under manifest `m`. */
  private def physName(m: Manifest, c: String): String =
    m.physical.getOrElse(c, c)

  /** An equality delete's physical key columns (a COMPOSITE key is
    * recorded as a comma-joined list — identifiers never contain
    * commas, [[writeEqKeys]] enforces it) paired with their CURRENT
    * logical names under manifest `m` (reverse column mapping).
    */
  private def eqKeyCols(m: Manifest, e: EqDelete): (Seq[String], Seq[String]) = {
    val phys = e.keyCol.split(",").toSeq
    val logical = phys.map(p => m.physical.collectFirst {
      case (l, pp) if pp == p => l }.getOrElse(p))
    (phys, logical)
  }

  /** Per-file key-containment aggregate flags: `__f<i>` is 1 iff some
    * probe row lands inside file i's [min,max] window for EVERY key
    * column at once (a missing stat is conservatively "contains") —
    * the tuple-interval candidacy test, one conjunction per file, all
    * files evaluated in ONE pass over the probe frame. A NULL in any
    * key column flags nothing: NULL never equals a stored key, so a
    * file can't become a candidate on that row's account.
    */
  private def containmentChecks(files: Seq[FileEntry],
      keyCols: Seq[String]): Seq[Column] =
    files.zipWithIndex.map { case (f, i) =>
      val conj = keyCols.map { k =>
        f.stats.get(k) match {
          case Some((mn, mx)) => col(k) >= lit(mn) && col(k) <= lit(mx)
          case None => lit(true)
        }
      }.reduce(_ && _)
      max(when(conj, 1).otherwise(0)).as(s"__f$i")
    }

  /** Highest sequence number any live file or equality delete carries —
    * the next commit stamps lastSeq+1. Derived, not stored: an
    * eq-delete's seq stays in the max while the delete is outstanding,
    * so a new file can never be stamped low enough to receive an
    * EXISTING delete; dropped deletes stop constraining, which is
    * exactly right.
    */
  private def lastSeq(m: Manifest): Long =
    (m.files.map(_.seq) ++ m.eqDeletes.map(_.seq) :+ 0L).max

  /** Equality deletes applying to file `f`: issued strictly after it. */
  private def eqFor(m: Manifest, f: FileEntry): Seq[EqDelete] =
    m.eqDeletes.filter(_.seq > f.seq)

  private def logDir(tbl: Path) = new Path(tbl, "_log")

  private def manifestPath(tbl: Path, v: Long) =
    new Path(logDir(tbl), f"v$v%05d.json")

  /** Manifest file names: `v%05d.json` WIDENS past five digits at
    * version 100000 (printf pads, never truncates), so listings match
    * five-or-more and parse the captured group — a fixed `v\d{5}` +
    * substring would silently skip versions >= 100000, and retention
    * walking such a listing could free files a live version still
    * references.
    */
  private val ManifestNameRe = """v(\d{5,})\.json""".r

  /** The FileSystem of table path `p`. A `file:` table gets the
    * fork-free twin of Hadoop's local FileSystem
    * ([[ForkFreeLocalFileSystem]]): its creates and directory makes set
    * their POSIX modes through java.nio instead of a `chmod` process per
    * file, so manifest publishes (the LogStore's temp writes) and
    * [[writeData]]'s write tasks start no process. Every other scheme
    * gets the FileSystem Hadoop resolves.
    */
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    ForkFreeLocalFileSystem.of(p, spark.sparkContext.hadoopConfiguration)

  /** Highest committed version, from a listing of the (small) log dir
    * only. `.tmp-*` leftovers from crashed commits are ignored.
    */
  def latestVersion(spark: SparkSession, table: String): Option[Long] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val ld = logDir(tbl)
    if (!fs.exists(ld)) None
    else {
      val vs = fs.listStatus(ld).map(_.getPath.getName)
        .collect { case ManifestNameRe(n) => n.toLong }
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Commit `df` as the next version. `mode` is "append" (new files join
    * the parent's) or "overwrite" (new files replace them). Per-file
    * stats for `statsCols`, Bloom filters for `bloomCols` (point-lookup
    * skipping, [[readPoint]]) and KMV sketches for `ndvCols` come from
    * the write tasks themselves ([[writeData]]): the commit is one Spark
    * job and a manifest publish, with no pass over the new files after
    * it. Returns the new version.
    *
    * `declareLayout` declares a clustering layout IN THE SAME commit
    * as the data — schema, layout, and files publish atomically (the
    * CTAS .. CLUSTER BY shape: no transient window where the table is
    * empty or layout-less, no partial state on a crash between
    * commits). The data conforms to the declared layout as it is
    * written; subsequent appends conform like after [[setLayout]].
    */
  def commit(df: DataFrame, table: String, mode: String = "append",
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits, ndvCols: Seq[String] = Nil,
      declareLayout: Option[LayoutSpec] = None): Long =
    commitAs(df, table,
      latestVersion(df.sparkSession, table).getOrElse(0L) + 1, mode,
      statsCols, bloomCols, bloomBits, ndvCols, declareLayout)

  /** Version-pinned commit — the compare-and-swap surface: a committer
    * that read latest = N-1 publishes exactly N, and loses (with
    * [[IllegalStateException]]) if someone else published N first.
    */
  def commitAs(df: DataFrame, table: String, v: Long,
      mode: String, statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits, ndvCols: Seq[String] = Nil,
      declareLayout: Option[LayoutSpec] = None): Long = {
    require(mode == "append" || mode == "overwrite", s"bad mode $mode")
    val spark = df.sparkSession
    // an append conforms to the TABLE's schema (same columns/types,
    // parent's order and DDL) — it must never silently reset a schema
    // the table evolved to ([[evolveSchema]]); overwrite replaces the
    // schema along with the data, so it publishes the frame's own DDL
    val parent = if (v > 1) Some(manifest(spark, table, v - 1)) else None
    // overwrite replaces the schema AND the column mapping AND the
    // outstanding equality deletes (fresh table state); append
    // inherits all three, with new files stamped past every live seq
    val (aligned0, ddl, phys, eqs, seq, inherited) = parent match {
      case Some(p) if mode == "append" =>
        (alignToSchema(df, p.schemaDdl), p.schemaDdl, p.physical,
          p.eqDeletes, lastSeq(p) + 1, p.layout)
      case _ => (df, df.schema.toDDL, Map.empty[String, String],
        Nil: Seq[EqDelete], 1L, None)
    }
    // a newly declared layout validates against the schema being
    // published and replaces whatever was inherited — same checks as
    // [[setLayout]], one commit instead of two
    val layout = declareLayout.orElse(inherited)
    declareLayout.foreach(spec => validateLayout(
      org.apache.spark.sql.types.StructType.fromDDL(ddl), spec))
    // a declared layout conforms every append without the writer
    // re-stating it; overwrite resets layout with the rest of state
    val aligned = applyLayout(aligned0, layout)
    val newFiles = writeData(aligned, table, v, statsCols, bloomCols,
      bloomBits, ndvCols, phys).map(_.copy(seq = seq))
    val prior =
      if (mode == "append") parent.map(_.files).getOrElse(Nil) else Nil
    publish(fsOf(spark, new Path(table)), new Path(table),
      Manifest(v, v - 1, mode, ddl, prior ++ newFiles, physical = phys,
        eqDeletes = eqs, layout = layout))
    v
  }

  /** Declare (or replace) the table's clustering layout — ONE manifest
    * write, zero data movement: subsequent appends/stream batches
    * conform automatically, [[compact]] re-clusters existing files to
    * it, and every commit path carries it forward like the schema.
    * Existing files keep their current organization until compacted.
    * Returns the new version.
    */
  def setLayout(spark: SparkSession, table: String, kind: String,
      cols: Seq[String], n: Int): Long =
    publishMetadata(spark, table) { m =>
      val spec = LayoutSpec(kind, cols, n)
      validateLayout(
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl), spec)
      Manifest(m.version + 1, m.version, "set-layout", m.schemaDdl, m.files,
        physical = m.physical, eqDeletes = m.eqDeletes,
        layout = Some(spec))
    }

  /** A layout the write path cannot honor must refuse at DECLARATION,
    * not silently no-op per batch: zorder scales its dimensions into
    * 16-bit lanes, which needs a numeric column or a string (ridden
    * through the order-preserving ord64 surrogate —
    * [[graft.functions.StringOrd]]); range/bucket need an
    * ordering/hash (maps have neither). Shared by [[setLayout]] and
    * the layout-declaring [[commitAs]].
    */
  private def validateLayout(schema: org.apache.spark.sql.types.StructType,
      spec: LayoutSpec): Unit = {
    val LayoutSpec(kind, cols, n) = spec
    require(Set("range", "bucket", "zorder")(kind),
      s"layout kind must be range|bucket|zorder, got $kind")
    require(cols.nonEmpty, "layout needs at least one column")
    require(kind != "zorder" || (cols.size >= 2 && cols.size <= 4),
      s"zorder layout interleaves 2 to 4 columns (16/16/15-bit lanes — " +
        s"beyond 4 the per-dimension resolution stops pruning), got " +
        s"${cols.size}")
    require(n >= 1, s"layout file-count target must be >= 1, got $n")
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"layout column '$c' not in table schema ${schema.fieldNames.toSeq}"))
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach { c =>
      val dt = byName(c)
      if (kind == "zorder")
        require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          dt == org.apache.spark.sql.types.StringType,
          s"zorder layout supports numeric and string columns; '$c' is " +
            s"${dt.simpleString} — cluster on a numeric key (or a " +
            "precomputed numeric surrogate) instead")
      else require(
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt),
        s"$kind layout column '$c' has unorderable type ${dt.simpleString}")
    }
  }

  /** Drop the declared layout (writes stop conforming; files keep
    * whatever organization they have). Returns the new version.
    */
  def clearLayout(spark: SparkSession, table: String): Long =
    publishMetadata(spark, table)(m =>
      Manifest(m.version + 1, m.version, "set-layout", m.schemaDdl, m.files,
        physical = m.physical, eqDeletes = m.eqDeletes, layout = None))

  /** The declared layout at the latest version, if any. */
  def layoutOf(spark: SparkSession, table: String): Option[LayoutSpec] =
    latestVersion(spark, table)
      .flatMap(v => manifest(spark, table, v).layout)

  /** Conform a batch to the declared layout (identity without one).
    * Zorder scales each of its k columns into a [[graft.functions.ZOrder
    * .bitsFor]](k)-bit lane from the BATCH's own min/max (one tiny agg)
    * — self-contained at write time; the stats-scaled variant over the
    * whole table is OPTIMIZE ZORDER (`sql.GraftSql`). A string
    * dimension rides its order-preserving ord64 surrogate AFTER
    * common-prefix stripping: the batch min/max share any prefix every
    * value shares, so clustering keys on the bytes that actually
    * differ — URL/domain-shaped columns cluster instead of collapsing
    * into ord64's first-8-bytes cell.
    */
  private def applyLayout(df: DataFrame,
      layout: Option[LayoutSpec]): DataFrame = layout match {
    case None => df
    case Some(LayoutSpec("range", cs, n)) =>
      df.repartitionByRange(n, cs.map(col).toIndexedSeq: _*)
        .sortWithinPartitions(cs.map(col).toIndexedSeq: _*)
    case Some(LayoutSpec("bucket", cs, n)) =>
      df.repartition(n, cs.map(col).toIndexedSeq: _*)
    case Some(LayoutSpec("zorder", cs, n)) =>
      // one agg collects every dimension's raw min/max (strings as
      // strings — the prefix strip needs the text, not the surrogate)
      val aggs = cs.flatMap(c => Seq(min(col(c)), max(col(c))))
      val probe = df.agg(aggs.head, aggs.tail: _*).head
      if (cs.indices.exists(i => probe.isNullAt(2 * i))) df // empty/all-null
      else {
        val bits = graft.functions.ZOrder.bitsFor(cs.size)
        val lane = ((1L << bits) - 1).toDouble
        val dims = cs.zipWithIndex.map { case (c, i) =>
          val (dim, mn, mx) = df.schema(c).dataType match {
            case org.apache.spark.sql.types.StringType =>
              val (mnS, mxS) = (probe.getString(2 * i), probe.getString(2 * i + 1))
              val p = graft.functions.StringOrd.commonPrefix(mnS, mxS)
              (graft.functions.StringOrd.ord64After(col(c), p).cast("double"),
                graft.functions.StringOrd.ord64OfAfter(mnS, p).toDouble,
                graft.functions.StringOrd.ord64OfAfter(mxS, p).toDouble)
            case _ =>
              (col(c).cast("double"),
                probe.getAs[Any](2 * i).asInstanceOf[Number].doubleValue(),
                probe.getAs[Any](2 * i + 1).asInstanceOf[Number].doubleValue())
          }
          floor((dim - mn) / math.max(mx - mn, 1e-12) * lane).cast("long")
        }
        val key = graft.functions.ZOrder.zOrderK(dims)
        df.withColumn("__graft_layout", key)
          .repartitionByRange(n, col("__graft_layout"))
          .sortWithinPartitions(col("__graft_layout"))
          .drop("__graft_layout")
      }
    case Some(other) => throw new IllegalStateException(
      s"unreachable layout kind ${other.kind} — setLayout validates")
  }

  /** Keep a surgical rewrite's files sorted on the layout columns so
    * their stats stay tight, WITHOUT re-partitioning (mutations keep
    * their O(changed-files) granularity; compact restores the global
    * layout).
    */
  private def sortForLayout(df: DataFrame,
      layout: Option[LayoutSpec]): DataFrame = layout match {
    case Some(LayoutSpec(_, cs, _)) if cs.forall(df.columns.contains) =>
      df.sortWithinPartitions(cs.map(col).toIndexedSeq: _*)
    case _ => df
  }

  /** Escape hatch for [[shapeRewrite]] (default on). */
  val ShapedRewritesConf = "spark.graft.snapshot.shapedRewrites"

  /** How a CoW rewrite's input is partitioned: what [[shapeRewrite]]
    * needs to size its output files without a redundant exchange.
    */
  private sealed trait RewriteInput

  /** Rows of exactly `files`, read and changed row by row (no exchange
    * between the scan and the write beyond a key-set join): the scan's
    * partitioning, one or a few partitions per file.
    */
  private final case class Scanned(files: Seq[FileEntry]) extends RewriteInput

  /** The output of a join whose exchange adaptive execution already
    * coalesces to the advisory partition size.
    */
  private case object Joined extends RewriteInput

  /** Rows that come at least in part from a caller's frame (a batch, a
    * pin, driver-held rows), alone or unioned with file-scan survivors:
    * partitioned however the caller's plan left them.
    */
  private case object Batched extends RewriteInput

  /** Shape a CoW mutation rewrite for write. The parquet write lands ONE
    * FILE PER PARTITION, so an unshaped rewrite leaves as many files as
    * its input has partitions — measured 32-34 files of ~15 KB per MERGE
    * commit on the sf0.1 gates when batch-side frames kept the shuffle
    * partitioning. That small-file debt compounds into every later
    * scan, candidacy probe and manifest (guide §6: aim for
    * advisory-sized output files). What sizes the output depends on the
    * input ([[RewriteInput]]):
    *
    *  - [[Scanned]]: a narrow `coalesce(ceil(touched bytes / advisory
    *    partition size))`, the bytes taken from the manifest. A tiny
    *    rewrite of several files lands as one file, with no shuffle and
    *    no extra job; a large one keeps about one task per advisory
    *    size of input.
    *  - [[Joined]]: nothing. Adaptive execution already coalesces the
    *    join's exchange to the advisory size; a REBALANCE on top would
    *    shuffle the joined rows again and merge nothing.
    *  - [[Batched]]: an AQE-rebalanced exchange (REBALANCE), which sizes
    *    the output to the advisory partition size while upstream
    *    compute keeps its parallelism — the Delta/Iceberg "optimized
    *    write" trade: one churn-sized shuffle (the rewrite set, never the
    *    table) buys sane file counts. Only under adaptive execution: with
    *    it off, the hint plans a plain round-robin shuffle at
    *    `spark.sql.shuffle.partitions`, which could add files, so the
    *    frame is written as it is.
    *
    * The within-partition layout sort applies in every case, so
    * rewritten files stay internally ordered; compact remains the op
    * that restores the GLOBAL layout. [[ShapedRewritesConf]] = false
    * turns all three off.
    */
  private def shapeRewrite(df: DataFrame, layout: Option[LayoutSpec],
      input: RewriteInput): DataFrame = {
    val spark = df.sparkSession
    val sized =
      if (!spark.conf.get(ShapedRewritesConf, "true").toBoolean) df
      else input match {
        case Scanned(files) =>
          val target = spark.sessionState.conf.getConf(
            org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
          val bytes = files.map(_.bytes).sum
          df.coalesce(math.max(1L, (bytes + target - 1) / target)
            .min(Int.MaxValue.toLong).toInt)
        case Joined => df
        case Batched =>
          if (spark.sessionState.conf.adaptiveExecutionEnabled)
            df.hint("rebalance")
          else df
      }
    sortForLayout(sized, layout)
  }

  /** Check an appended frame against the table schema and put its
    * columns in manifest order so written files are layout-uniform.
    * Exact types for the columns present (nullability aside); columns
    * the frame doesn't carry are permitted when nullable and fill with
    * typed NULLs — so a writer predating an additive [[evolveSchema]]
    * keeps working. Columns the TABLE doesn't know are rejected: that's
    * a schema change and must go through evolveSchema.
    */
  private def alignToSchema(df: DataFrame, ddl: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val unknown = df.columns.toSet -- schema.fieldNames
    require(unknown.isEmpty,
      s"append columns ${unknown.toSeq.sorted} not in table schema " +
        s"${schema.fieldNames.sorted.toSeq} — evolveSchema first")
    val cols = schema.fields.map { f =>
      if (df.columns.contains(f.name)) {
        val dt = df.schema(f.name).dataType
        // equality modulo nullability at EVERY nesting level: a DDL
        // round-trip flips nested containsNull/field-nullable flags,
        // which carry no layout meaning for parquet
        require(sameShape(dt, f.dataType),
          s"append column '${f.name}' type ${dt.sql} != table ${f.dataType.sql}")
        col(f.name)
      } else {
        require(f.nullable,
          s"append is missing non-nullable table column '${f.name}'")
        lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Type equality ignoring nullability flags at every nesting level. */
  private def sameShape(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (a, b) match {
      case (ArrayType(ae, _), ArrayType(be, _)) => sameShape(ae, be)
      case (StructType(af), StructType(bf)) =>
        af.length == bf.length && af.zip(bf).forall { case (x, y) =>
          x.name == y.name && sameShape(x.dataType, y.dataType) }
      case (MapType(ak, av, _), MapType(bk, bv, _)) =>
        sameShape(ak, bk) && sameShape(av, bv)
      case _ => a == b
    }
  }

  /** Bloom geometry: k fixed at 3; bits per file-column configurable at
    * commit (readers derive the modulus from the stored bitmap length,
    * so mixed-geometry histories read fine). Positions come from the
    * engine-wide portable hash of the column's STRING form, so the
    * write-side aggregation is codegen'd builtins and the read-side
    * probe is its JVM bit-twin.
    */
  val DefaultBloomBits = 4096
  private[snapshot] val BloomK = 3
  private[snapshot] val BloomSeedBase = 7001

  private[snapshot] def bloomMightContain(words: Array[Long], value: String): Boolean = {
    val bits = words.length * 64
    (0 until BloomK).forall { h =>
      val p = (graft.functions.PortableHash.detHashJvm(
        s"$value:${BloomSeedBase + h}") % bits).toInt
      (words(p >> 6) & (1L << (p & 63))) != 0L
    }
  }

  private[snapshot] def bloomDecode(b64: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(b64))
    Array.fill(bb.remaining() / 8)(bb.getLong())
  }

  /** KMV sketch size: 64 smallest distinct 32-bit hashes per
    * (file, column) — ~512 bytes of manifest per sketch, relative
    * error ~1/√(k-1) ≈ 13%.
    */
  val NdvK = 64

  /** Land `df` as immutable files for version-attempt `v` and return
    * their manifest entries, in ONE Spark job and nothing after it
    * ([[ParquetWrite]]): each write task returns its files' row counts,
    * lengths, min/max and null counts for `statsCols` (Spark's ordering,
    * every column type), and the bloom and KMV sketches for `bloomCols`
    * and `ndvCols`. Zero-row files get no entry. On a `file:` table the
    * tasks write through the same fork-free FileSystem as [[fsOf]].
    */
  private def writeData(df: DataFrame, table: String, v: Long,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits, ndvCols: Seq[String] = Nil,
      physical: Map[String, String] = Map.empty): Seq[FileEntry] = {
    val spark = df.sparkSession
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    // unique attempt dir: two committers racing for the same version
    // must not write into each other's files — the loser's directory
    // becomes unreferenced garbage (vacuumable), never corruption
    val dataRel = f"data/v$v%05d-" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val dataDir = new Path(tbl, dataRel)
    // CHECK constraints enforce HERE, on the rows actually written —
    // every row-adding path funnels through this write, and a violation
    // aborts before any manifest publishes (the partial attempt dir is
    // deleted). Constraints see LOGICAL names; files land under
    // PHYSICAL names (column mapping), entries stay keyed by logical
    // ones — the guard binds before the rename projection.
    preProbeConstraints(df, table)
    val landed =
      if (physical.isEmpty) constraintGuard(df, table)
      else constraintGuard(df, table).select(df.columns.map(c =>
        col(c).as(physical.getOrElse(c, c))).toIndexedSeq: _*)
    try ParquetWrite.write(landed, tbl, dataRel, fs, statsCols, bloomCols, bloomBits,
      ndvCols, column = c => physical.getOrElse(c, c))
    catch {
      case ex: Throwable =>
        try fs.delete(dataDir, true) catch { case _: Exception => () }
        rethrowConstraint(ex)
    }
  }

  /** Compaction commit: coalesce every data file under `targetBytes`
    * into ~targetBytes outputs, leaving large files in place — a
    * REPLACE of the small set, published as a new version so readers
    * and time travel never see a half-compacted table. The rewrite
    * reads only the files being replaced (at 100 TB compaction cost
    * scales with the small-file debt, not the table).
    *
    * `clusterBy` turns the same rewrite into a clustering pass (the
    * Delta/Iceberg OPTIMIZE ... ZORDER shape): rows range-partition and
    * sort on the given columns (e.g. a precomputed z-order/Hilbert key,
    * see `functions.ZOrder`/`HilbertCurve`), so the rewritten files
    * carry tight disjoint [min,max] intervals and [[readPruned]] /
    * [[readPoint]] skip most of them — small-file debt and layout debt
    * paid in one data pass. Returns the new version, or None when fewer
    * than two files qualify.
    *
    * `where` (an AND-conjunction of [[ColumnRange]]s) SCOPES the pass
    * (the Delta `OPTIMIZE ... WHERE` shape): only files NO conjunct
    * provably excludes are candidates — on a 100 TB table maintenance
    * runs over yesterday's partition of one source, never the world.
    * A stats-less file cannot be proven out of scope and stays a
    * candidate. Equality deletes drop from the manifest only
    * when EVERY file they may apply to was rewritten in this pass
    * (per-delete stats-probed candidacy); a delete with surviving
    * candidates outside the scope stays outstanding and keeps masking
    * them — a scoped pass never un-deletes anything.
    */
  def compact(spark: SparkSession, table: String, targetBytes: Long,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      clusterExpr: Option[DataFrame => org.apache.spark.sql.Column] = None,
      where: Seq[ColumnRange] = Nil): Option[Long] = {
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val inScope: FileEntry => Boolean =
      if (where.isEmpty) _ => true
      else f => !where.exists(statsExclude(f, _))
    // a file with a deletion vector OR applicable equality deletes is
    // compaction debt regardless of size: the rewrite materializes the
    // masks (masked rows drop for good, the new file carries none) so
    // read-side anti-joins don't pile up. "Applicable" is stats-probed
    // per delete, not just seq-ordered: a file whose [min,max] window
    // for the key column provably contains NONE of a delete's keys
    // holds no masked rows and need not be rewritten — point-delete
    // debt on a 100 TB table compacts the touched files, not the world
    // (a stats-less file stays conservatively debt-classified).
    val deleteCands: Seq[(EqDelete, Set[String])] = m.eqDeletes.map { e =>
      val (physKeys, logicalKeys) = eqKeyCols(m, e)
      val keys0 = spark.read.parquet(
        resolveRel(new Path(table), e.path).toString)
      val keys = physKeys.zip(logicalKeys).foldLeft(keys0) {
        case (k, (p, l)) => k.withColumnRenamed(p, l) }
      e -> statsCandidates(keys, logicalKeys, m.files.filter(_.seq < e.seq))
        .map(_.path).toSet
    }
    val keyedDebt: Set[String] = deleteCands.flatMap(_._2).toSet
    val (small, big) = m.files.partition(f => inScope(f) &&
      (f.bytes < targetBytes || f.dv.isDefined || keyedDebt(f.path)))
    // Invariant: a delete leaves the manifest only when every file it
    // MAY apply to (the stats probe is conservative — no stats, no
    // pruning) is rewritten in THIS pass. Unscoped, every candidate is
    // debt and debt is small, so this is "drop them all" exactly as
    // before; scoped, a delete with out-of-scope candidates stays and
    // keeps masking them.
    val smallPaths = small.map(_.path).toSet
    val droppable: Set[(String, Long)] = deleteCands.collect {
      case (e, cands) if cands.subsetOf(smallPaths) => (e.path, e.seq)
    }.toSet
    if (small.size < 2 && small.forall(_.dv.isEmpty) &&
      !small.exists(f => keyedDebt(f.path)) && droppable.isEmpty)
      None
    else if (small.isEmpty) {
      // outstanding deletes that provably mask nothing (and no file
      // debt in scope): drop them with a metadata-only commit — no
      // data pass. touched = ∅ and only OUR deletes drop by identity,
      // so this rebases over any concurrent commit (a racer's new
      // delete or files pass through untouched)
      Some(publishMutation(spark, table, m, "compact", touched = Nil,
        replacement = Nil, added = Nil, eqAdded = Nil,
        eqDropped = droppable))
    } else {
      val v = v0 + 1
      val n = math.max(1,
        math.ceil(small.map(_.bytes).sum.toDouble / targetBytes).toInt)
      val readBack = readFiles(spark, table, m, small) // DV-aware
      val rewritten = clusterExpr match {
        // computed clustering key (e.g. a z-order interleave): rides a
        // transient column through the range partition + sort, dropped
        // before the write so the table schema never sees it
        case Some(key) =>
          readBack.withColumn("__graft_cluster", key(readBack))
            .repartitionByRange(n, col("__graft_cluster"))
            .sortWithinPartitions(col("__graft_cluster"))
            .drop("__graft_cluster")
        case None if clusterBy.isEmpty && m.layout.isDefined =>
          // no explicit clustering asked: compaction re-establishes
          // the DECLARED layout over the rewritten debt (file-count
          // target from the rewrite size, not the layout's per-batch n)
          applyLayout(readBack, m.layout.map(_.copy(n = n)))
        case None if clusterBy.isEmpty => readBack.coalesce(n)
        case None => readBack
          .repartitionByRange(n, clusterBy.map(col).toIndexedSeq: _*)
          .sortWithinPartitions(clusterBy.map(col).toIndexedSeq: _*)
      }
      val newFiles = writeData(rewritten, table, v, statsCols, bloomCols,
        physical = m.physical)
      // `droppable` holds exactly the deletes whose every candidate
      // file was just rewritten (unscoped: all of them — every
      // candidate is debt and debt is small); a scoped pass keeps the
      // rest outstanding for their surviving files. Publishing
      // through the OCC rebase means maintenance no longer loses to a
      // racing ingest: disjoint concurrent commits (appends, MOR
      // batches whose keys miss the rewritten files) land first and
      // the compaction rebases over them, keeping any racer-added
      // delete outstanding.
      Some(publishMutation(spark, table, m, "compact", touched = small,
        replacement = Nil, added = newFiles, eqAdded = Nil,
        eqDropped = droppable))
    }
  }

  /** Sweep stale `.claim` locks left by writers that crashed between
    * claim and release under the conditional-put-file store (see
    * [[FileClaimLogStore]]) — the table's own log plane plus every
    * branch's. Harmless under any other store (no `.claim` files
    * exist). `ttlMs` must exceed the longest plausible publish; the
    * default (10 minutes) is orders of magnitude above the
    * milliseconds a live claim spans. Returns removed claim paths.
    */
  def sweepStaleClaims(spark: SparkSession, table: String,
      ttlMs: Long = 10L * 60 * 1000): Seq[String] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val dirs = new Path(tbl, "_log") +:
      listBranches(spark, table).map(b =>
        new Path(new Path(branchPath(table, b)), "_log"))
    dirs.flatMap(d => FileClaimLogStore.sweepStaleClaims(fs, d, ttlMs))
      .map(_.toString)
  }

  /** Delete data files no manifest version references — the debris of
    * crashed or losing commits. Never touches a referenced file, so it
    * is safe while readers of ANY version are running. Returns deleted
    * paths (relative).
    */
  def vacuum(spark: SparkSession, table: String): Seq[String] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val latest = latestVersion(spark, table).getOrElse(return Nil)
    val manifests = (1L to latest).flatMap { v =>
      try Some(manifest(spark, table, v)) catch {
        case _: java.io.FileNotFoundException => None // expired manifest
      }
    }
    val br = branchReferences(spark, tbl, fs)
    val referenced = manifests.flatMap(_.files.map(_.path)).toSet ++ br._1
    // a referenced DV or equality-delete directory is kept whole — its
    // contents are addressed collectively by the refs that share it
    val referencedDvDirs =
      manifests.flatMap(_.files.flatMap(_.dv.map(_.path))).toSet ++ br._2 ++
        manifests.flatMap(_.eqDeletes.map(_.path))
    val dataRoot = new Path(tbl, "data")
    if (!fs.exists(dataRoot)) return Nil
    val orphans = fs.listStatus(dataRoot).flatMap { d =>
      if (referencedDvDirs("data/" + d.getPath.getName)) Array.empty[String]
      else fs.listStatus(d.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))
        .map(f => "data/" + d.getPath.getName + "/" + f.getPath.getName)
    }.filterNot(referenced).toSeq
    orphans.foreach(rel => fs.delete(new Path(tbl, rel), false))
    // drop now-empty attempt directories
    fs.listStatus(dataRoot).foreach { d =>
      if (fs.listStatus(d.getPath).forall(st =>
        st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")))
        fs.delete(d.getPath, true)
    }
    orphans.sorted
  }

  /** Retire old history: delete the manifests of versions that can no
    * longer be time-traveled to, and the data files ONLY they
    * reference — the retention half of the table lifecycle ([[vacuum]]
    * removes crash debris; this removes history on purpose). The
    * cutoff is delta-aware: versions >= `latest - keepLast + 1` must
    * stay readable, and a delta manifest resolves through ancestors
    * down to its nearest checkpoint, so expiry backs the cutoff down
    * to the newest FULL manifest at or below the requested one —
    * never leaving a surviving delta with a broken chain. Manifests
    * delete before data files (a crash between the two leaves
    * vacuumable orphans, never a readable version with missing data).
    * At 100 TB: cost scales with the expired debris, and what it
    * reclaims is exactly the storage old snapshots were pinning.
    * Returns (expired versions, deleted data file paths).
    */
  def expireVersions(spark: SparkSession, table: String,
      keepLast: Int): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val latest = latestVersion(spark, table).getOrElse(return (Nil, Nil))
    expireBelow(spark, table, latest, math.max(1L, latest - keepLast + 1))
  }

  /** Age-based retention (the VACUUM-retention shape): expire every
    * version whose manifest was published before `cutoffTs` (epoch
    * millis), keeping the latest version unconditionally and backing
    * the cutoff onto a checkpoint exactly like [[expireVersions]].
    * Timestamps are the publish wall-clock — monotone along the chain,
    * so the walk stops at the first old-enough version.
    */
  def expireOlderThan(spark: SparkSession, table: String,
      cutoffTs: Long): (Seq[Long], Seq[String]) = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val latest = latestVersion(spark, table).getOrElse(return (Nil, Nil))
    var keepFrom = latest
    var v = latest
    var walking = true
    while (v >= 1 && walking) {
      val raw =
        try Some(readRaw(fs, tbl, v))
        catch { case _: java.io.FileNotFoundException => None } // already expired
      raw match {
        case Some(r) if r.ts >= cutoffTs => keepFrom = v; v -= 1
        case _ => walking = false
      }
    }
    expireBelow(spark, table, latest, keepFrom)
  }

  private def expireBelow(spark: SparkSession, table: String,
      latest: Long, cutoff0: Long): (Seq[Long], Seq[String]) = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    // tagged versions are retention-protected (Iceberg ref semantics):
    // retention is suffix-contiguous, so the OLDEST tag bounds how far
    // expiry may reach — everything at or above it survives
    val tagged = tags(spark, table).values
    var safe = if (tagged.isEmpty) cutoff0 else math.min(cutoff0, tagged.min)
    while (safe > 1 && readRaw(fs, tbl, safe).full.isEmpty) safe -= 1
    if (safe <= 1) return (Nil, Nil)
    val expired = (1L until safe).filter(v => fs.exists(manifestPath(tbl, v)))
    val surviving = (safe to latest).map(v => readManifest(fs, tbl, v))
    val br = branchReferences(spark, tbl, fs)
    val referenced = surviving.flatMap(_.files.map(_.path)).toSet ++ br._1
    val refDvDirs =
      surviving.flatMap(_.files.flatMap(_.dv.map(_.path))).toSet ++ br._2 ++
        surviving.flatMap(_.eqDeletes.map(_.path))
    expired.foreach(v => fs.delete(manifestPath(tbl, v), false))
    val dataRoot = new Path(tbl, "data")
    val deleted =
      if (!fs.exists(dataRoot)) Nil
      else fs.listStatus(dataRoot).flatMap { d =>
        if (refDvDirs("data/" + d.getPath.getName)) Array.empty[String]
        else fs.listStatus(d.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
          .map(f => "data/" + d.getPath.getName + "/" + f.getPath.getName)
      }.filterNot(referenced).toSeq
    deleted.foreach(rel => fs.delete(new Path(tbl, rel), false))
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot).foreach { d =>
      if (fs.listStatus(d.getPath).forall(st =>
        st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")))
        fs.delete(d.getPath, true)
    }
    (expired, deleted.sorted)
  }

  /** Outcome of a copy-on-write mutation: how many of the parent
    * version's files survived untouched, were dropped without being
    * read (their stats proved every row matched the delete), or were
    * rewritten. Kept + dropped + rewritten = parent file count.
    */
  /** A concurrent commit LOGICALLY conflicts with a mutation being
    * rebased: a file the mutation read or removed was itself modified,
    * the schema / column mapping / declared layout changed underneath
    * it, or a new equality delete applies to data it already read.
    * Nothing was corrupted — the operation lost a genuine
    * serialization race and must be rerun against the current version.
    * Extends IllegalStateException so callers treating "commit failed,
    * table untouched" generically keep working.
    */
  final class ConcurrentMutationException(msg: String)
    extends IllegalStateException(msg)

  /** A change-feed range starts below the oldest retained version:
    * retention already deleted those manifests and the data files they
    * pinned, so the consumer cannot catch up incrementally — it must
    * re-bootstrap from a full copy of the current snapshot (the Delta
    * CDC "change data no longer available" contract). Typed so mirrors
    * can distinguish "fell behind retention" from transient IO.
    */
  final class ChangeFeedExpiredException(msg: String)
    extends IllegalStateException(msg)

  /** Internal: the op's exactly-once epoch landed concurrently while
    * rebasing (a second driver instance replaying the same micro-batch
    * won the race) — converted to the caller's replay signal.
    */
  private final class EpochReplayedException extends Exception

  /** Conflict-checked OCC publish for the mutating ops — Delta's
    * WriteSerializable shape. An op computes its result against a
    * `base` manifest; when the version CAS is lost it REBASES onto the
    * new latest instead of failing, provided the concurrent commits
    * are logically disjoint:
    *
    *  - every file the op read, removed, or re-masked (`touched`) is
    *    still present in latest with the same (dv, seq) identity;
    *  - schema, column mapping, and declared layout are unchanged;
    *  - no NEW equality delete applies to a touched file (its rows
    *    were read before that delete — republishing them would
    *    resurrect deleted rows);
    *  - no concurrent commit is a restore/fast-forward (history
    *    movement re-publishes old-seq files and eq-delete sets that
    *    touched-file identity cannot reason about).
    *
    * Violations raise [[ConcurrentMutationException]]. Disjoint
    * concurrent mutations — the common case at scale: CDC appliers,
    * retention deletes, and compaction each touching different file
    * sets — all land without caller-side retry loops, and no data file
    * is ever rewritten for a rebase (the manifest is recomputed;
    * `added` files and equality deletes are seq-restamped per attempt,
    * so MOR ordering — a delete applies to strictly-older files —
    * serializes correctly after any rebase). Parent file order is
    * preserved with touched entries swapped in place, the shape delta
    * manifests encode cheapest.
    */
  private def publishMutation(spark: SparkSession, table: String,
      base: Manifest, op: String, touched: Seq[FileEntry],
      replacement: Seq[FileEntry], added: Seq[FileEntry],
      eqAdded: Seq[EqDelete], epoch: Long = -1L,
      eqDropped: Set[(String, Long)] = Set.empty,
      maxAttempts: Int = 20): Long = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val touchedByPath = touched.map(f => f.path -> f).toMap
    val replacementByPath = replacement.map(f => f.path -> f).toMap
    require(replacementByPath.keySet.subsetOf(touchedByPath.keySet),
      "replacement entries must stand in for touched paths")
    var parent = base
    // highest version already proven free of restore/fast-forward by a
    // prior rebase attempt — the history-movement guard in
    // [[rebaseTarget]] never re-walks it on later retries
    var provenCleanTo = base.version
    var attempt = 1
    while (true) {
      val seqNow = lastSeq(parent) + 1
      val files = parent.files.flatMap { f =>
        if (touchedByPath.contains(f.path)) replacementByPath.get(f.path)
        else Some(f)
      } ++ added.map(_.copy(seq = seqNow))
      // eqDropped removes by (path, seq) identity, so a rebase keeps
      // any delete a RACER added (its keys provably miss our touched
      // files — rebaseTarget probed them — and our added files outrank
      // it by seq, so it still applies exactly where it should)
      val eqs = parent.eqDeletes.filterNot(e => eqDropped((e.path, e.seq))) ++
        eqAdded.map(_.copy(seq = seqNow))
      try {
        publish(fs, tbl, Manifest(parent.version + 1, parent.version, op,
          parent.schemaDdl, files, epoch, physical = parent.physical,
          eqDeletes = eqs, layout = parent.layout))
        return parent.version + 1
      } catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxAttempts) throw e
          casBackoff(attempt) // see writeConstraints: visibility lag
          val vNow = latestVersion(spark, table).getOrElse(0L)
          if (vNow > parent.version) {
            if (epoch >= 0L && maxEpoch(spark, table, vNow) >= epoch)
              throw new EpochReplayedException
            parent = rebaseTarget(spark, table, base,
              manifest(spark, table, vNow), touchedByPath, op,
              provenCleanTo)
            provenCleanTo = parent.version
          } // else: CAS lost but the winner isn't visible yet — retry
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The WriteSerializable conflict check: `latest` is a valid rebase
    * target for an op that read `base` iff the commits between them
    * are disjoint from everything the op depends on (see
    * [[publishMutation]]). The check is against BASE — the op's actual
    * read point — no matter how many rebase hops have happened.
    *
    * A new equality delete only conflicts when its KEYS actually land
    * in a touched file's stats interval (one aggregate over the
    * batch-sized key set — the same exact-candidacy probe [[upsert]]
    * uses). Without the probe, every concurrent MOR delete would
    * serialize against every CoW mutation, which at steady-state CDC
    * ingest is exactly the contention OCC exists to avoid.
    */
  private def rebaseTarget(spark: SparkSession, table: String,
      base: Manifest, latest: Manifest,
      touchedByPath: Map[String, FileEntry], op: String,
      provenCleanTo: Long): Manifest = {
    def conflict(why: String): Nothing =
      throw new ConcurrentMutationException(
        s"$op read table version ${base.version} but concurrent commits " +
          s"moved it to ${latest.version} and $why — rerun the operation " +
          "against the current version")
    if (latest.schemaDdl != base.schemaDdl) conflict("the schema changed")
    if (latest.physical != base.physical)
      conflict("the column mapping changed")
    if (latest.layout != base.layout) conflict("the declared layout changed")
    // A restore (or branch fast-forward) re-publishes files and
    // eq-delete sets from an OLDER version — state with sequence
    // numbers at or below this op's read point. Touched-file identity
    // cannot see that: a compact that dropped base's eq-deletes would
    // rebase over the restore and resurrect MOR-deleted rows living in
    // the re-surfaced old-seq files, and a CoW rewrite could undo rows
    // the restore deliberately brought back. History movement is not a
    // disjoint mutation — refuse, table untouched, rerun reads the
    // restored state.
    // Only each intermediate version's RAW op field is read (one small
    // JSON each, no delta-chain file-list resolution), and versions a
    // prior rebase attempt already proved clean are skipped — on a busy
    // table the guard costs O(new commits since last attempt), not
    // O(gap) resolutions per retry.
    val tblP = new Path(table)
    val fsP = fsOf(spark, tblP)
    ((math.max(base.version, provenCleanTo) + 1) to latest.version).foreach { v =>
      val op =
        try readRaw(fsP, tblP, v).op
        catch {
          case scala.util.control.NonFatal(_) =>
            conflict(s"intermediate version $v cannot be read to prove " +
              "the concurrent commits are disjoint")
        }
      if (op == "restore" || op == "fast-forward")
        conflict(s"version $v is a $op that re-published historical " +
          "state this operation's read point already superseded")
    }
    val inLatest = latest.files.map(f => f.path -> f).toMap
    touchedByPath.foreach { case (p, b) =>
      inLatest.get(p) match {
        case None => conflict(s"file $p it touched was removed")
        case Some(l) if l.dv != b.dv || l.seq != b.seq =>
          conflict(s"file $p it touched was modified")
        case _ => ()
      }
    }
    if (touchedByPath.nonEmpty) {
      val baseEq = base.eqDeletes.map(e => (e.path, e.seq)).toSet
      latest.eqDeletes.filterNot(e => baseEq((e.path, e.seq))).foreach { e =>
        val applies = touchedByPath.values.filter(_.seq < e.seq).toSeq
        if (applies.nonEmpty) {
          val (physKeys, logicalKeys) = eqKeyCols(latest, e)
          // per touched file: [min,max] per key column (the keys
          // parquet carries PHYSICAL names; stats are keyed logical)
          val ivs = applies.map(f => logicalKeys.map(f.stats.get))
          if (ivs.exists(_.contains(None)))
            conflict(s"equality delete ${e.path} may apply to a " +
              "stats-less file it read")
          val keys = spark.read
            .parquet(new Path(new Path(table), e.path).toString)
          val checks = ivs.zipWithIndex.map { case (perCol, i) =>
            val conj = physKeys.zip(perCol).map {
              case (p, Some((mn, mx))) =>
                col(p) >= lit(mn) && col(p) <= lit(mx)
              case (_, None) => throw new AssertionError("unreachable")
            }.reduce(_ && _)
            max(when(conj, 1).otherwise(0)).as(s"__f$i")
          }
          val probe = keys.agg(checks.head, checks.tail: _*).head
          if (ivs.indices.exists(i =>
              !probe.isNullAt(i) && probe.getInt(i) == 1))
            conflict(s"equality delete ${e.path} deleted rows this " +
              "operation already read")
        }
      }
    }
    latest
  }

  /** Metadata-only DDL publish (set/clear layout, evolve, rename):
    * recompute the new manifest from the CURRENT latest on every
    * attempt — the op's validations re-run against the state it
    * actually serializes after, so losing the version CAS to a
    * disjoint data commit (append, upsert, MOR batch, compaction)
    * never fails a rename/evolve/layout change on a busy table, and a
    * racing change that makes the op invalid (column gone, name taken,
    * constraint added) fails its own validation loudly instead of
    * publishing against stale state. `make` must be pure given the
    * manifest (safe to re-run), which every metadata op here is.
    */
  private def publishMetadata(spark: SparkSession, table: String,
      maxAttempts: Int = 20)(make: Manifest => Manifest): Long = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    var attempt = 1
    while (true) {
      val v0 = latestVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $table"))
      val m = manifest(spark, table, v0)
      try {
        publish(fs, tbl, make(m))
        return m.version + 1
      } catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxAttempts) throw e
          casBackoff(attempt) // see writeConstraints: visibility lag
      }
    }
    throw new IllegalStateException("unreachable")
  }

  final case class MutationStats(version: Long, filesKept: Int,
      filesDropped: Int, filesRewritten: Int)

  /** One AND-conjunct of a compound DML predicate: a row matches when
    * `lo <(=) column <(=) hi`, bounds inclusive unless the matching
    * strict flag is set, `None` = unbounded on that side (so `=`, `<`,
    * `<=`, `>`, `>=`, and BETWEEN all express as one shape). At least
    * one bound must be present.
    */
  final case class ColumnRange(column: String,
      lo: Option[Any], hi: Option[Any],
      loStrict: Boolean = false, hiStrict: Boolean = false) {
    require(lo.isDefined || hi.isDefined,
      s"predicate conjunct on '$column' needs at least one bound")
    require(!loStrict || lo.isDefined, "loStrict needs a lower bound")
    require(!hiStrict || hi.isDefined, "hiStrict needs an upper bound")
  }
  object ColumnRange {
    def between(column: String, lo: Any, hi: Any): ColumnRange =
      ColumnRange(column, Some(lo), Some(hi))
    def eq(column: String, x: Any): ColumnRange =
      ColumnRange(column, Some(x), Some(x))
  }

  /** Can NO row of the file satisfy this conjunct? True iff the
    * file's [min,max] stats window for the column provably misses the
    * bounds (missing stats never prove anything).
    */
  private def statsExclude(f: FileEntry, cr: ColumnRange): Boolean =
    f.stats.get(cr.column).exists { case (mn, mx) =>
      cr.lo.exists { lo =>
        val c = cmp(mx, lo); c < 0 || (cr.loStrict && c == 0) } ||
        cr.hi.exists { hi =>
          val c = cmp(mn, hi); c > 0 || (cr.hiStrict && c == 0) }
    }

  /** Does EVERY row of the file provably satisfy this conjunct? Needs
    * the stats window inside the bounds AND a recorded zero null count
    * — min/max describe only non-null values, and a NULL never matches
    * a range predicate, so a file that may hold nulls in the column
    * cannot be dropped whole without reading it.
    */
  private def statsCover(f: FileEntry, cr: ColumnRange): Boolean =
    f.stats.get(cr.column).exists { case (mn, mx) =>
      cr.lo.forall { lo =>
        val c = cmp(mn, lo); c > 0 || (!cr.loStrict && c == 0) } &&
        cr.hi.forall { hi =>
          val c = cmp(mx, hi); c < 0 || (!cr.hiStrict && c == 0) }
    } && f.nulls.get(cr.column).contains(0L)

  /** The conjunction as a row-level Column (the rewrite-side residual
    * of the stats classification above).
    */
  private def rangePredicate(crs: Seq[ColumnRange]): org.apache.spark.sql.Column =
    crs.map { cr =>
      (cr.lo.map(v => if (cr.loStrict) col(cr.column) > lit(v)
        else col(cr.column) >= lit(v)).toSeq ++
        cr.hi.map(v => if (cr.hiStrict) col(cr.column) < lit(v)
          else col(cr.column) <= lit(v)).toSeq).reduce(_ && _)
    }.reduce(_ && _)

  private def validateConjuncts(conjuncts: Seq[ColumnRange],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    require(conjuncts.nonEmpty, "predicate needs at least one conjunct")
    conjuncts.foreach(cr => require(schema.fieldNames.contains(cr.column),
      s"predicate column '${cr.column}' not in table schema " +
        s"${schema.fieldNames.toSeq}"))
  }

  /** Copy-on-write range delete: remove rows with `lo <= column <= hi`,
    * published as a new version. Each parent file is classified from
    * its manifest stats alone — disjoint range: kept as-is (never
    * read); fully inside the range: dropped (never read — an aligned
    * delete, e.g. a retention window matching the ingest partitioning,
    * is metadata-only); partial overlap or no stats: rewritten minus
    * matching rows. At 100 TB cost scales with the data that actually
    * changes, not the table, and time travel keeps serving every prior
    * version. Returns None (no commit) when no file could contain a
    * matching row.
    */
  def deleteWhere(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, statsCols: Seq[String] = Nil): Option[MutationStats] =
    deleteWhere(spark, table, Seq(ColumnRange.between(column, lo, hi)),
      statsCols)

  /** Compound-predicate copy-on-write delete: remove rows matching the
    * AND of per-column range `conjuncts` (`a BETWEEN x AND y AND b = z
    * AND ts < t`). Classification stays stats-only and per conjunct —
    * a file is KEPT (never read) when ANY conjunct provably excludes
    * its [min,max] window, DROPPED metadata-only when EVERY conjunct
    * provably covers every row (window inside bounds, zero recorded
    * nulls), and rewritten otherwise. The conjunction only ever
    * SHRINKS the rewrite set vs any single conjunct alone, so a
    * multi-column delete on a 100 TB table still costs the files it
    * actually changes.
    */
  def deleteWhere(spark: SparkSession, table: String,
      conjuncts: Seq[ColumnRange],
      statsCols: Seq[String]): Option[MutationStats] = {
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    validateConjuncts(conjuncts,
      org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
    val (kept, dropped, rewrite) = {
      val groups = m.files.groupBy { f =>
        if (conjuncts.exists(statsExclude(f, _))) "keep"
        else if (conjuncts.forall(statsCover(f, _))) "drop"
        else "rewrite" // partial overlap, or no stats: must read
      }
      (groups.getOrElse("keep", Nil), groups.getOrElse("drop", Nil),
        groups.getOrElse("rewrite", Nil))
    }
    if (dropped.isEmpty && rewrite.isEmpty) None
    else {
      val newFiles =
        if (rewrite.isEmpty) Nil
        // survivors = rows where the predicate is FALSE **or NULL** —
        // a NULL comparison never matches a DELETE predicate, so plain
        // `!pred` (NULL for NULL inputs) would silently drop null rows
        else writeData(
          shapeRewrite(readFiles(spark, table, m, rewrite)
            .where(!(rangePredicate(conjuncts) <=> lit(true))), m.layout,
            Scanned(rewrite)),
          table, v0 + 1, (statsCols ++ conjuncts.map(_.column)).distinct,
          physical = m.physical)
      val v = publishMutation(spark, table, m, "delete",
        touched = dropped ++ rewrite, replacement = Nil,
        added = newFiles, eqAdded = Nil)
      Some(MutationStats(v, kept.size, dropped.size, rewrite.size))
    }
  }

  /** Copy-on-write range update: apply `assignments` to rows with
    * `lo <= column <= hi`, published as a new version. Files classify
    * from manifest stats exactly as [[deleteWhere]]: a file disjoint
    * from the range is never read; only files that MAY hold a matching
    * row rewrite (matching rows transformed, the rest copied through) —
    * at 100 TB an UPDATE costs the files it actually changes.
    * Assignments may not reassign `column` itself (re-keying is an
    * upsert's job) and cast to each target column's declared type.
    * Returns None (no commit) when no file could contain a match.
    */
  def updateWhere(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any,
      assignments: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): Option[MutationStats] =
    updateWhere(spark, table, Seq(ColumnRange.between(column, lo, hi)),
      assignments, statsCols)

  /** Compound-predicate copy-on-write update: apply `assignments` to
    * rows matching the AND of per-column range `conjuncts`. A file is
    * skipped (never read) when ANY conjunct provably excludes its
    * stats window; everything else rewrites with matching rows
    * transformed and the rest copied through. Assignments may not
    * reassign any predicate column (re-keying is an upsert's job).
    */
  def updateWhere(spark: SparkSession, table: String,
      conjuncts: Seq[ColumnRange],
      assignments: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String]): Option[MutationStats] = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    conjuncts.foreach(cr => require(!assignments.contains(cr.column),
      s"UPDATE may not reassign its predicate column '${cr.column}' — " +
        "re-keying rows is an upsert"))
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    validateConjuncts(conjuncts, schema)
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"UPDATE target '$c' not in table schema ${schema.fieldNames.toSeq}"))
    val (kept, rewrite) = m.files.partition(f =>
      conjuncts.exists(statsExclude(f, _)))
    if (rewrite.isEmpty) None
    else {
      val hit = rangePredicate(conjuncts)
      val updated = readFiles(spark, table, m, rewrite).select(
        schema.fields.map { f =>
          assignments.get(f.name) match {
            case Some(e) =>
              when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
      val newFiles = writeData(shapeRewrite(updated, m.layout,
        Scanned(rewrite)), table,
        v0 + 1, (statsCols ++ conjuncts.map(_.column)).distinct,
        physical = m.physical)
      val v = publishMutation(spark, table, m, "update",
        touched = rewrite, replacement = Nil, added = newFiles,
        eqAdded = Nil)
      Some(MutationStats(v, kept.size, 0, rewrite.size))
    }
  }

  /** Copy-on-write update with an ARBITRARY row predicate — the shape
    * stats can't classify (OR, LIKE, multi-term expressions). Two
    * passes, the Delta UPDATE cost model: a location scan finds the
    * files that HOLD a matching row (column pruning + row-group
    * predicate pushdown make the probe cheap; deletion-vector masks
    * are NOT subtracted — conservative: a file whose only match is
    * already masked rewrites as a content no-op rather than risking a
    * missed file), then exactly those files rewrite with assignments
    * applied to matching rows. Cost scales with the files that
    * actually hold matches, never the table. Returns None when no
    * file holds a match.
    */
  def updateMatching(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): Option[MutationStats] = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"UPDATE target '$c' not in table schema ${schema.fieldNames.toSeq}"))
    val located = locateMatches(spark, table, m, condition)
    val rewrite = m.files.filter(f => located(relKey(f.path)))
    if (rewrite.isEmpty) None
    else {
      val updated = readFiles(spark, table, m, rewrite).select(
        schema.fields.map { f =>
          assignments.get(f.name) match {
            case Some(e) =>
              when(condition, e.cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
      val newFiles = writeData(shapeRewrite(updated, m.layout,
        Scanned(rewrite)), table, v0 + 1, statsCols, physical = m.physical)
      val v = publishMutation(spark, table, m, "update",
        touched = rewrite, replacement = Nil, added = newFiles,
        eqAdded = Nil)
      Some(MutationStats(v, m.files.size - rewrite.size, 0, rewrite.size))
    }
  }

  /** CoW UPDATE of the rows whose key (tuple) appears in a KEYS frame —
    * the `UPDATE ... WHERE col IN (SELECT ...)` shape. Candidacy is the
    * tuple-interval conjunction over the keys' values (one probe pass;
    * a file no key tuple can land in is never read), and the rewrite
    * marks matching rows with ONE join against the distinct key set
    * (broadcast when small — no driver-side collect at any key count).
    * Rows in a rewritten file whose key is absent ride through
    * unchanged. Returns None when no file may hold a match.
    */
  /** Materialize `df` exactly once as a pinned frame (eager
    * localCheckpoint). Every mutation path that evaluates a
    * caller-supplied frame MORE THAN ONCE — candidacy probe then
    * rewrite, count then sidecar write — pins it first: a lazy frame
    * over a non-deterministic subquery re-evaluated between the two
    * uses would silently diverge (update files the probe excluded,
    * record keys the count never saw). localCheckpoint rather than
    * persist: an executor loss after the pin FAILS the job instead of
    * recomputing divergently — the correct trade for a mutation.
    * Callers MUST release with [[unpin]] once the commit publishes.
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    // A failing eager checkpoint (e.g. a refusal guard folded into the
    // pinned plan firing mid-materialization) releases the blocks its
    // completed partitions cached through the one RDD it persisted —
    // never through the context-global persistent-RDD set, which holds
    // every other session's pins too.
    val p = org.apache.spark.sql.graftbridge.Bridge.localCheckpoint(df)
    // Right-size downstream passes over the pin, keeping a parallelism
    // floor. A checkpoint inherits its plan's partition count —
    // spark.sql.shuffle.partitions for a joined plan — so at scale a
    // churn-sized pinned frame lands as thousands of near-empty blocks
    // and every probe/join over the pin schedules that many tasks.
    // Coalesce (narrow — blocks are already materialized, nothing
    // recomputes) to the AQE advisory partition size, but never below
    // the scheduler's default parallelism: the pin feeds several
    // independent probe/window passes, and serializing them onto one
    // task costs more locally than the per-task overhead saves
    // (measured: 1.2-1.6x on the multi-clause MERGE gates with an
    // unfloored coalesce). Content, stats semantics, and the unpin
    // contract (LogicalRDD leaves) are unchanged.
    val sc = df.sparkSession.sparkContext
    val ids = p.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    // memSize+diskSize is the DESERIALIZED in-memory object size — a
    // systematic over-estimate vs the serialized shuffle bytes the
    // advisory target is calibrated for (biases toward MORE partitions,
    // the safe direction). On a cluster the storage-info read can lag
    // the checkpoint and report 0, which would silently collapse the
    // sizing to the parallelism floor — fall back to the optimizer's
    // size estimate for the pre-checkpoint plan in that case.
    // Heuristic-only either way: partition count, never correctness.
    val reported = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    val bytes =
      if (reported > 0L) reported
      else df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue / 2)).toLong
    val target = df.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    // partition count straight off the checkpointed plan's LogicalRDD —
    // Dataset.rdd would wrap a row-deserialization RDD in its own SQL
    // execution (a listener-visible no-job exec per pin, and a plan the
    // UI shows as phantom work)
    val nParts = p.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getNumPartitions
    }.sum
    val k = pinPartitions(bytes, target, nParts, sc.defaultParallelism)
    if (k < nParts) p.coalesce(k) else p
  }

  /** Partition count for a [[pin]]ned frame of `nParts` partitions
    * holding about `bytes`: one per `target` bytes, floored at
    * `min(nParts, parallelism)` and capped at `nParts` (a pin never
    * grows). The cap comes before the Int conversion: the optimizer's
    * `Long.MaxValue / 2` size sentinel would otherwise ask for ~7e10
    * partitions and wrap negative.
    */
  private[graft] def pinPartitions(bytes: Long, target: Long, nParts: Int,
      parallelism: Int): Int = {
    val sized = math.max(1L, (bytes + target - 1) / target)
    math.min(nParts.toLong,
      math.max(sized, math.min(nParts.toLong, parallelism.toLong))).toInt
  }

  /** Release the storage blocks behind a [[pin]]ned frame. A pin is
    * dead the moment its statement publishes, but localCheckpoint
    * blocks are only reclaimed by GC-driven cleanup — a long DML
    * session accumulates them until storage memory is all dead frames
    * and the mutation queries thrash (measured: a 4.9× tail on a
    * 232-query suite). Non-blocking; safe on any frame (only
    * LogicalRDD leaves — what localCheckpoint produces — unpersist).
    */
  private[graft] def unpin(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[unpin]] that WAITS for block removal — for loops that pin one
    * churn-sized frame per iteration (chunked change-feed replication):
    * a deterministic release bounds peak storage to one chunk however
    * long the catch-up, where fire-and-forget removal can let a tight
    * driver heap accumulate dead chunks faster than the async cleaner
    * drains them.
    */
  private[graft] def unpinBlocking(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
      case _ => ()
    }

  def updateKeys(spark: SparkSession, table: String,
      keyCols: Seq[String], keys: DataFrame,
      assignments: Map[String, Column],
      statsCols: Seq[String] = Nil): Option[MutationStats] = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"key columns must be non-empty and distinct, got $keyCols")
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    (assignments.keys ++ keyCols).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"UPDATE column '$c' not in table schema ${schema.fieldNames.toSeq}"))
    // pin the key set BEFORE the candidacy probe: `keys` may be lazy
    // over a non-deterministic subquery, and the marker join below
    // re-evaluates it — a different key set between candidacy and
    // rewrite would silently skip updates to files the first
    // evaluation excluded. localCheckpoint materializes once (an
    // executor loss after this point fails the job rather than
    // recomputing divergently — the correct trade for a mutation).
    val ks = pin(keys.select(keyCols.map(col): _*)
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct())
    try {
      val rewrite = statsCandidates(ks, keyCols, m.files)
      if (rewrite.isEmpty) None
      else {
        val marker = "__graft_upd"
        val joined = readFiles(spark, table, m, rewrite)
          .join(ks.withColumn(marker, lit(1)), keyCols, "left")
        val hit = col(marker) === 1
        val updated = joined.select(schema.fields.map { f =>
          assignments.get(f.name) match {
            case Some(e) =>
              when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
        // key stats always land on the new files (same convention as
        // upsert/applyChanges): a registration whose statsCols omit the
        // key must not produce stat-less rewrites that defeat every
        // subsequent mutation's tuple-interval pruning
        val newFiles = writeData(shapeRewrite(updated, m.layout,
          Scanned(rewrite)), table, v0 + 1, (statsCols ++ keyCols).distinct,
          physical = m.physical)
        val v = publishMutation(spark, table, m, "update",
          touched = rewrite, replacement = Nil, added = newFiles,
          eqAdded = Nil)
        Some(MutationStats(v, m.files.size - rewrite.size, 0, rewrite.size))
      }
    } finally unpin(ks)
  }

  /** Rel-keys of the files holding at least one row matching
    * `condition` — one location scan over logical names; bounded
    * collect (one row per matched file).
    */
  private def locateMatches(spark: SparkSession, table: String, m: Manifest,
      condition: org.apache.spark.sql.Column): Set[String] = {
    if (m.files.isEmpty) return Set.empty
    val logical = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val positioned = readFilesPhys(spark, table, m, m.files)
      .withColumn("__file",
        regexp_extract(col("_metadata.file_path"), FileRelRegex, 1))
    val aliased =
      if (m.physical.isEmpty) positioned
      else positioned.select((logical.fieldNames.toIndexedSeq.map(c =>
        col(physName(m, c)).as(c)) :+ col("__file")): _*)
    aliased.where(condition).select(col("__file")).distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Outcome of a merge-on-read (deletion-vector) delete: untouched
    * files, files dropped whole from the manifest (every live row
    * matched — metadata-only), and files masked by a new/extended DV.
    * No data file is rewritten, ever — that's the point.
    */
  final case class DvStats(version: Long, filesKept: Int, filesDropped: Int,
      filesMasked: Int, rowsDeleted: Long)

  /** Merge-on-read range delete: like [[deleteWhere]] but instead of
    * rewriting partially-matching files it records the matching row
    * POSITIONS in a deletion-vector sidecar and republishes the same
    * data files with a [[DvRef]] — reads anti-join the mask out
    * ([[readFiles]]). Stats-disjoint files are untouched, fully-covered
    * files drop from the manifest (metadata-only, like an aligned
    * retention delete), and the scan cost is the partially-matching
    * files only. The 100 TB trade vs copy-on-write: a scattered delete
    * (GDPR erasure, spot bad records) costs positions-sized metadata
    * instead of rewriting every touched file; the rewrite is deferred
    * to [[compact]], which materializes DVs. Repeated deletes merge:
    * the new DV carries the union of old and new positions.
    */
  def deleteWhereDV(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any): Option[DvStats] =
    deleteWhereDV(spark, table, Seq(ColumnRange.between(column, lo, hi)))

  /** Compound-predicate merge-on-read delete: the AND-conjunction form
    * of [[deleteWhereDV]], classified per conjunct exactly like the
    * CoW [[deleteWhere]] — ANY exclusion keeps a file untouched, ALL
    * coverage (window inside bounds AND zero recorded nulls — a NULL
    * never matches, so a null-bearing file cannot drop whole) drops it
    * metadata-only, everything else gets its matching positions masked.
    */
  def deleteWhereDV(spark: SparkSession, table: String,
      conjuncts: Seq[ColumnRange]): Option[DvStats] = {
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    validateConjuncts(conjuncts,
      org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
    val groups = m.files.groupBy { f =>
      if (conjuncts.exists(statsExclude(f, _))) "keep"
      else if (conjuncts.forall(statsCover(f, _))) "drop"
      else "mask" // partial overlap, or no stats: must read
    }
    dvDelete(spark, table, v0, m, groups.getOrElse("keep", Nil),
      groups.getOrElse("drop", Nil), groups.getOrElse("mask", Nil),
      rangePredicate(conjuncts))
  }

  /** Merge-on-read delete with an ARBITRARY predicate — the shape stats
    * can't prune (`text rlike ...`, multi-column conditions). Every
    * file is scanned once for matching positions; none is rewritten.
    */
  def deleteMatchingDV(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Option[DvStats] = {
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    dvDelete(spark, table, v0, m, Nil, Nil, m.files, condition)
  }

  private def dvDelete(spark: SparkSession, table: String, v0: Long,
      m: Manifest, kept: Seq[FileEntry], dropped: Seq[FileEntry],
      maskCand: Seq[FileEntry],
      condition: org.apache.spark.sql.Column): Option[DvStats] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val v = v0 + 1
    // positions still live (old DV applied) that match the predicate,
    // unioned with the old positions of every candidate file — the new
    // DV directory carries the FULL mask for the files it covers
    val (maskedEntries, newlyDeleted, dvRel) =
      if (maskCand.isEmpty) (Nil, 0L, None)
      else {
        val live = dvPositions(spark, table, maskCand) match {
          case None => withPosition(spark, table, m, maskCand)
          case Some(dv) => withPosition(spark, table, m, maskCand)
            .join(dv, Seq("__file", "__pos"), "left_anti")
        }
        val newPos = live.where(condition).select(col("__file"), col("__pos"))
        val full = (dvPositions(spark, table, maskCand) match {
          case None => newPos
          case Some(old) => newPos.unionByName(old)
        }).persist()
        val counts = full
          .groupBy(col("__file")).agg(count(lit(1)).cast("long").as("n"))
          .collect() // bounded by file count — metadata, not data
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val rel =
          if (counts.isEmpty) None
          else {
            val r = f"data/v$v%05d-dv-" +
              java.util.UUID.randomUUID().toString.substring(0, 8)
            ParquetWrite.write(full, tbl, r, fs, keepEmpty = true)
            Some(r)
          }
        full.unpersist()
        val entries = maskCand.map { f =>
          counts.get(relKey(f.path)) match {
            case Some(n) => f.copy(dv = Some(DvRef(rel.get, n)))
            case None => f // no old mask, no new match: entry unchanged
          }
        }
        val newly = maskCand.map(f =>
          counts.getOrElse(relKey(f.path), 0L) - f.dv.map(_.rows).getOrElse(0L)).sum
        (entries, newly, rel)
      }
    val droppedLive = dropped.map(liveRows).sum
    if (dropped.isEmpty && newlyDeleted == 0L) {
      dvRel.foreach(rel => fs.delete(new Path(tbl, rel), true)) // no-op round
      None
    } else {
      val vPub = publishMutation(spark, table, m, "dv-delete",
        touched = dropped ++ maskCand, replacement = maskedEntries,
        added = Nil, eqAdded = Nil)
      Some(DvStats(vPub, kept.size + maskedEntries.count(_.dv.isEmpty),
        dropped.size, maskedEntries.count(_.dv.isDefined),
        droppedLive + newlyDeleted))
    }
  }

  /** Copy-on-write upsert: rows of `updates` replace same-`keyCol` rows
    * and append otherwise (latest-wins merge). Candidacy is EXACT, not
    * range-coarse: one aggregation pass over `updates` tests each
    * file's [min,max] interval, so a file rewrites iff an update key
    * actually lands inside it — scattered updates touch only their
    * files, and pure inserts (keys outside every interval) rewrite
    * nothing. The merge itself is an anti-join of the candidate files
    * against the (typically broadcast) update keys. At 100 TB the
    * per-file interval tests become a manifest-table range join rather
    * than one aggregate column per file; the contract is the same.
    */
  def upsert(updates: DataFrame, table: String, keyCol: String,
      statsCols: Seq[String] = Nil): MutationStats =
    upsert(updates, table, Seq(keyCol), statsCols)

  def upsert(updates: DataFrame, table: String,
      keyCols: Seq[String]): MutationStats =
    upsert(updates, table, keyCols, Nil)

  /** Composite-key form: a row matches iff EVERY key column is equal —
    * candidacy is the tuple-interval test (a file rewrites only when
    * some update row lands inside its [min,max] window on ALL key
    * columns at once, so the conjunction only ever SHRINKS the rewrite
    * set vs any single column alone). Keys must be UNIQUE within the
    * batch (probed in the same single pass as candidacy): replace-by-key
    * is ambiguous when several source rows claim one target row — the
    * Delta "multiple source rows matched" refusal. The merge machinery
    * that constructs unambiguous multi-row replacement sets by design
    * (per-row clause resolution over duplicate-key targets) goes
    * through [[upsertRows]] instead.
    */
  def upsert(updates: DataFrame, table: String, keyCols: Seq[String],
      statsCols: Seq[String]): MutationStats =
    upsertInternal(updates, table, keyCols, statsCols, uniqueKeys = true)

  /** [[upsert]] minus the key-uniqueness probe: duplicate-key rows in
    * `updates` all land, REPLACING the key's existing rows as a set —
    * the primitive the MERGE clause machinery needs when duplicate-key
    * target rows each resolve to their own clause (one key's rows may
    * map to several replacement rows). Package-private: public callers
    * get the refusing [[upsert]], whose per-key semantics are
    * unambiguous.
    */
  private[graft] def upsertRows(updates: DataFrame, table: String,
      keyCols: Seq[String], statsCols: Seq[String]): MutationStats =
    upsertInternal(updates, table, keyCols, statsCols, uniqueKeys = false)

  private def upsertInternal(updates: DataFrame, table: String,
      keyCols: Seq[String], statsCols: Seq[String],
      uniqueKeys: Boolean): MutationStats = {
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"key columns must be non-empty and distinct, got $keyCols")
    val spark = updates.sparkSession
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    require(updates.columns.toSet == schema.fieldNames.toSet,
      s"update columns ${updates.columns.toSeq} != table ${schema.fieldNames.toSeq}")
    val aligned = updates.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val probe = keyProbe(aligned, m.files, keyCols, dupCheck = uniqueKeys)
    if (probe.rows == 0L) return MutationStats(v0, m.files.size, 0, 0)
    require(!probe.dupKeys,
      "duplicate keys in upsert batch — multiple source rows matched " +
        "and would modify the same target row in conflicting ways; " +
        "pre-aggregate the source to one row per key (latest-wins: " +
        "operators.CdcMerge)")
    val (rewrite, kept) =
      m.files.zipWithIndex.partition(p => probe.touched(p._2))
    val v = v0 + 1
    val existing = readFiles(spark, table, m, rewrite.map(_._1))
      .join(aligned.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    // key stats always land on the new files — exact candidacy for the
    // NEXT batch depends on them (a stat-less file is always a candidate)
    val newFiles = writeData(
      shapeRewrite(existing.unionByName(aligned), m.layout, Batched), table, v,
      (statsCols ++ keyCols).distinct, physical = m.physical)
    val vPub = publishMutation(spark, table, m, "upsert",
      touched = rewrite.map(_._1), replacement = Nil,
      added = newFiles, eqAdded = Nil)
    MutationStats(vPub, kept.size, 0, rewrite.size)
  }

  /** What one pass over a keyed batch says about manifest files: its
    * row count, whether two KEYED rows share a key (`dupKeys`, only when
    * asked — it costs a distinct), and the indices of the files whose
    * [min,max] window holds some key tuple ([[containmentChecks]]).
    */
  private final case class KeyProbe(rows: Long, dupKeys: Boolean,
      touched: Set[Int])

  /** The candidacy probe shared by the keyed mutations: ONE aggregation
    * over `batch` — per-file key-containment flags and the row count,
    * plus, with `dupCheck`, distinct keys against KEYED rows. A NULL-key
    * row can never be a duplicate of anything (it matches no target and
    * simply appends, the standard outcome), so it must not trip the
    * check the way a raw count-vs-countDistinct comparison would.
    */
  private def keyProbe(batch: DataFrame, files: Seq[FileEntry],
      keyCols: Seq[String], dupCheck: Boolean): KeyProbe = {
    val keyed = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val head = Seq(count(lit(1)).cast("long").as("__n")) ++
      (if (dupCheck) Seq(
        countDistinct(col(keyCols.head), keyCols.tail.map(col): _*)
          .cast("long").as("__nk"),
        count(when(keyed, 1)).cast("long").as("__nkeyed"))
      else Nil)
    val r = batch.agg(head.head,
      (head.tail ++ containmentChecks(files, keyCols)): _*).head
    val base = head.size
    KeyProbe(r.getLong(0), dupCheck && r.getLong(1) != r.getLong(2),
      files.indices.filter(i =>
        !r.isNullAt(i + base) && r.getInt(i + base) == 1).toSet)
  }

  /** Name of the boolean column a [[mergeByKeys]] rewrite marks the rows
    * the statement changes with (matched or inserted, not merely kept).
    */
  private[graft] val MergeChangedCol = "__graft_changed"

  /** Copy-on-write MERGE by key in two Spark executions: [[keyProbe]]
    * over `source` against one manifest (over one partition when the
    * source is [[driverLocal]], so it runs as one job), then ONE write of
    * `rewrite(target, guardDups)` through [[shapeRewrite]] →
    * [[writeData]] → [[publishMutation]] — the op name, stats columns and
    * OCC of [[upsert]]. `target` holds the live rows of exactly the files
    * the probe flagged (an empty frame when none); `guardDups` says the
    * probe saw two source rows share a key while some file could hold
    * it, so the caller must fold its ambiguity refusal into the rewrite.
    * `rewrite` returns the table's columns plus [[MergeChangedCol]]; a
    * rewrite that changes no row publishes nothing, like an upsert of
    * an empty batch. `mayInsert` = false skips the write when no file is
    * a candidate. The caller guarantees `source` yields the same rows on
    * both passes (a driver-local plan or a pin — see [[stableSource]]).
    */
  private[graft] def mergeByKeys(source: DataFrame, table: String,
      keyCols: Seq[String], statsCols: Seq[String], mayInsert: Boolean)(
      rewrite: (DataFrame, Boolean) => DataFrame): MutationStats = {
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"key columns must be non-empty and distinct, got $keyCols")
    val spark = source.sparkSession
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    // driver-held rows probe as one partition: the count-distinct then
    // plans with no exchange, one job instead of three
    val probe = keyProbe(if (driverLocal(source)) source.coalesce(1) else source,
      m.files, keyCols, dupCheck = true)
    val (touched, kept) =
      m.files.zipWithIndex.partition(p => probe.touched(p._2))
    if (probe.rows == 0L || (touched.isEmpty && !mayInsert))
      return MutationStats(v0, m.files.size, 0, 0)
    val target =
      if (touched.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else readFiles(spark, table, m, touched.map(_._1))
    val changed = org.apache.spark.sql.Observation()
    val out = rewrite(target, probe.dupKeys && touched.nonEmpty)
      .observe(changed, count(when(col(MergeChangedCol), 1)).as("n"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    // with candidate files the rewrite is a full outer join, sized by
    // its own exchange; without, it is the source rows alone
    val newFiles = writeData(
      shapeRewrite(out, m.layout, if (touched.isEmpty) Batched else Joined),
      table, v0 + 1, (statsCols ++ keyCols).distinct, physical = m.physical)
    if (changed.get("n") == 0L) {
      // nothing matched and nothing inserted: the files just written are
      // an unreferenced attempt, like a lost commit race's
      val fs = fsOf(spark, new Path(table))
      newFiles.map(f => resolveRel(new Path(table), f.path).getParent)
        .distinct.foreach(d => fs.delete(d, true))
      return MutationStats(v0, m.files.size, 0, 0)
    }
    val v = publishMutation(spark, table, m, "upsert",
      touched = touched.map(_._1), replacement = Nil, added = newFiles,
      eqAdded = Nil)
    MutationStats(v, kept.size, 0, touched.size)
  }

  /** True when evaluating `df` twice yields the same rows without a pin:
    * a deterministic plan whose every leaf is driver-held data
    * (`LocalRelation`) or an already-pinned `LogicalRDD`.
    */
  private[graft] def stableSource(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.deterministic && plan.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }
  }

  /** True when every leaf of `df`'s plan is driver-held data
    * (`LocalRelation`) — rows the driver already has, small by
    * construction.
    */
  private[graft] def driverLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  /** MERGE under a residual ON condition (`ON t.k = s.k AND t.ds >= x`
    * — the partition-bounding idiom): `updates` carries the full
    * replacement rows for MATCHED target rows (key equal AND residual
    * true), `inserts` the NOT-MATCHED source rows. Unlike [[upsert]],
    * replace-by-key applies ONLY to rows that pass the residual — a
    * same-key target row failing it rides through untouched — and
    * inserts NEVER drive a rewrite (under MERGE an insert is a row
    * proven unmatched; a duplicate key beside a residual-failing
    * target row is the correct Delta partition-bounded-merge outcome,
    * not a replacement). Candidacy is the exact tuple-interval test
    * over the UPDATE keys, restricted to files no residual conjunct
    * provably excludes — such a file holds no matched row at all, so a
    * MERGE bounded to one partition of a 100 TB table rewrites that
    * partition's matched files only, never the key-colliding rest.
    */
  def mergeMatched(spark: SparkSession, table: String, keyCols: Seq[String],
      updates: Option[DataFrame], inserts: Option[DataFrame],
      residual: Seq[ColumnRange], statsCols: Seq[String]): MutationStats =
    mergeMatched(spark, table, keyCols, updates, inserts, residual,
      statsCols, stagedKeys = false)

  /** `stagedKeys = true` (the SQL MERGE machinery): the caller
    * guarantees `updates` is DETERMINISTIC (its plan bottoms out in
    * pinned/staged frames), so the update-key set is staged with a
    * LAZY persist that the candidacy probe materializes — one fewer
    * fixed action per statement than the eager pin, with the same
    * evaluate-once property. Public callers keep the pinning default:
    * an arbitrary `updates` plan may be non-deterministic, where a
    * recompute between candidacy and the marker join must fail rather
    * than diverge.
    */
  private[graft] def mergeMatched(spark: SparkSession, table: String,
      keyCols: Seq[String],
      updates: Option[DataFrame], inserts: Option[DataFrame],
      residual: Seq[ColumnRange], statsCols: Seq[String],
      stagedKeys: Boolean): MutationStats = {
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"key columns must be non-empty and distinct, got $keyCols")
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    if (residual.nonEmpty) validateConjuncts(residual, schema)
    val aligned = (updates.toSeq ++ inserts.toSeq).map { df =>
      require(df.columns.toSet == schema.fieldNames.toSet,
        s"merge columns ${df.columns.toSeq} != table ${schema.fieldNames.toSeq}")
      df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
    // an empty residual is the "inserts never drive a rewrite" upsert:
    // replace-by-key applies to the update keys only, and insert rows
    // append blind — a same-key target row the merge proved UNMATCHED
    // (e.g. its only source rows failed a source-side ON conjunct)
    // rides through next to the inserted row, where [[upsert]]'s
    // all-keys anti-join would wrongly drop it
    val cand0 =
      if (residual.isEmpty) m.files
      else m.files.filter(f => !residual.exists(statsExclude(f, _)))
    // pinned (or lazily staged — see the stagedKeys overload doc):
    // candidacy and the marker join below must see the same key set
    // (updates is lazy over the source frame — see updateKeys)
    val updKeys = updates.map { u =>
      val ks = u.select(keyCols.map(col): _*).distinct()
      // staged = LAZY checkpoint: the candidacy probe right below is
      // the first action and materializes it — one fewer fixed action
      // than the eager pin, same raw-block re-reads afterwards
      if (stagedKeys) ks.localCheckpoint(eager = false) else pin(ks)
    }
    try {
      val rewrite = updKeys.map(statsCandidates(_, keyCols, cand0))
        .getOrElse(Nil)
      if (rewrite.isEmpty && aligned.forall(_.isEmpty))
        return MutationStats(v0, m.files.size, 0, 0)
      val marker = "__graft_mrg"
      // a rewritten file's row is dropped iff its key matches an update
      // AND the residual holds — null-safe so NULL keys/residual values
      // always ride through
      val residualHolds =
        if (residual.isEmpty) lit(true)
        else rangePredicate(residual) <=> true
      val existing = if (rewrite.isEmpty) None else Some(
        readFiles(spark, table, m, rewrite)
          .join(updKeys.get.withColumn(marker, lit(1)), keyCols, "left")
          .where(!(((col(marker) === 1) && residualHolds) <=> true))
          .select(schema.fieldNames.map(col).toIndexedSeq: _*))
      val out = (existing.toSeq ++ aligned).reduce(_ unionByName _)
      val newFiles = writeData(shapeRewrite(out, m.layout, Batched), table,
        v0 + 1, (statsCols ++ keyCols).distinct, physical = m.physical)
      val v = publishMutation(spark, table, m, "upsert",
        touched = rewrite, replacement = Nil, added = newFiles, eqAdded = Nil)
      MutationStats(v, m.files.size - rewrite.size, 0, rewrite.size)
    } finally updKeys.foreach(unpin)
  }

  /** The row-level predicate of an AND-of-ranges conjunction — public
    * so the SQL dispatch filters with EXACTLY the semantics the
    * stats classification prunes by.
    */
  def rangeExpr(crs: Seq[ColumnRange]): org.apache.spark.sql.Column =
    rangePredicate(crs)

  /** CDC batch apply — the MERGE INTO shape: one commit applies a
    * changelog of upserts and deletes. `changes` carries the table's
    * columns plus `opCol` ∈ {"U" (upsert: replace-or-insert by
    * `keyCol`), "D" (delete by `keyCol`; a miss is a no-op)}. Keys must
    * be unique within the batch — pre-resolve multi-version changelogs
    * with latest-wins (see `operators.CdcMerge`) so "apply" is
    * unambiguous. Candidacy is the same exact one-pass interval test as
    * [[upsert]] over ALL change keys (a delete prunes like an update),
    * so scattered changes rewrite only the files their keys land in and
    * pure inserts rewrite nothing. This is the "apply today's CDC feed
    * to the 100 TB corpus table" operation: cost scales with changed
    * files + changelog size, never the table.
    */
  /** `epoch` stamps the commit into the stream-replay ledger
    * ([[maxEpoch]]) — [[replicateChangeFeed]] uses it for exactly-once
    * change application; -1 (default) for plain batch applies.
    */
  def applyChanges(changes: DataFrame, table: String, keyCol: String,
      opCol: String = "op", statsCols: Seq[String] = Nil,
      epoch: Long = -1L): MutationStats =
    applyChanges(changes, table, Seq(keyCol), opCol, statsCols, epoch)

  /** Composite-key form: see the composite [[upsert]] — tuple-interval
    * candidacy, full-tuple equality for both the U and D ops.
    */
  def applyChanges(changes: DataFrame, table: String, keyCols: Seq[String],
      opCol: String, statsCols: Seq[String],
      epoch: Long): MutationStats =
    applyChangesInternal(changes, table, keyCols, opCol, statsCols, epoch,
      uniqueKeys = true)

  /** [[applyChanges]] minus the key-uniqueness probe — the MERGE clause
    * machinery's changelog primitive: duplicate-key U rows REPLACE the
    * key's existing rows as a set (per-row clause resolution over
    * duplicate-key targets yields several survivors per key), and the
    * CALLER guarantees no key carries both a U and a D op (the
    * machinery constructs them disjoint: a key deletes only when every
    * one of its rows resolved to DELETE). Package-private; public CDC
    * appliers get the refusing [[applyChanges]], where a duplicate key
    * really is an unresolved changelog.
    */
  private[graft] def applyChangesRows(changes: DataFrame, table: String,
      keyCols: Seq[String], opCol: String, statsCols: Seq[String],
      epoch: Long): MutationStats =
    applyChangesInternal(changes, table, keyCols, opCol, statsCols, epoch,
      uniqueKeys = false)

  private def applyChangesInternal(changes: DataFrame, table: String,
      keyCols: Seq[String], opCol: String, statsCols: Seq[String],
      epoch: Long, uniqueKeys: Boolean): MutationStats = {
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"key columns must be non-empty and distinct, got $keyCols")
    val spark = changes.sparkSession
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    require(changes.columns.toSet == schema.fieldNames.toSet + opCol,
      s"change columns ${changes.columns.toSeq} != table ${schema.fieldNames.toSeq} + $opCol")
    val aligned = changes.select(
      (schema.fieldNames.toIndexedSeq :+ opCol).map(col): _*)
    // constraints bind at write time ([[constraintGuard]]): the rows
    // that LAND (merged survivors + upserts) are guarded as written;
    // deletes remove rows and cannot violate a CHECK

    // one pass over the changelog: per-file key-containment flags plus
    // batch validity (op vocabulary, key uniqueness — the distinct is
    // only computed for refusing callers; the MERGE machinery's
    // row-set variant skips it)
    // uniqueness compares against the KEYED row count, like
    // [[upsertInternal]]: countDistinct skips NULL-key rows, so a raw
    // count-vs-countDistinct comparison would blame a NULL-key change
    // row for a duplicate it isn't — NULL keys get their own refusal
    // (the keyed machinery's anti-join and containment flags both skip
    // NULLs, so such a change row could never land or delete anything)
    val checks = containmentChecks(m.files, keyCols)
    val keyed = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val head = Seq(count(lit(1)).cast("long").as("__n"),
      max(when(!col(opCol).isin("U", "D"), 1).otherwise(0)).as("__badop"),
      sum(when(col(opCol) === "U", 1).otherwise(0)).cast("long").as("__nu")) ++
      (if (uniqueKeys) Seq(
        countDistinct(col(keyCols.head), keyCols.tail.map(col): _*)
          .cast("long").as("__nk"),
        count(when(keyed, 1)).cast("long").as("__nkeyed"))
      else Nil)
    val base = head.size
    val probe = aligned.agg(head.head, (head.tail ++ checks): _*).head
    if (probe.getLong(0) == 0L) return MutationStats(v0, m.files.size, 0, 0)
    require(probe.getInt(1) == 0, s"op column '$opCol' has values outside {U, D}")
    require(!uniqueKeys || probe.getLong(4) == probe.getLong(0),
      s"change batch has rows whose key ($keyCols) is NULL — NULL never " +
        "equals a stored key, so the keyed change machinery cannot " +
        "address those rows; filter them out or fix the key upstream")
    require(!uniqueKeys || probe.getLong(3) == probe.getLong(4),
      "duplicate keys in change batch — pre-resolve with latest-wins " +
        "(operators.CdcMerge) before applying")
    val touched = m.files.indices
      .filter(i => !probe.isNullAt(i + base) && probe.getInt(i + base) == 1)
      .toSet
    val (rewrite, kept) = m.files.zipWithIndex.partition(p => touched(p._2))
    // deletes that land in no file and zero inserts: nothing to commit
    if (rewrite.isEmpty && probe.getLong(2) == 0L)
      return MutationStats(v0, m.files.size, 0, 0)

    val v = v0 + 1
    val existing = readFiles(spark, table, m, rewrite.map(_._1))
      .join(aligned.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val upserts = aligned.where(col(opCol) === "U")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    // key stats always land on the new files — exact candidacy for the
    // NEXT batch depends on them (a stat-less file is always a candidate)
    val newFiles = writeData(
      shapeRewrite(existing.unionByName(upserts), m.layout, Batched), table, v,
      (statsCols ++ keyCols).distinct, physical = m.physical)
    try {
      val vPub = publishMutation(spark, table, m, "apply-changes",
        touched = rewrite.map(_._1), replacement = Nil,
        added = newFiles, eqAdded = Nil, epoch = epoch)
      MutationStats(vPub, kept.size, 0, rewrite.size)
    } catch {
      // a second applier landed this exact epoch while we rebased —
      // exactly-once means OUR apply becomes the no-op (same shape as
      // the nothing-to-commit early returns)
      case _: EpochReplayedException =>
        MutationStats(latestVersion(spark, table).getOrElse(v0),
          m.files.size, 0, 0)
    }
  }

  /** MERGE-ON-READ upsert (the Iceberg v2 streaming-CDC-ingest shape):
    * updates land as NEW files plus one equality-delete key set — NO
    * existing file is read, classified, or rewritten, so a continuous
    * CDC feed ingests in O(batch) regardless of how many files its
    * keys scatter across (the [[upsert]] CoW trade reversed: cost
    * moves from write to read, where each scan anti-joins the
    * outstanding key sets until [[compact]] materializes them). Keys
    * must be unique within the batch (pre-resolve with latest-wins —
    * `operators.CdcMerge`). Returns the new version.
    */
  def upsertMOR(updates: DataFrame, table: String, keyCol: String,
      statsCols: Seq[String] = Nil): Long =
    upsertMORInternal(updates, table, Seq(keyCol), statsCols, -1L)

  /** Composite-key form: one eq-delete set carries the full key tuple
    * (several columns in one sidecar); the read-side anti-join matches
    * on every key column at once.
    */
  def upsertMOR(updates: DataFrame, table: String, keyCols: Seq[String],
      statsCols: Seq[String]): Long =
    upsertMORInternal(updates, table, keyCols, statsCols, -1L)

  /** [[upsertMOR]] minus the key-uniqueness probe — see [[upsertRows]]:
    * duplicate-key rows all land as the key's replacement SET (the
    * eq-delete masks every old row of the key; the new files carry all
    * survivors). For the MERGE clause machinery, whose per-row clause
    * resolution legitimately produces several rows per duplicate-key
    * target; public CDC ingest keeps the refusing [[upsertMOR]].
    */
  private[graft] def upsertMORRows(updates: DataFrame, table: String,
      keyCols: Seq[String], statsCols: Seq[String]): Long =
    upsertMORInternal(updates, table, keyCols, statsCols, -1L,
      uniqueKeys = false)

  /** Exactly-once STREAMING CDC ingestion — the `foreachBatch` body
    * for a continuously-upserted snapshot table:
    * {{{
    * changes.writeStream.foreachBatch { (b, e) =>
    *   SnapshotLog.upsertMORBatch(b, table, e, "id") : Unit
    * }
    * }}}
    * Each micro-batch lands as one O(batch) MOR commit; a replayed
    * epoch (restart re-delivering `epochId`) is detected from the
    * manifest chain and skipped — the at-least-once foreachBatch
    * becomes exactly-once, with compaction absorbing the accumulated
    * delete debt on its own schedule. Returns None on replay.
    */
  def upsertMORBatch(updates: DataFrame, table: String, epochId: Long,
      keyCol: String, statsCols: Seq[String] = Nil): Option[Long] =
    upsertMORBatch(updates, table, epochId, Seq(keyCol), statsCols)

  def upsertMORBatch(updates: DataFrame, table: String, epochId: Long,
      keyCols: Seq[String], statsCols: Seq[String]): Option[Long] = {
    val spark = updates.sparkSession
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version in $table — seed the table with commit() first"))
    if (maxEpoch(spark, table, v0) >= epochId) None // replay
    else {
      try {
        val v = upsertMORInternal(updates, table, keyCols, statsCols, epochId)
        maybeAutoCompactMor(spark, table)
        Some(v)
      } catch {
        // a second driver instance replaying this epoch won the commit
        // race mid-rebase — same exactly-once answer as the up-front
        // ledger check
        case _: EpochReplayedException => None
      }
    }
  }

  /** Opt-in MOR debt ceiling for [[upsertMORBatch]]: once the
    * outstanding equality-delete set reaches this many batches, the
    * ingest commit is followed by a [[compact]] that materializes the
    * debt — so a continuously-upserted table's read cost sawtooths
    * instead of fragmenting without bound. 0 / unset (default) keeps
    * compaction fully manual. The compaction rides AFTER the
    * epoch-stamped commit and carries no epoch itself, so replay
    * detection is untouched: a crashed compaction simply re-triggers
    * on a later batch, and a replayed epoch never compacts twice for
    * the same ingest.
    */
  val MorAutoCompactEveryConf = "spark.graft.snapshot.morAutoCompactEvery"

  /** Target output size for the auto-compaction rewrite (default
    * 128 MiB) — only read when [[MorAutoCompactEveryConf]] is set.
    */
  val MorAutoCompactTargetConf = "spark.graft.snapshot.morAutoCompactTargetBytes"

  private def maybeAutoCompactMor(spark: SparkSession, table: String): Unit = {
    val every = spark.conf.get(MorAutoCompactEveryConf, "0").toInt
    if (every <= 0) return
    val v = latestVersion(spark, table).get
    val m = manifest(spark, table, v)
    if (m.eqDeletes.size >= every) {
      // stats/bloom coverage carries over from what the files already
      // declare, so auto-compaction never silently narrows pruning
      val statsCols = m.files.flatMap(_.stats.keys).distinct
      val bloomCols = m.files.flatMap(_.blooms.keys).distinct
      val target = spark.conf
        .get(MorAutoCompactTargetConf, (128L << 20).toString).toLong
      try { compact(spark, table, target, statsCols, bloomCols); () }
      catch {
        // maintenance is best-effort: a lost CAS race or IO hiccup
        // leaves the debt for the next batch's trigger, never fails
        // the ingest commit that already landed
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"auto-compaction of $table failed (debt left for next trigger)", e)
      }
    }
  }

  private def upsertMORInternal(updates: DataFrame, table: String,
      keyCols: Seq[String], statsCols: Seq[String], epoch: Long,
      uniqueKeys: Boolean = true): Long = {
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"key columns must be non-empty and distinct, got $keyCols")
    val spark = updates.sparkSession
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    require(updates.columns.toSet == schema.fieldNames.toSet,
      s"update columns ${updates.columns.toSeq} != table ${schema.fieldNames.toSeq}")
    val aligned = updates.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    // uniqueness vs the KEYED count (NULL-key rows append and can
    // never be duplicates — see upsertInternal); the distinct is
    // always computed here because the eq-delete sidecar records it
    // as its key count (MOR batches are small by design)
    val keyed = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val probe = aligned.agg(count(lit(1)).cast("long"),
      countDistinct(col(keyCols.head), keyCols.tail.map(col): _*)
        .cast("long"),
      count(when(keyed, 1)).cast("long")).head
    if (probe.getLong(0) == 0L) return v0
    require(!uniqueKeys || probe.getLong(1) == probe.getLong(2),
      "duplicate keys in MOR upsert batch — pre-resolve with latest-wins " +
        "(operators.CdcMerge) before applying")
    val v = v0 + 1
    val newFiles = writeData(shapeRewrite(aligned, m.layout, Batched), table, v,
      (statsCols ++ keyCols).distinct, physical = m.physical)
    val eq = writeEqKeys(spark, table, v,
      aligned.select(keyCols.map(col): _*),
      keyCols.map(physName(m, _)), probe.getLong(1), lastSeq(m) + 1)
    // touched = ∅: a MOR upsert reads nothing, so it rebases over ANY
    // concurrent commit — the seq restamp per attempt keeps its delete
    // applying to everything older, including files a racer just added
    publishMutation(spark, table, m, "upsert-mor", touched = Nil,
      replacement = Nil, added = newFiles, eqAdded = Seq(eq),
      epoch = epoch)
  }

  /** MERGE-ON-READ delete by key: record the key set, touch nothing —
    * "erase these ids from 100 TB" costs one keys-sized parquet write
    * and a manifest, with the scan-time anti-join and the eventual
    * [[compact]] doing the physical work. Returns the new version, or
    * None for an empty key set.
    */
  def deleteKeysMOR(keys: DataFrame, table: String,
      keyCol: String): Option[Long] =
    deleteKeysMOR(keys, table, Seq(keyCol))

  /** Composite-key form: a row is erased iff EVERY key column matches
    * some recorded tuple.
    */
  def deleteKeysMOR(keys: DataFrame, table: String,
      keyCols: Seq[String]): Option[Long] = {
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"key columns must be non-empty and distinct, got $keyCols")
    val spark = keys.sparkSession
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v0)
    // a key column outside the schema must refuse BEFORE the commit:
    // a published eq-delete on a nonexistent column would make every
    // subsequent read throw on its anti-join
    val fieldNames = org.apache.spark.sql.types.StructType
      .fromDDL(m.schemaDdl).fieldNames
    keyCols.foreach(k => require(fieldNames.contains(k),
      s"key column '$k' not in table schema ${fieldNames.toSeq}"))
    // pinned before the count: the sidecar write below re-evaluates
    // the frame, and a non-deterministic subquery could otherwise
    // record a DIFFERENT key set than the one counted (see updateKeys)
    val ks = pin(keys.select(keyCols.map(col): _*)
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct())
    try {
      val n = ks.count()
      if (n == 0L) return None
      val eq = writeEqKeys(spark, table, v0 + 1, ks,
        keyCols.map(physName(m, _)), n, lastSeq(m) + 1)
      Some(publishMutation(spark, table, m, "delete-keys-mor",
        touched = Nil, replacement = Nil, added = Nil, eqAdded = Seq(eq)))
    } finally unpin(ks)
  }

  /** Land a distinct key set as an equality-delete sidecar directory
    * (columns named by the PHYSICAL key names — rename-stable; a
    * composite key's columns all land in the ONE sidecar and its
    * manifest entry records them comma-joined).
    */
  private def writeEqKeys(spark: SparkSession, table: String, v: Long,
      keys: DataFrame, physKeys: Seq[String], rows: Long,
      seq: Long): EqDelete = {
    require(physKeys.forall(!_.contains(",")),
      s"key column names may not contain ',': $physKeys")
    val rel = f"data/v$v%05d-eq-" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    val tbl = new Path(table)
    ParquetWrite.write(keys.distinct().toDF(physKeys: _*), tbl, rel, fsOf(spark, tbl),
      keepEmpty = true)
    EqDelete(rel, physKeys.mkString(","), rows, seq)
  }

  /** Exactly-once streaming append: the `foreachBatch` body for a
    * snapshot-table sink. A replayed epoch (restart re-delivering batch
    * `epochId`) is detected from the parent manifest chain and skipped,
    * so the table sees each micro-batch exactly once even though
    * foreachBatch is at-least-once. Usage:
    * {{{
    * stream.writeStream.foreachBatch { (b, e) =>
    *   SnapshotLog.appendStreamBatch(b, table, e, Seq("id")) : Unit
    * }
    * }}}
    */
  def appendStreamBatch(df: DataFrame, table: String, epochId: Long,
      statsCols: Seq[String] = Nil): Option[Long] = {
    val spark = df.sparkSession
    val v0 = latestVersion(spark, table).getOrElse(0L)
    if (v0 > 0 && maxEpoch(spark, table, v0) >= epochId) None // replay
    else {
      val v = v0 + 1
      val parent = if (v > 1) Some(manifest(spark, table, v - 1)) else None
      val (aligned, ddl, phys, eqs, seq, layout) = parent match { // as commitAs
        case Some(p) => (alignToSchema(df, p.schemaDdl), p.schemaDdl,
          p.physical, p.eqDeletes, lastSeq(p) + 1, p.layout)
        case None => (df, df.schema.toDDL, Map.empty[String, String],
          Nil: Seq[EqDelete], 1L, None)
      }
      val newFiles = writeData(applyLayout(aligned, layout), table, v,
        statsCols, physical = phys)
      parent match {
        case Some(p) =>
          // an append touches nothing, so it rebases over ANY disjoint
          // concurrent commit — compaction, retention deletes, or CDC
          // appliers running beside the stream no longer fail a
          // micro-batch (a racing schema/mapping/layout change still
          // conflicts loudly: the batch was aligned to the old schema)
          try Some(publishMutation(spark, table, p, "stream-append",
            touched = Nil, replacement = Nil, added = newFiles,
            eqAdded = Nil, epoch = epochId))
          catch {
            // a second driver replaying this epoch won mid-rebase —
            // the same exactly-once answer as the up-front ledger check
            case _: EpochReplayedException => None
          }
        case None =>
          publish(fsOf(spark, new Path(table)), new Path(table),
            Manifest(v, v0, "stream-append", ddl, newFiles
              .map(_.copy(seq = seq)), epochId, physical = phys,
              eqDeletes = eqs, layout = layout))
          Some(v)
      }
    }
  }

  // ---- CHECK constraints (the Delta `ALTER TABLE ADD CONSTRAINT`
  // capability, reduced to its write-side core): named boolean SQL
  // expressions stored in ONE small sidecar (`_log/_constraints.json`)
  // and enforced on every row-adding path — append, retry-append,
  // stream-append, upsert, CDC apply — with Delta's null semantics
  // (a row violates only when the expression is provably FALSE; null
  // passes). Adding a constraint validates the EXISTING table first,
  // so a registered constraint is an invariant, not a hope. The
  // sidecar is current-state write-guard metadata, deliberately NOT
  // versioned per manifest: time travel reads data, and `restore` can
  // resurrect pre-constraint rows — re-validate after restore if the
  // invariant must span history. Enforcement costs one short-circuit
  // `isEmpty` probe per constraint over the NEW rows only.

  private def legacyConstraintsPath(tbl: Path) =
    new Path(logDir(tbl), "_constraints.json")

  // ---- Versioned sidecars (shared by constraints and tags) -------------

  private def sidecarRe(prefix: String) =
    (java.util.regex.Pattern.quote(prefix) + """\.v(\d+)\.json""").r

  /** Newest published sidecar generation, versioned-newest-wins: each
    * publish lands a FRESH `<prefix>.vNNNNN.json` by atomic rename
    * (the destination never pre-exists), so — unlike a delete-then-
    * rename over one fixed name — there is no window where the sidecar
    * is absent and a concurrent reader resolves nothing.
    */
  private def latestSidecar(fs: FileSystem, tbl: Path,
      prefix: String): Option[(Long, Path)] = {
    val re = sidecarRe(prefix)
    val cands = store(fs)
      .list(fs, new Path(logDir(tbl), s"$prefix.v*.json")).flatMap { st =>
        st.getPath.getName match {
          case re(n) => Some((n.toLong, st.getPath))
          case _ => None
        }
      }
    if (cands.isEmpty) None else Some(cands.maxBy(_._1))
  }

  /** CAS publish of sidecar content at generation `gen`+1: the
    * exclusive publish makes exactly one racing writer win (the loser
    * re-reads and retries). On success, generations older than `gen`
    * sweep best-effort — compared by PARSED NUMBER, never by filename
    * (lexicographic order breaks the moment generations outgrow the
    * zero padding: "v100000" < "v99999"). One generation back is kept
    * so a reader that globbed just before this publish can still open
    * the file it resolved.
    */
  private def casWriteSidecar(fs: FileSystem, tbl: Path, prefix: String,
      bytes: Array[Byte], gen: Long): Boolean = {
    fs.mkdirs(logDir(tbl))
    val dest = new Path(logDir(tbl), f"$prefix.v${gen + 1}%05d.json")
    if (store(fs).publishExclusive(fs, dest, bytes)) {
      val re = sidecarRe(prefix)
      store(fs).list(fs, new Path(logDir(tbl), s"$prefix.v*.json")).foreach { st =>
        st.getPath.getName match {
          case re(n) if n.toLong < gen =>
            try fs.delete(st.getPath, false) catch { case _: Exception => () }
          case _ => ()
        }
      }
      true
    } else false
  }

  /** Constraints resolve through the shared sidecar machinery; legacy
    * un-versioned `_constraints.json` reads as generation 0.
    */
  private def latestConstraintsFile(fs: FileSystem, tbl: Path): Option[(Long, Path)] =
    latestSidecar(fs, tbl, "_constraints").orElse {
      if (fs.exists(legacyConstraintsPath(tbl)))
        Some((0L, legacyConstraintsPath(tbl)))
      else None
    }

  private def parseConstraints(fs: FileSystem, p: Path): Map[String, String] =
    mapper.readValue(new String(store(fs).read(fs, p), "UTF-8"),
        classOf[java.util.Map[String, Object]])
      .asScala.map { case (k, v) => k -> v.toString }.toMap

  /** Current constraint map (name → boolean SQL expression). A
    * generation swept between the glob and the open (two publishes
    * landed in the window) re-resolves once — the sweep keeps one
    * generation back, so the second resolve reads a live file.
    */
  def constraints(spark: SparkSession, table: String): Map[String, String] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    def resolve(): Option[Map[String, String]] =
      latestConstraintsFile(fs, tbl) match {
        case None => Some(Map.empty)
        case Some((_, p)) =>
          try Some(parseConstraints(fs, p))
          catch { case _: java.io.FileNotFoundException => None }
      }
    resolve().orElse(resolve()).getOrElse(Map.empty)
  }

  /** CAS update of the constraint sidecar: each attempt RE-READS the
    * generation it will replace and applies `update` to THAT map, so
    * two racing updates (addConstraint × dropConstraint) compose
    * instead of the loser's retry erasing the winner's change with a
    * stale pre-merged map. Gen and content resolve from the SAME
    * sidecar file — never latest-gen paired with an older read.
    */
  private def writeConstraints(spark: SparkSession, table: String,
      update: Map[String, String] => Map[String, String]): Unit = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    fs.mkdirs(logDir(tbl))
    var attempts = 0
    while (attempts < 16) {
      val resolved = latestConstraintsFile(fs, tbl)
      val gen = resolved.map(_._1).getOrElse(0L)
      val cur = resolved match {
        case None => Some(Map.empty[String, String])
        case Some((_, p)) =>
          try Some(parseConstraints(fs, p))
          catch { case _: java.io.FileNotFoundException => None } // swept: re-resolve
      }
      cur match {
        case Some(base) =>
          val root = new JLinkedHashMap[String, Object]()
          update(base).toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
          val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
          if (casWriteSidecar(fs, tbl, "_constraints", bytes, gen)) {
            try fs.delete(legacyConstraintsPath(tbl), false)
            catch { case _: Exception => () }
            return
          }
        case None => () // lost the sweep race — next attempt re-globs
      }
      attempts += 1
      // a lost CAS can precede the winner's publish becoming VISIBLE
      // (conditional-put claims win before the object lands); a tight
      // loop would burn every attempt inside that window — back off
      casBackoff(attempts)
    }
    throw new IllegalStateException(
      s"could not publish constraints under ${logDir(tbl)} after 16 attempts")
  }

  /** Short bounded sleep between CAS retries: exponential to ~32 ms.
    * Keeps lost-but-not-yet-visible publish windows (claim-first
    * stores) from eating a retry budget in microseconds.
    */
  private def casBackoff(attempt: Int): Unit =
    Thread.sleep(1L << math.min(attempt, 5))

  /** Rows of `df` that VIOLATE `e` under Delta null semantics. */
  private def violations(df: DataFrame, e: String): DataFrame =
    df.where(!coalesce(expr(e).cast("boolean"), lit(true)))

  /** Register a CHECK constraint; the existing table must already
    * satisfy it (validated with one scan before the sidecar publishes,
    * and re-validated against the then-current version after — so an
    * append racing the registration window cannot leave the constraint
    * standing over rows that violate it; the re-check fails loudly and
    * withdraws the constraint. Registration is still best done by a
    * single coordinator, like Delta's ALTER TABLE).
    */
  def addConstraint(spark: SparkSession, table: String, name: String,
      e: String): Unit = {
    require(name.nonEmpty && e.nonEmpty, "constraint needs a name and an expression")
    if (latestVersion(spark, table).isDefined) {
      val bad = violations(read(spark, table), e).limit(1).collect()
      require(bad.isEmpty,
        s"existing rows violate constraint '$name' ($e): e.g. ${bad.head}")
    }
    writeConstraints(spark, table, _ + (name -> e))
    // close the validate→publish window: a commit that landed between
    // the scan above and the publish never saw the constraint — if it
    // brought violating rows, withdraw and refuse rather than leave a
    // standing constraint the table does not satisfy
    if (latestVersion(spark, table).isDefined) {
      val bad = violations(read(spark, table), e).limit(1).collect()
      if (bad.nonEmpty) {
        writeConstraints(spark, table, _ - name)
        throw new IllegalArgumentException(
          s"constraint '$name' ($e) violated by rows committed during " +
            s"registration: e.g. ${bad.head} — constraint withdrawn")
      }
    }
  }

  def dropConstraint(spark: SparkSession, table: String, name: String): Unit =
    writeConstraints(spark, table, _ - name)

  // ---- Tags: named immutable version pointers (Iceberg refs) -----------

  /** One file per tag (`_tag-<name>.json` holding the pinned version):
    * tags on DIFFERENT names never share a file, so concurrent
    * creations cannot lose each other — there is no shared map to CAS
    * and no read-modify-write window at all. (A shared map file was
    * tried first and dropped: `FileSystem.rename` on the local FS
    * OVERWRITES an existing destination, so an exists-then-rename CAS
    * admits two winners and silently lost one writer's tag under an
    * 8-way race.) Same-name races settle arbitrarily — immutability is
    * only enforceable per observer there, as with any object store.
    */
  private def tagPath(tbl: Path, name: String) =
    new Path(logDir(tbl), s"_tag-$name.json")

  private val TagFileRe = """_tag-([A-Za-z0-9._-]+)\.json""".r

  /** Current tag map (name → pinned version). A tag deleted between
    * the glob and the open (concurrent [[deleteTag]]) reads as absent,
    * not as a crash — retention's tag-protection pass must proceed
    * without the deleted tag rather than abort.
    */
  def tags(spark: SparkSession, table: String): Map[String, Long] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    store(fs).list(fs, new Path(logDir(tbl), "_tag-*.json")).flatMap { st =>
      st.getPath.getName match {
        case TagFileRe(name) =>
          try Some(name -> mapper.readValue(
            new String(store(fs).read(fs, st.getPath), "UTF-8"),
            classOf[java.util.Map[String, Object]])
            .get("version").asInstanceOf[Number].longValue())
          catch { case _: java.io.FileNotFoundException => None }
        case _ => None
      }
    }.toMap
  }

  /** Pin `name` to `version` (default: latest) — an IMMUTABLE ref:
    * re-creating an existing name refuses (delete first to re-point,
    * the Iceberg tag discipline). The tagged version must resolve.
    * Returns the pinned version. Tagged versions are protected from
    * [[expireVersions]]/[[expireOlderThan]]: retention never expires
    * at or above the oldest tag.
    */
  def createTag(spark: SparkSession, table: String, name: String,
      version: Option[Long] = None): Long = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val dest = tagPath(tbl, name)
    require(!fs.exists(dest),
      s"tag '$name' already exists — tags are immutable (delete first)")
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    manifest(spark, table, v) // must resolve — no dangling tags
    fs.mkdirs(logDir(tbl))
    val root = new JLinkedHashMap[String, Object]()
    root.put("version", java.lang.Long.valueOf(v))
    if (!store(fs).publishExclusive(fs, dest,
        mapper.writeValueAsString(root).getBytes("UTF-8")))
      throw new IllegalArgumentException(
        s"tag '$name' already exists — tags are immutable (delete first)")
    v
  }

  def deleteTag(spark: SparkSession, table: String, name: String): Unit = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val p = tagPath(tbl, name)
    require(fs.exists(p), s"no tag '$name' on $table")
    fs.delete(p, false)
  }

  /** The table at a tagged version — `VERSION AS OF '<tag>'`. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val m = tags(spark, table)
    require(m.contains(name),
      s"no tag '$name' on $table (tags: ${m.keys.toSeq.sorted.mkString(", ")})")
    read(spark, table, Some(m(name)))
  }

  // ---- Branches: isolated writable forks (write-audit-publish) ---------

  private val BranchOpRe = """branch:(\d+)""".r

  /** The branch's own table path — a full snapshot table under
    * `<root>/_branches/<name>` that EVERY SnapshotLog API accepts
    * (commit, read, upsert, constraints, tags, compact, ...).
    */
  def branchPath(table: String, name: String): String =
    new Path(new Path(table), s"_branches/$name").toString

  def listBranches(spark: SparkSession, table: String): Seq[String] = {
    val broot = new Path(new Path(table), "_branches")
    val fs = fsOf(spark, new Path(table))
    if (!fs.exists(broot)) Nil
    else fs.listStatus(broot).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
  }

  /** Fork `table` at `fromVersion` (default latest) into a writable
    * BRANCH — the Iceberg write-audit-publish workflow: load lands on
    * the branch, audits (constraints, dedup checks, eval
    * decontamination) run against branch reads, and only
    * [[fastForward]] makes it visible on main. Branch v1 shares the
    * parent's files by REFERENCE (`__parent__/` marker — zero data
    * movement, zero copies); branch writes land under the branch's own
    * data dir. Root vacuum/expiry treat branch-referenced files as
    * live, so a fork can never be hollowed out underneath. Nested
    * branches (a branch of a branch) refuse.
    *
    * Returns the branch's table path.
    */
  def createBranch(spark: SparkSession, table: String, name: String,
      fromVersion: Option[Long] = None): String = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"branch name must be [A-Za-z0-9._-]+, got '$name'")
    require(!table.replace('\\', '/').contains("/_branches/"),
      "nested branches are not supported — branch from the root table")
    val v = fromVersion.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v)
    val bt = branchPath(table, name)
    require(latestVersion(spark, bt).isEmpty, s"branch '$name' already exists")
    val files = m.files.map(f => f.copy(path = ParentPrefix + f.path,
      dv = f.dv.map(d => d.copy(path = ParentPrefix + d.path))))
    val eqs = m.eqDeletes.map(e => e.copy(path = ParentPrefix + e.path))
    // op records the fork base — fastForward's no-main-advance check
    publish(fsOf(spark, new Path(bt)), new Path(bt),
      Manifest(1L, 0L, s"branch:$v", m.schemaDdl, files,
        physical = m.physical, eqDeletes = eqs, layout = m.layout))
    bt
  }

  /** Is this table path a branch fork (lives under `_branches/`)? */
  def isBranchPath(table: String): Boolean =
    table.replace('\\', '/').contains("/_branches/")

  /** The BRANCH version carrying the newest fork-base marker
    * (`branch:<v>` — v1 at creation, refreshed by [[rebaseBranch]]).
    * That version's snapshot IS the fork point, so "the branch's own
    * additions" are exactly the versions past it — the default start
    * for streaming a write-audit-publish branch. None when `table`
    * has no marker (not a branch).
    */
  def forkMarkerVersion(spark: SparkSession, table: String): Option[Long] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    var v = latestVersion(spark, table).getOrElse(return None)
    while (v >= 1) {
      if (BranchOpRe.pattern.matcher(readRaw(fs, tbl, v).op).matches())
        return Some(v)
      v -= 1
    }
    None
  }

  /** The branch's current fork base: the newest `branch:<v>` marker in
    * its history (v1 always carries one; [[rebaseBranch]] publishes a
    * fresh one).
    */
  private def branchBase(spark: SparkSession, bt: String, bv: Long): Long = {
    val fs = fsOf(spark, new Path(bt))
    var v = bv
    while (v >= 1) {
      // op rides the raw manifest header — no chain resolution needed
      readRaw(fs, new Path(bt), v).op match {
        case BranchOpRe(b) => return b.toLong
        case _ => v -= 1
      }
    }
    throw new IllegalStateException(s"branch $bt carries no fork-base marker")
  }

  /** Re-point an APPEND-ONLY branch at main's current latest — the
    * WAP answer to "main advanced while the load ran": the branch's
    * own additions are kept (by reference — metadata-only, no data
    * movement) on top of main's new state, and [[fastForward]] becomes
    * possible again. Branches that mutated shared history (delete,
    * upsert, overwrite, compact of parent files) refuse: their changes
    * are not mechanically replayable, re-fork and replay instead.
    */
  def rebaseBranch(spark: SparkSession, table: String, name: String): Long = {
    val bt = branchPath(table, name)
    val bv = latestVersion(spark, bt).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $table"))
    val base = branchBase(spark, bt, bv)
    // every op since the fork must be an append — anything else edited
    // shared history and cannot be replayed by reference (ops read from
    // the raw manifests, one read per version, no chain resolution)
    val btFs = fsOf(spark, new Path(bt))
    var v = bv
    var walking = true
    while (v >= 1 && walking) {
      val op = readRaw(btFs, new Path(bt), v).op
      if (BranchOpRe.pattern.matcher(op).matches()) walking = false
      else {
        require(op == "append" || op == "stream-append",
          s"branch '$name' v$v is '$op' — only append-only branches " +
            "rebase; re-fork and replay the mutation")
        v -= 1
      }
    }
    val rootLatest = latestVersion(spark, table).getOrElse(0L)
    require(rootLatest != base, s"branch '$name' is already based on main v$base")
    val bm = manifest(spark, bt, bv)
    val localAdds = bm.files.filterNot(_.path.startsWith(ParentPrefix))
    val rm = manifest(spark, table, rootLatest)
    // branch-local entries re-key their stats to MAIN's current logical
    // names via the shared physical namespace (main may have renamed a
    // column since the fork; physical names are rename-stable), and
    // RE-STAMP their sequence past both clocks: rebased additions land
    // logically AFTER main's history, so an equality delete main issued
    // while the branch ran must not swallow the branch's rows
    val rebasedSeq = math.max(lastSeq(rm), lastSeq(bm)) + 1
    val localRekeyed = rekeyEntries(localAdds, bm, rm)
      .map(_.copy(seq = rebasedSeq))
    val files = rm.files.map(f => f.copy(path = ParentPrefix + f.path,
      dv = f.dv.map(d => d.copy(path = ParentPrefix + d.path)))) ++ localRekeyed
    val nv = bv + 1
    publish(fsOf(spark, new Path(bt)), new Path(bt),
      Manifest(nv, bv, s"branch:$rootLatest", rm.schemaDdl, files,
        physical = rm.physical,
        eqDeletes = rm.eqDeletes.map(e => e.copy(path = ParentPrefix + e.path)),
        layout = rm.layout))
    nv
  }

  /** Re-key entry stats maps from `from`'s logical names to `to`'s,
    * joining on the rename-stable physical namespace.
    */
  private def rekeyEntries(entries: Seq[FileEntry], from: Manifest,
      to: Manifest): Seq[FileEntry] = {
    val fromSchema = org.apache.spark.sql.types.StructType.fromDDL(from.schemaDdl)
    val toByPhys = org.apache.spark.sql.types.StructType.fromDDL(to.schemaDdl)
      .fieldNames.map(l => physName(to, l) -> l).toMap
    val nameMap: Map[String, String] = fromSchema.fieldNames.flatMap { l =>
      toByPhys.get(physName(from, l)).map(l -> _) }.toMap
    if (nameMap.forall { case (a, b) => a == b }) entries
    else {
      def rekey[A](kv: Map[String, A]): Map[String, A] =
        kv.map { case (c, x) => nameMap.getOrElse(c, c) -> x }
      entries.map(f => f.copy(stats = rekey(f.stats), blooms = rekey(f.blooms),
        ndvs = rekey(f.ndvs), nulls = rekey(f.nulls)))
    }
  }

  /** Publish the branch's latest state as main's next version — the
    * WAP "publish" step, metadata-only (one manifest write, no data
    * movement). Requires main unchanged since the fork (or the last
    * [[rebaseBranch]]); otherwise rebase (append-only branches) or
    * re-fork and replay. Parent-referenced files return to their
    * root-relative form; branch-written files publish under their
    * `_branches/<name>/` location (a later root [[compact]] migrates
    * them into root data, after which [[dropBranch]] can reclaim the
    * fork).
    */
  def fastForward(spark: SparkSession, table: String, name: String): Long = {
    val bt = branchPath(table, name)
    val bv = latestVersion(spark, bt).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $table"))
    val base = branchBase(spark, bt, bv)
    val rootLatest = latestVersion(spark, table).getOrElse(0L)
    require(rootLatest == base,
      s"main advanced since branch '$name' forked (base v$base, main " +
        s"v$rootLatest) — rebaseBranch (append-only) or re-fork and replay")
    val bm = manifest(spark, bt, bv)
    def norm(p: String) =
      if (p.startsWith(ParentPrefix)) p.substring(ParentPrefix.length)
      else s"_branches/$name/$p"
    val files = bm.files.map(f => f.copy(path = norm(f.path),
      dv = f.dv.map(d => d.copy(path = norm(d.path)))))
    val v = rootLatest + 1
    publish(fsOf(spark, new Path(table)), new Path(table),
      Manifest(v, rootLatest, "fast-forward", bm.schemaDdl, files,
        physical = bm.physical,
        eqDeletes = bm.eqDeletes.map(e => e.copy(path = norm(e.path))),
        layout = bm.layout))
    v
  }

  /** Delete a branch directory whole. Refuses while any readable main
    * version still references branch-local files (a fast-forwarded
    * branch whose data a root [[compact]] has not yet migrated).
    */
  def dropBranch(spark: SparkSession, table: String, name: String): Unit = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    val bt = new Path(tbl, s"_branches/$name")
    require(fs.exists(bt), s"no branch '$name' on $table")
    val marker = s"_branches/$name/"
    val (entries, eqPaths) = allMentionedEntries(spark, fs, table)
    entries.foreach { f =>
      require(!f.path.startsWith(marker) &&
        !f.dv.exists(_.path.startsWith(marker)),
        s"main still references $marker files — compact main (and " +
          "expire old versions) before dropping the branch")
    }
    eqPaths.foreach(p => require(!p.startsWith(marker),
      s"main still references $marker equality deletes — compact main " +
        "(and expire old versions) before dropping the branch"))
    fs.delete(bt, true)
  }

  /** Every file entry any manifest of `bt` mentions — ONE `readRaw` per
    * manifest file (full lists and delta `add`s unioned), never a chain
    * resolution. Over-approximates live references (removed entries
    * stay in), which is exactly right for retention safety and costs
    * O(total manifest bytes) instead of O(versions × chain).
    */
  private def allMentionedEntries(spark: SparkSession, fs: FileSystem,
      bt: String): (Seq[FileEntry], Seq[String]) = {
    val btPath = new Path(bt)
    val ld = logDir(btPath)
    if (!fs.exists(ld)) (Nil, Nil)
    else {
      val raws = fs.listStatus(ld).map(_.getPath.getName)
        .collect { case ManifestNameRe(n) => n.toLong }
        .sorted.toSeq.flatMap { v =>
          try Some(readRaw(fs, btPath, v))
          catch { case _: java.io.FileNotFoundException => None }
        }
      (raws.flatMap(r => r.full.getOrElse(Nil) ++ r.add),
        raws.flatMap(_.eqDeletes.map(_.path)))
    }
  }

  /** Root-data paths (files, DV dirs) referenced by any version of any
    * branch — folded into root vacuum/expiry so a live fork's shared
    * base can never be deleted underneath it.
    */
  private def branchReferences(spark: SparkSession, tbl: Path,
      fs: FileSystem): (Set[String], Set[String]) = {
    val broot = new Path(tbl, "_branches")
    if (!fs.exists(broot)) (Set.empty, Set.empty)
    else {
      val mentioned = fs.listStatus(broot).filter(_.isDirectory).toSeq
        .map(b => allMentionedEntries(spark, fs, b.getPath.toString))
      val entries = mentioned.flatMap(_._1)
      val eqPaths = mentioned.flatMap(_._2)
      def norm(p: String): Option[String] =
        if (p.startsWith(ParentPrefix)) Some(p.substring(ParentPrefix.length))
        else None
      (entries.flatMap(f => norm(f.path)).toSet,
        entries.flatMap(_.dv.flatMap(d => norm(d.path))).toSet ++
          eqPaths.flatMap(norm))
    }
  }

  private val ConstraintErrMarker = "GRAFT_CONSTRAINT_VIOLATION: "

  /** Opt-in fast-fail probe before a constrained write: one
    * short-circuit `limit(1)` scan over the incoming rows, all
    * constraints tested in a single pass. A deterministic violation
    * then fails with ONE early-stopping scan instead of the in-write
    * guard's task failure, which cluster mode retries
    * `spark.task.maxFailures` times and re-runs sibling tasks' work
    * before the job aborts. DEFAULT OFF: the healthy-commit case pays
    * the probe as a full extra pass over the new rows (proving "no
    * violation" can't early-stop), and recomputes any expensive
    * upstream plan feeding the write — at 100 TB that tax on every
    * constrained commit outweighs the occasional fast failure. The
    * in-write `assert_true` guard stays authoritative either way (a
    * non-deterministic input can pass the probe and still violate at
    * write time).
    */
  val ConstraintPreProbeConf = "spark.graft.snapshot.constraintPreProbe"

  private def preProbeConstraints(df: DataFrame, table: String): Unit = {
    val enabled = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .exists(_.conf.get(ConstraintPreProbeConf, "false").toBoolean)
    if (!enabled) return
    val cons = constraints(df.sparkSession, table).toSeq.sortBy(_._1)
    if (cons.isEmpty) return
    val flags = cons.map { case (_, e) =>
      !coalesce(expr(e).cast("boolean"), lit(true)) }
    val hit = df
      .select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("__row") +:
        flags.zipWithIndex.map { case (f, i) => f.as(s"__v$i") }: _*)
      .where(flags.zipWithIndex.map { case (_, i) => col(s"__v$i") }
        .reduce(_ || _))
      .limit(1).collect()
    hit.headOption.foreach { r =>
      val i = cons.indices.find(i => r.getBoolean(i + 1)).get
      val (name, e) = cons(i)
      throw new IllegalArgumentException(
        s"constraint '$name' ($e) violated by incoming row ${r.getString(0)}")
    }
  }

  /** Attach every registered constraint to a to-be-written plan as a
    * fail-on-violation guard evaluated on the rows ACTUALLY WRITTEN —
    * Delta's invariant-enforcement shape (`CheckDeltaInvariant`). A
    * pre-write probe pass can be fooled by a non-deterministic input
    * (rand()-derived columns, source files changing between probe and
    * write); this cannot: `assert_true` rides the written projection
    * itself, so a violating row aborts the write job before any
    * manifest publishes. The guard filter keeps every row (assert_true
    * is NULL when the check passes) and costs one codegen'd predicate
    * per constraint per row.
    */
  private def constraintGuard(df: DataFrame, table: String): DataFrame = {
    val cons = constraints(df.sparkSession, table)
    if (cons.isEmpty) df
    else {
      val rowJson = to_json(struct(df.columns.map(col).toIndexedSeq: _*))
      val checks = cons.toSeq.sortBy(_._1).map { case (name, e) =>
        assert_true(coalesce(expr(e).cast("boolean"), lit(true)),
          concat(lit(s"${ConstraintErrMarker}constraint '$name' ($e) " +
            "violated by incoming row "), rowJson)).isNull
      }
      df.where(checks.reduce(_ && _))
    }
  }

  /** Surface a write-side constraint failure as the registration-time
    * exception type, with the guard's message (constraint name + the
    * violating row) extracted from the task-failure cause chain.
    */
  private def rethrowConstraint(ex: Throwable): Nothing = {
    var cur: Throwable = ex
    var seen = 0
    while (cur != null && seen < 20) {
      val msg = cur.getMessage
      if (msg != null && msg.contains(ConstraintErrMarker)) {
        val at = msg.indexOf(ConstraintErrMarker)
        throw new IllegalArgumentException(
          msg.substring(at + ConstraintErrMarker.length), ex)
      }
      cur = cur.getCause
      seen += 1
    }
    throw ex
  }

  /** Highest stream epoch recorded at or before `v` (walks parents until
    * a stream commit; O(history) worst case, O(1) for a stream-only
    * table).
    */
  private def maxEpoch(spark: SparkSession, table: String, v: Long): Long = {
    var cur = v
    while (cur >= 1) {
      val m = manifest(spark, table, cur)
      if (m.epoch >= 0) return m.epoch
      cur = m.parent
    }
    -1L
  }

  /** Metadata-only table aggregates, answered from the manifest without
    * reading ANY data file — O(1) in table size. `rows`/`bytes`/`files`
    * sum the manifest entries (rows net of deletion-vector masks);
    * `colRanges` folds per-file [min,max]. The ranges are EXACT for
    * DV-free tables, not approximate: a file absent from a column's
    * stats was all-null at commit time (see [[FileEntry]]), so it
    * contributes no non-null value to the true min/max either. Under a
    * deletion vector they degrade to conservative BOUNDS (a masked row
    * may have held the extremum) — still sound for pruning; `deletedRows`
    * reports the outstanding mask debt [[compact]] would clear. The
    * 100 TB win: `SELECT count(*), min(k), max(k)` costs one small JSON
    * read — the Iceberg metadata-query capability.
    */
  /** `approxNdv`: metadata-only approximate COUNT(DISTINCT col) — the
    * per-file KMV sketches merge exactly (k smallest of the union IS
    * the global k-smallest set), so the estimate equals what a single
    * KMV over the whole column would report, computed from the manifest
    * alone. A column reports only when every live row is covered (each
    * file with rows carries the sketch — mixed histories omit it rather
    * than under-count); DV masks are NOT subtracted (a masked row may
    * hold a distinct value — the estimate is for the written data,
    * an upper picture until [[compact]] materializes the masks).
    * Exact (not estimated) when fewer than [[NdvK]] distinct hashes
    * exist. Rounded to 4 decimals, the sketch-family convention.
    */
  /** `nullCounts` answers SELECT count(*) WHERE c IS NULL from
    * metadata alone — present only for columns every (non-empty) file
    * recorded a null count for, so it is exact over written rows
    * (deletion-vector masks are not netted out; like colRanges, the
    * stat describes the files as written).
    */
  /** `eqDeleteKeys`: outstanding equality-delete key count — `rows` is
    * an UPPER bound while it is non-zero (a masked row's membership is
    * only known by reading; [[compact]] materializes and zeroes it).
    */
  final case class TableStats(version: Long, rows: Long, bytes: Long,
      files: Int, colRanges: Map[String, (Any, Any)], deletedRows: Long = 0L,
      approxNdv: Map[String, Double] = Map.empty,
      nullCounts: Map[String, Long] = Map.empty, eqDeleteKeys: Long = 0L)

  def tableStats(spark: SparkSession, table: String,
      version: Option[Long] = None): TableStats = {
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v)
    val ranges = m.files.flatMap(_.stats.toSeq)
      .groupBy(_._1).map { case (c, pairs) =>
        c -> pairs.map(_._2).reduce[(Any, Any)] { case ((mn1, mx1), (mn2, mx2)) =>
          (if (cmp(mn1, mn2) <= 0) mn1 else mn2,
            if (cmp(mx1, mx2) >= 0) mx1 else mx2)
        }
      }
    val ndv = m.files.flatMap(_.ndvs.keys).toSet.toSeq
      .filter(c => m.files.forall(f => f.rows == 0 || f.ndvs.contains(c)))
      .map { c =>
        val union = m.files.flatMap(_.ndvs.get(c).toSeq.flatMap(
          b64 => bloomDecode(b64).toSeq)).distinct.sorted
        val kmin = union.take(NdvK)
        val est =
          if (kmin.length < NdvK) kmin.length.toDouble
          else math.floor(
            (NdvK - 1) * 4294967296.0 / kmin.last * 1e4 + 0.5) / 1e4
        c -> est
      }.toMap
    val nulls = m.files.flatMap(_.nulls.keys).toSet.toSeq
      .filter(c => m.files.forall(f => f.rows == 0 || f.nulls.contains(c)))
      .map(c => c -> m.files.flatMap(_.nulls.get(c)).sum).toMap
    TableStats(v, m.files.map(liveRows).sum, m.files.map(_.bytes).sum,
      m.files.size, ranges, m.files.flatMap(_.dv.map(_.rows)).sum, ndv,
      nulls, m.eqDeletes.map(_.rows).sum)
  }

  /** The manifest as a DataFrame — the Iceberg `table.files` metadata
    * table: one row per live data file with row/byte accounting, DV
    * presence, and (for the requested columns) min/max rendered as
    * strings plus exact null counts. Metadata-only: answers "where is
    * the small-file debt", "how tight are the layout's intervals",
    * "which files still carry masks" without opening a data file —
    * the ops-tooling face of the manifest at any table size.
    */
  def fileManifest(spark: SparkSession, table: String,
      version: Option[Long] = None, cols: Seq[String] = Nil): DataFrame = {
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v)
    val base = org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, rows BIGINT, live_rows BIGINT, bytes BIGINT, has_dv BOOLEAN")
    val colFields = cols.flatMap(c => Seq(
      org.apache.spark.sql.types.StructField(s"min_$c",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(s"max_$c",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(s"nulls_$c",
        org.apache.spark.sql.types.LongType)))
    val schema = org.apache.spark.sql.types.StructType(base.fields ++ colFields)
    val data = m.files.map { f =>
      val fixed = Seq[Any](f.path, f.rows, liveRows(f), f.bytes, f.dv.isDefined)
      val per = cols.flatMap { c =>
        val (mn, mx) = f.stats.get(c)
          .map { case (a, b) => (String.valueOf(a), String.valueOf(b)) }
          .getOrElse((null, null))
        Seq[Any](mn, mx, f.nulls.get(c).map(Long.box).orNull)
      }
      org.apache.spark.sql.Row.fromSeq(fixed ++ per)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](data.asJava), schema)
  }

  /** Optimistic-concurrency commit: data files land ONCE, then the
    * manifest publication retries under version conflicts — a losing
    * committer pays a manifest re-read and a new rename attempt, never
    * a data rewrite (its files are version-attempt-named but manifests
    * reference paths opaquely, so they publish under any version).
    * This is the multi-writer contract: N concurrent appenders all
    * succeed, serialized by the rename CAS, history stays linear.
    */
  def commitWithRetry(df: DataFrame, table: String, mode: String = "append",
      statsCols: Seq[String] = Nil, maxAttempts: Int = 20): Long = {
    require(mode == "append" || mode == "overwrite", s"bad mode $mode")
    val spark = df.sparkSession
    val tbl = new Path(table)
    var v = latestVersion(spark, table).getOrElse(0L) + 1
    // same append-schema conformance as [[commitAs]]; data files are
    // written ONCE with the start-time column set, but the DDL published
    // re-reads the parent on every attempt — a concurrent evolveSchema
    // landing mid-retry only ADDS nullable columns, which this commit's
    // files legitimately serve as NULL, so the widened schema must not
    // be lost to a racing append
    val physAtWrite =
      if (mode == "append" && v > 1) manifest(spark, table, v - 1).physical
      else Map.empty[String, String]
    val aligned =
      if (mode == "append" && v > 1)
        alignToSchema(df, manifest(spark, table, v - 1).schemaDdl)
      else df
    val layoutAtWrite =
      if (mode == "append" && v > 1) manifest(spark, table, v - 1).layout
      else None
    val newFiles = writeData(applyLayout(aligned, layoutAtWrite), table, v,
      statsCols, physical = physAtWrite)
    var attempt = 1
    while (true) {
      val (prior, ddl, phys, eqs, seqNow, layout) =
        if (mode == "append" && v > 1) {
          val p = manifest(spark, table, v - 1)
          // our columns must still conform (evolution is additive-only,
          // so this can only fail against an outside-protocol rewrite)
          require(aligned.columns.toSet.subsetOf(
            org.apache.spark.sql.types.StructType.fromDDL(p.schemaDdl)
              .fieldNames.toSet),
            s"table schema diverged mid-retry: ${p.schemaDdl}")
          // a rename landing mid-retry changes the physical layout new
          // files must carry — our files were written under the OLD
          // mapping of columns we share, so require those unchanged
          aligned.columns.foreach { c =>
            val mine = physAtWrite.getOrElse(c, c)
            // our column may itself have been renamed: its physical
            // name must still map back to SOME current logical column
            val curLogical = p.physical.collectFirst {
              case (l, ph) if ph == mine => l }.getOrElse(mine)
            require(p.physical.getOrElse(curLogical, curLogical) == mine,
              s"column mapping diverged mid-retry for '$c'")
          }
          (p.files, p.schemaDdl, p.physical, p.eqDeletes, lastSeq(p) + 1,
            p.layout)
        } else (Nil, aligned.schema.toDDL, Map.empty[String, String],
          Nil: Seq[EqDelete], 1L, None)
      try {
        publish(fsOf(spark, tbl), tbl,
          Manifest(v, v - 1, mode, ddl,
            prior ++ newFiles.map(_.copy(seq = seqNow)), physical = phys,
            eqDeletes = eqs, layout = layout))
        return v
      } catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxAttempts) throw e
          casBackoff(attempt) // see writeConstraints: visibility lag
          v = latestVersion(spark, table).getOrElse(0L) + 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Newest version whose manifest was published at or before
    * `tsMillis` — the TIMESTAMP AS OF half of time travel. Publish
    * timestamps are monotone (non-strict) along the version chain
    * because commits serialize on the rename CAS, so the walk down from
    * latest stops at the first qualifying version. None when the table
    * didn't exist yet at `tsMillis` (or that history has been expired —
    * retention bounds how far back a timestamp can resolve, exactly as
    * in Delta/Iceberg).
    */
  def versionAt(spark: SparkSession, table: String,
      tsMillis: Long): Option[Long] = {
    val tbl = new Path(table)
    val fs = fsOf(spark, tbl)
    var v = latestVersion(spark, table).getOrElse(return None)
    while (v >= 1) {
      val raw =
        try readRaw(fs, tbl, v)
        catch { case _: java.io.FileNotFoundException => return None } // expired
      if (raw.ts <= tsMillis) return Some(v)
      v -= 1
    }
    None
  }

  /** The table as of a wall-clock instant (epoch millis). */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAt(spark, table, tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no version of $table existed at t=$tsMillis (or it has been expired)"))))

  /** Metadata-only schema evolution: publish a new version with the SAME
    * data files and a widened schema — adding a column to a 100 TB table
    * costs one manifest write, zero data movement. Pre-evolution files
    * serve NULL for added columns (the explicit-schema parquet read
    * yields exactly that, see [[readFilesRaw]]), so no backfill pass is
    * ever required. Only ADDITIVE evolution is allowed: every existing
    * column keeps its name and exact type, and added columns must be
    * nullable (old files have no values for them). Renames, drops, and
    * type changes are rejected loudly — parquet pages are immutable, and
    * silent coercion is how tables corrupt. Time travel to a
    * pre-evolution version reads the OLD schema (each manifest carries
    * its own DDL). Returns the new version.
    */
  def evolveSchema(spark: SparkSession, table: String, newDdl: String): Long =
    publishMetadata(spark, table) { m =>
      val oldS = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      val newS = org.apache.spark.sql.types.StructType.fromDDL(newDdl)
      oldS.fields.foreach { f =>
        val nf = newS.fields.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"schema evolution cannot drop or rename column '${f.name}'"))
        require(nf.dataType == f.dataType,
          s"schema evolution cannot change column '${f.name}' from " +
            s"${f.dataType.sql} to ${nf.dataType.sql}")
      }
      val added = newS.fields.filterNot(f => oldS.fieldNames.contains(f.name))
      require(added.nonEmpty, "schema evolution must add at least one column")
      added.foreach(f => require(f.nullable,
        s"added column '${f.name}' must be nullable — existing files hold no values for it"))
      // a new column's physical name defaults to its own name — but
      // when that slot is occupied (a RENAMED column still writes
      // under it, or a DROPPED column's tombstone reserves it), the
      // new column gets a FRESH version-stamped physical name instead:
      // old files provably hold no values under it, so they serve the
      // re-added column as NULL rather than aliasing another column's
      // bytes or resurrecting dropped values
      val physInUse = oldS.fieldNames.map(c => m.physical.getOrElse(c, c))
        .toSet ++ m.physical.values
      val freshNames = added.collect {
        case f if physInUse.contains(f.name) =>
          val fresh = s"${f.name}__r${m.version + 1}"
          require(!physInUse.contains(fresh),
            s"cannot allocate physical name '$fresh' for added column " +
              s"'${f.name}' — it is already in use")
          f.name -> fresh
      }.toMap
      Manifest(m.version + 1, m.version, "evolve-schema", newS.toDDL, m.files,
        physical = m.physical ++ freshNames, eqDeletes = m.eqDeletes,
        layout = m.layout)
    }

  /** Metadata-only column rename (Iceberg/Delta column-mapping core):
    * one manifest write, ZERO data movement — old files keep serving
    * under the new name because the column's PHYSICAL name (its name at
    * first write) never changes; reads alias physical → logical and
    * writes alias back ([[Manifest.physical]]). Manifest stats re-key
    * to the new logical name so every pruning path (ranges, Blooms,
    * NDV, null counts) survives the rename untouched. Time travel
    * serves each version under ITS OWN names. Top-level columns only;
    * the new name must be free in both the logical and physical
    * namespaces; columns referenced by a CHECK constraint refuse (the
    * constraint expression would silently dangle — drop it first).
    * Returns the new version.
    */
  def renameColumn(spark: SparkSession, table: String, oldName: String,
      newName: String): Long =
    publishMetadata(spark, table) { m =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      require(schema.fieldNames.contains(oldName),
        s"no column '$oldName' in ${schema.fieldNames.toSeq}")
      require(oldName != newName, "rename to the same name is a no-op")
      require(!schema.fieldNames.contains(newName),
        s"column '$newName' already exists")
      val physInUse = schema.fieldNames.filter(_ != oldName)
        .map(c => m.physical.getOrElse(c, c)).toSet
      require(!physInUse.contains(newName),
        s"'$newName' collides with another column's physical name")
      // a registered CHECK referencing the old name would dangle
      val word = ("\\b" + java.util.regex.Pattern.quote(oldName) + "\\b").r
      constraints(spark, table).foreach { case (n, e) =>
        require(word.findFirstIn(e).isEmpty,
          s"column '$oldName' is referenced by constraint '$n' ($e) — " +
            "drop the constraint before renaming")
      }
      val phys = m.physical.getOrElse(oldName, oldName)
      val newPhysical = {
        val moved = (m.physical - oldName) + (newName -> phys)
        moved.filter { case (l, p) => l != p } // identity entries drop
      }
      val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
        f => if (f.name == oldName) f.copy(name = newName) else f))
      def rekey[A](kv: Map[String, A]): Map[String, A] =
        kv.map { case (c, x) => (if (c == oldName) newName else c) -> x }
      val files = m.files.map(f => f.copy(stats = rekey(f.stats),
        blooms = rekey(f.blooms), ndvs = rekey(f.ndvs), nulls = rekey(f.nulls)))
      // a declared layout follows its columns through the rename, like
      // the stats maps
      val newLayout = m.layout.map(ls => ls.copy(cols =
        ls.cols.map(c => if (c == oldName) newName else c)))
      // eq-delete refs carry unchanged: their key is the PHYSICAL name
      Manifest(m.version + 1, m.version, "rename-column", newSchema.toDDL,
        files, physical = newPhysical, eqDeletes = m.eqDeletes,
        layout = newLayout)
    }

  /** Metadata-only column DROP (the column-mapping complement of
    * [[renameColumn]] and [[evolveSchema]]): one manifest write, zero
    * data movement — existing files keep their physical bytes, reads
    * simply stop projecting them, and time travel serves every prior
    * version WITH the column. The dropped column's PHYSICAL name stays
    * reserved by a tombstone mapping entry (`__dropped__<phys>` →
    * phys), so a later [[evolveSchema]] re-adding the same logical
    * name cannot collide with the old bytes — pre-drop files serve the
    * re-added column as NULL instead of resurrecting deleted values.
    * Refuses: the table's last column; a column referenced by a CHECK
    * constraint (it would dangle) or by the declared layout
    * (clearLayout first); the key of an outstanding equality delete
    * (the read-side anti-join needs the column — compact first). A
    * running stream that never selected the column continues through
    * the drop (era-aligned: the file-diff is exact over a
    * metadata-only op); only a stream that SELECTED it refuses.
    * Incremental batch reads spanning it refuse loudly; the change
    * feed composes (its end-schema alignment projects the column
    * away). Returns the new version.
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Long =
    publishMetadata(spark, table) { m =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      require(schema.fieldNames.contains(name),
        s"no column '$name' in ${schema.fieldNames.toSeq}")
      require(schema.fields.length > 1, "cannot drop the table's last column")
      val word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
      constraints(spark, table).foreach { case (n, e) =>
        require(word.findFirstIn(e).isEmpty,
          s"column '$name' is referenced by constraint '$n' ($e) — " +
            "drop the constraint before dropping the column")
      }
      m.layout.foreach(ls => require(!ls.cols.contains(name),
        s"column '$name' is part of the declared $ls layout — " +
          "clearLayout (or re-declare) first"))
      val phys = m.physical.getOrElse(name, name)
      require(!m.eqDeletes.exists(_.keyCol.split(",").contains(phys)),
        s"column '$name' keys outstanding equality deletes — the " +
          "read-side anti-join needs it; compact first")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == name))
      val newPhysical = (m.physical - name) + (s"__dropped__$phys" -> phys)
      def strip[A](kv: Map[String, A]): Map[String, A] = kv - name
      val files = m.files.map(f => f.copy(stats = strip(f.stats),
        blooms = strip(f.blooms), ndvs = strip(f.ndvs),
        nulls = strip(f.nulls)))
      Manifest(m.version + 1, m.version, "drop-column", newSchema.toDDL,
        files, physical = newPhysical, eqDeletes = m.eqDeletes,
        layout = m.layout)
    }

  /** Metadata-only rollback: republish `toVersion`'s exact file list as
    * a NEW version — no data file is read, moved, or rewritten, so
    * restoring a 100 TB table costs one manifest write. History is
    * append-only (the bad versions stay readable, and a restore is
    * itself undoable by another restore). Returns the new version.
    */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val v0 = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val target = manifest(spark, table, toVersion)
    val v = v0 + 1
    publish(fsOf(spark, new Path(table)), new Path(table),
      Manifest(v, v0, "restore", target.schemaDdl, target.files,
        physical = target.physical, eqDeletes = target.eqDeletes,
        layout = target.layout))
    v
  }

  /** The commit log as a DataFrame — version, parent, op, stream epoch,
    * file count, row count, byte size per version (the DESCRIBE HISTORY
    * shape). Driver-side walk of the (small) manifests; row count =
    * versions, not data.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val latest = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    (1L to latest).flatMap { v =>
      // an expired prefix ([[expireVersions]]) simply drops out of the log
      try {
        val m = manifest(spark, table, v)
        Some((m.version, m.parent, m.op, m.epoch, m.files.size.toLong,
          m.files.map(liveRows).sum, m.files.map(_.bytes).sum))
      } catch { case _: java.io.FileNotFoundException => None }
    }.toDF("version", "parent", "op", "epoch", "n_files", "n_rows", "n_bytes")
  }

  /** Incremental read: rows added after `fromVersion` (exclusive) up to
    * `toVersion` (inclusive, default latest) — the data files present in
    * the target manifest but not the base, so an incremental consumer
    * reads ONLY the new data regardless of table size. Exact for
    * append-only histories — including metadata-only DDL (evolve-
    * schema / rename-column / drop-column), which moves no files; rows
    * serve under the END schema, the same era alignment the change
    * feed applies. Refuses (loudly) if any covered version rewrote or
    * removed files (overwrite/delete/upsert/compact), where an
    * added-file diff would double-count rewritten rows — the
    * downstream there is a fresh full read. This is the batch form of
    * "table as a stream": checkpoint = last version consumed.
    */
  def readChanges(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    require(fromVersion >= 0 && fromVersion <= to,
      s"bad version range ($fromVersion, $to]")
    val target = manifest(spark, table, to)
    if (fromVersion == 0) return readFiles(spark, table, target, target.files)
    // same retention contract as [[readChangeFeed]]: a checkpoint below
    // retained history refuses with the recovery action (expiry is
    // prefix-contiguous, so the range start is the only version that
    // can be missing)
    val base =
      try manifest(spark, table, fromVersion)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new ChangeFeedExpiredException(
            s"incremental read over ($fromVersion, $to] of $table is not " +
              "servable: the range start has been expired by retention — " +
              "re-bootstrap (full copy of the current snapshot) and resume " +
              s"from that version (${e.getMessage})")
      }
    ((fromVersion + 1) to to).foreach { v =>
      val op = manifest(spark, table, v).op
      // metadata-only DDL (evolve/rename/drop) moves no files, so the
      // added-file diff stays exact; rows serve under the END schema —
      // the same era alignment the change feed and the stream apply
      // (physical names are rename-stable; dropped columns project
      // away; added columns null-fill in pre-evolution files)
      require(op == "append" || op == "stream-append" ||
        op == "evolve-schema" || op == "rename-column" ||
        op == "drop-column",
        s"version $v is '$op': file-diff changes are only exact over " +
          "append-only history — re-read the snapshot instead")
    }
    val basePaths = base.files.map(_.path).toSet
    readFiles(spark, table, target,
      target.files.filterNot(f => basePaths(f.path)))
  }

  /** Files among `cand0` whose [min,max] stats window for `lk` can
    * contain at least one key — ONE tiny aggregate over the keys frame
    * answers every file at once (a stats-less file is always a
    * candidate; zero keys → no candidates).
    */
  private def statsCandidates(keys: DataFrame, lk: String,
      cand0: Seq[FileEntry]): Seq[FileEntry] =
    statsCandidates(keys, Seq(lk), cand0)

  private def statsCandidates(keys: DataFrame, lks: Seq[String],
      cand0: Seq[FileEntry]): Seq[FileEntry] =
    if (cand0.isEmpty) Nil
    else {
      val probe = keys.agg(count(lit(1)).cast("long").as("__n"),
        containmentChecks(cand0, lks): _*).head
      if (probe.getLong(0) == 0L) Nil
      else cand0.zipWithIndex.collect {
        case (f, i) if !probe.isNullAt(i + 1) &&
          probe.getInt(i + 1) == 1 => f
      }
    }

  /** Row-level change feed over (fromVersion, toVersion] — the Delta
    * `table_changes` capability: every committed version contributes
    * its row-level `insert`s and `delete`s (an update = delete+insert
    * pair), each stamped `_commit_version`, over ANY op — append, CoW
    * delete, DV delete, upsert, CDC apply, restore, compact (which
    * contributes nothing: a rewrite that preserves content is not a
    * logical change).
    *
    * Per version the diff touches ONLY the files that changed hands:
    * entries added, entries removed, and entries whose deletion vector
    * changed (same path + same DV = identical immutable content —
    * skipped without a read). Inserts are `new \ old` and deletes
    * `old \ new` as MULTISETS, computed by ONE signed-weight
    * aggregation per version (union with ±1 weights, sum per distinct
    * row, replicate by |delta| — the exceptAll-pair semantics at half
    * the scans and shuffles), so rewrites that carry most rows forward
    * emit only the actual delta. Cost scales with the changed files
    * per version, never the table — at 100 TB a daily CDC consumer
    * reads the day's churn only.
    *
    * Ranges may span schema evolution and column renames: every
    * version's rows align to the END version's schema (renames map
    * through the rename-stable physical namespace; columns the old
    * version lacked fill with NULL). The feed's schema is the end
    * schema + (`_change_type` string, `_commit_version` long).
    */
  def readChangeFeed(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    require(fromVersion >= 0 && fromVersion <= to,
      s"bad version range ($fromVersion, $to]")
    // a range whose start predates retained history cannot be served
    // incrementally (expiry removed the manifests AND the data files
    // those versions pinned) — fail with the recovery action, not a
    // raw missing-file error from deep inside the version walk
    if (to > fromVersion)
      try { manifest(spark, table, math.max(fromVersion, 1L)); () }
      catch {
        case e: java.io.FileNotFoundException =>
          throw new ChangeFeedExpiredException(
            s"change feed over ($fromVersion, $to] of $table is not " +
              "servable: the range start has been expired by retention — " +
              "a consumer this far behind cannot catch up incrementally; " +
              "re-bootstrap (full copy of the current snapshot) and " +
              s"resume the feed from that version (${e.getMessage})")
      }
    val end = manifest(spark, table, to)
    val endSchema = org.apache.spark.sql.types.StructType.fromDDL(end.schemaDdl)
    // align a version's logical columns to the END version's, joining
    // on physical names (rename-stable); absent columns null-fill
    def aligned(df: DataFrame, m: Manifest): DataFrame = {
      val byPhys = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        .fieldNames.map(c => physName(m, c) -> c).toMap
      df.select(endSchema.fields.toIndexedSeq.map { f =>
        byPhys.get(physName(end, f.name)) match {
          case Some(c) => col(c).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }: _*)
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], endSchema)
    // walk once: each version's resolved manifest is the next one's
    // parent, so the metadata cost is O(range), not O(range × chain)
    var parent: Option[Manifest] =
      if (fromVersion == 0) None else Some(manifest(spark, table, fromVersion))
    val perVersion = ((fromVersion + 1) to to).flatMap { v =>
      val m = manifest(spark, table, v)
      val parentFiles = parent.map(_.files).getOrElse(Nil)
      val pm = parent
      parent = Some(m)
      val pBy = parentFiles.map(f => f.path -> f).toMap
      val nBy = m.files.map(f => f.path -> f).toMap
      // changed hands: removed, added, or same path with a different DV
      val oldSide = parentFiles.filter(f => !nBy.get(f.path).exists(_.dv == f.dv))
      val newSide = m.files.filter(f => !pBy.get(f.path).exists(_.dv == f.dv))
      val entryPart: Option[DataFrame] =
        if (oldSide.isEmpty && newSide.isEmpty) None
        else if (oldSide.isEmpty)
          Some(aligned(readFiles(spark, table, m, newSide), m)
            .withColumn("_change_type", lit("insert")))
        else if (newSide.isEmpty)
          Some(aligned(readFiles(spark, table, pm.get, oldSide), pm.get)
            .withColumn("_change_type", lit("delete")))
        else {
          // FUSED multiset diff. The old shape was an exceptAll PAIR
          // (`new\old` inserts, `old\new` deletes); Catalyst rewrites
          // each exceptAll into union→aggregate→replicate, so the pair
          // scanned both sides twice and shuffled twice per changed
          // version — the dominant residual cost of CDC mirroring.
          // One signed-weight aggregation computes BOTH directions:
          // per distinct row, d = count_new − count_old; d > 0 emits d
          // inserts, d < 0 emits −d deletes — exactly the exceptAll
          // pair's multiset semantics (NULL/NaN grouping equality
          // matches what exceptAll's own aggregate used), with each
          // side scanned once and ONE exchange per changed version.
          // No digest proxy: the diff stays exact by construction.
          val oldDf = aligned(readFiles(spark, table, pm.get, oldSide), pm.get)
          val newDf = aligned(readFiles(spark, table, m, newSide), m)
          val w = "__graft_cf_w"
          val d = "__graft_cf_d"
          val delta = newDf.withColumn(w, lit(1L))
            .unionByName(oldDf.withColumn(w, lit(-1L)))
            .groupBy(endSchema.fieldNames.toIndexedSeq.map(col): _*)
            .agg(sum(col(w)).as(d))
            .where(col(d) =!= 0L)
          Some(delta
            .withColumn("__graft_cf_i",
              explode(sequence(lit(1L), abs(col(d)))))
            .select((endSchema.fieldNames.toIndexedSeq.map(col) :+
              when(col(d) > 0L, lit("insert")).otherwise(lit("delete"))
                .as("_change_type")): _*))
        }
      // an equality delete added this version masks rows of PRIOR files
      // without touching their entries: feed them as deletes — the rows
      // visible under the PARENT state (its own DV/eq applied) in
      // stats-candidate files only, semi-joined to the new key set
      val parentEqPaths = pm.map(_.eqDeletes.map(_.path).toSet)
        .getOrElse(Set.empty[String])
      val eqAdded = m.eqDeletes.filterNot(e => parentEqPaths(e.path))
      val eqPart: Option[DataFrame] =
        if (eqAdded.isEmpty || pm.isEmpty) None
        else {
          val pmm = pm.get
          val frames = eqAdded.flatMap { e =>
            val (physKeys, logicalKeys) = eqKeyCols(pmm, e)
            val keys0 = spark.read.parquet(
              resolveRel(new Path(table), e.path).toString)
            val keys = physKeys.zip(logicalKeys).foldLeft(keys0) {
              case (k, (p, l)) => k.withColumnRenamed(p, l) }
            val cand = statsCandidates(keys, logicalKeys,
              pmm.files.filter(_.seq < e.seq))
            if (cand.isEmpty) None
            else Some(aligned(
              readFiles(spark, table, pmm, cand)
                .join(keys.select(logicalKeys.map(col): _*).distinct(),
                  logicalKeys, "left_semi"),
              pmm).withColumn("_change_type", lit("delete")))
          }
          if (frames.isEmpty) None else Some(frames.reduce(_ unionByName _))
        }
      // an equality delete REMOVED this version (a restore to a pre-MOR
      // state) un-masks rows of files that did NOT change hands: feed
      // them as inserts — rows of still-present files the dropped
      // delete(s) had masked, read under the NEW manifest (remaining
      // DV/eq masks applied, so rows still masked stay out), restricted
      // to the dropped key sets. Files whose entries DID change hands
      // already flow through the entry diff above. Files group by WHICH
      // dropped deletes apply (their seq bucket), so a row re-surfaces
      // exactly once however many dropped deletes named it.
      val newEqPaths = m.eqDeletes.map(_.path).toSet
      val eqRemoved = pm.map(_.eqDeletes.filterNot(e => newEqPaths(e.path)))
        .getOrElse(Nil)
      val eqRemovedPart: Option[DataFrame] =
        if (eqRemoved.isEmpty) None
        else {
          val stillThere = m.files.filter(f =>
            pBy.get(f.path).exists(_.dv == f.dv))
          val frames = stillThere
            .groupBy(f => eqRemoved.filter(_.seq > f.seq).map(_.path).toSet)
            .collect { case (paths, grp) if paths.nonEmpty =>
              (eqRemoved.filter(e => paths(e.path)), grp) }
            .toSeq.flatMap { case (dels, grp) =>
              val keyFrames = dels.groupBy(_.keyCol).toSeq
                .map { case (_, ds) =>
                  val (physKeys, lks) = eqKeyCols(m, ds.head)
                  val keys0 = ds.map(d => spark.read.parquet(
                      resolveRel(new Path(table), d.path).toString))
                    .reduce(_ unionByName _)
                  val keys = physKeys.zip(lks).foldLeft(keys0) {
                      case (k, (p, l)) => k.withColumnRenamed(p, l) }
                    .select(lks.map(col): _*).distinct()
                  (lks, keys)
                }
              val cand = keyFrames
                .flatMap { case (lks, keys) => statsCandidates(keys, lks, grp) }
                .distinct
              if (cand.isEmpty) None
              else {
                // left-join markers (keys are distinct) keep multiset
                // semantics exact under several dropped key columns:
                // a row re-surfaces iff SOME dropped set named it
                val base = readFiles(spark, table, m, cand)
                val marked = keyFrames.zipWithIndex.foldLeft(base) {
                  case (df, ((lks, keys), i)) =>
                    df.join(keys.withColumn(s"__eqr$i", lit(1)),
                      lks, "left")
                }
                val hit = keyFrames.indices
                  .map(i => col(s"__eqr$i") === 1).reduce(_ || _)
                Some(aligned(marked.where(hit)
                    .drop(keyFrames.indices.map(i => s"__eqr$i"): _*), m)
                  .withColumn("_change_type", lit("insert")))
              }
            }
          if (frames.isEmpty) None else Some(frames.reduce(_ unionByName _))
        }
      (entryPart.toSeq ++ eqPart.toSeq ++ eqRemovedPart.toSeq)
        .reduceOption(_ unionByName _)
        .map(_.withColumn("_commit_version", lit(v)))
    }
    if (perVersion.isEmpty)
      empty.withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)).limit(0)
    else perVersion.reduce(_ unionByName _)
  }

  /** Incremental table-to-table replication: pull the source versions
    * `dst` hasn't seen and append them as ONE commit, recording the
    * consumed source version in the destination manifest's epoch field —
    * the same replay ledger [[appendStreamBatch]] uses, so replication
    * is exactly-once and resumable with NO external checkpoint: crash
    * after data-write but before publish leaves only vacuumable
    * orphans; a re-run re-reads the checkpoint from `dst` itself.
    * Source must be append-only over the replicated range
    * ([[readChanges]] enforces it loudly); the destination should be
    * owned by this replication (direct stream-appends would share the
    * epoch ledger). Cost per pull is the NEW source data only — the
    * 100 TB mirror-keeping shape. Returns (source version consumed,
    * new destination version), or None when already up to date.
    */
  def replicateChanges(spark: SparkSession, src: String, dst: String,
      statsCols: Seq[String] = Nil): Option[(Long, Long)] = {
    val srcV = latestVersion(spark, src).getOrElse(return None)
    val dstV0 = latestVersion(spark, dst).getOrElse(0L)
    val ckpt = if (dstV0 == 0L) -1L else maxEpoch(spark, dst, dstV0)
    if (ckpt >= srcV) return None
    val changes = readChanges(spark, src, math.max(ckpt, 0L), Some(srcV))
    appendStreamBatch(changes, dst, srcV, statsCols).map(v => (srcV, v))
  }

  /** Mirror a MUTATING table: the change-feed analogue of
    * [[replicateChanges]], for sources where appends are not the only
    * op. Each unconsumed source version's row-level feed
    * ([[readChangeFeed]]) applies to `dst` as one CDC commit — same-key
    * delete+insert collapses to an update, delete-only rows delete,
    * insert-only rows upsert — stamped with the source version in the
    * destination's epoch ledger, so replication is exactly-once and
    * resumable with no external checkpoint (crash mid-stream resumes
    * at maxEpoch+1; a version whose feed is empty — evolve, compact —
    * skips without a commit and is re-skipped idempotently on replay).
    *
    * Requires `keyCol` to be unique per row in the source (the CDC
    * apply contract); enforced loudly by [[applyChanges]]. Cost per
    * sync is the source's churn over the unconsumed range — files that
    * changed hands, never either table. `maxVersionsPerBatch` bounds
    * how many source versions collapse into one destination commit
    * (net effect per key — exact, since intermediate hops don't touch
    * the final state): 1 mirrors version-for-version; a larger value
    * makes a long catch-up O(range/chunk) commits with a bounded feed
    * plan per chunk ([[changeFeedChunks]]). Returns (source version
    * consumed, new destination version) of the LAST applied commit,
    * or None when already up to date.
    */
  def replicateChangeFeed(spark: SparkSession, src: String, dst: String,
      keyCol: String, statsCols: Seq[String] = Nil,
      maxVersionsPerBatch: Int = 1): Option[(Long, Long)] = {
    val srcV = latestVersion(spark, src).getOrElse(return None)
    val dstV0 = latestVersion(spark, dst).getOrElse(0L)
    val ckpt = if (dstV0 == 0L) -1L else maxEpoch(spark, dst, dstV0)
    if (ckpt >= srcV) return None
    var applied: Option[(Long, Long)] = None
    changeFeedChunks(spark, src, math.max(ckpt, 0L), Some(srcV),
        maxVersionsPerBatch).foreach { case (from, to, feed0) =>
      // the chunk feed is consumed by several passes (net-collapse
      // join, apply's candidacy probe, the write itself) — pin it
      // once instead of re-evaluating the multi-leg diff plan per
      // pass; it is churn-sized (the chunk's changed rows), never
      // table-sized, so the blocks spill safely at any scale. pin
      // rather than persist: the pin right-sizes the partitioning
      // from the materialized bytes, so the diff's many near-empty
      // union legs don't fan the CDC apply (and its written files)
      // out to one per leg partition — and the downstream passes read
      // raw checkpoint blocks, which measured ~2.4x faster per pass
      // than re-reading a columnar cache here (a persist+coalesce
      // variant was tried and reverted). KNOWN TRADE: localCheckpoint
      // truncates lineage, so an executor loss mid-apply fails the
      // maintenance job where persist would recompute — acceptable for
      // an idempotent, resumable maintenance op (the epoch ledger makes
      // a rerun exactly-once), and the per-chunk BLOCKING release keeps
      // a 1000-version catch-up holding at most one chunk's churn in
      // storage (also what keeps the 500+-version replication suites
      // inside a tight driver heap).
      val feed = pin(feed0)
      try {
      // net effect per key over the chunk: the LAST source version
      // touching a key decides — an insert there upserts, a
      // delete-with-no-insert there deletes. Intermediate hops are
      // invisible to the final state, so one CDC commit per chunk
      // (stamped with the chunk's last source version) is exact, and
      // a multi-thousand-version catch-up replays in bounded-plan,
      // bounded-commit steps instead of one commit per version. A
      // single-version chunk (bootstrap, per-version mirroring) has no
      // intermediate hops — the collapse is the identity; skip its
      // groupBy + self-join entirely.
      val last =
        if (to - from == 1) feed
        else {
          val lastV = feed.groupBy(col(keyCol).as("__k"))
            .agg(max(col("_commit_version")).as("__last"))
          feed.join(lastV, col(keyCol) === col("__k") &&
            col("_commit_version") === col("__last")).drop("__k", "__last")
        }
      val ins = last.where(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")
      val del = last.where(col("_change_type") === "delete")
        .drop("_change_type", "_commit_version")
      val dstEmpty = latestVersion(spark, dst).isEmpty
      if (dstEmpty) {
        // bootstrap: the first chunk with inserts seeds the mirror via
        // the stream ledger (replay-safe append)
        appendStreamBatch(ins, dst, to, statsCols)
          .foreach(nv => applied = Some((to, nv)))
      } else {
        val before = latestVersion(spark, dst).get
        val changes = ins.withColumn("__op", lit("U")).unionByName(
          del.join(ins.select(col(keyCol)), Seq(keyCol), "left_anti")
            .withColumn("__op", lit("D")))
        val st = applyChanges(changes, dst, keyCol, "__op", statsCols,
          epoch = to)
        if (st.version > before) applied = Some((to, st.version))
      }
      } finally unpinBlocking(feed)
    }
    applied
  }

  /** The change feed over (fromVersion, toVersion] as BOUNDED sub-range
    * frames: each element is (chunkFrom, chunkTo, feed over
    * (chunkFrom, chunkTo]) with at most `maxVersionsPerChunk` versions
    * — so at most that many union legs and per-version diff
    * aggregations — per returned plan. A consumer catching up over
    * thousands of versions iterates chunk by chunk (each chunk is an
    * independent job) instead of asking [[readChangeFeed]] for one
    * range-sized union plan; [[replicateChangeFeed]] composes these
    * with one CDC commit per chunk. Chunks are produced lazily — no
    * manifest is touched until a chunk is consumed.
    */
  def changeFeedChunks(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Option[Long] = None,
      maxVersionsPerChunk: Int = 64): Iterator[(Long, Long, DataFrame)] = {
    require(maxVersionsPerChunk >= 1,
      s"maxVersionsPerChunk must be >= 1, got $maxVersionsPerChunk")
    val to = toVersion.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    require(fromVersion >= 0 && fromVersion <= to,
      s"bad version range ($fromVersion, $to]")
    Iterator.iterate(fromVersion)(f => math.min(f + maxVersionsPerChunk, to))
      .takeWhile(_ < to)
      .map { f =>
        val t = math.min(f + maxVersionsPerChunk, to)
        (f, t, readChangeFeed(spark, table, f, Some(t)))
      }
  }

  /** Delta-manifest encoding: a published version normally records only
    * `add` (entries new or changed vs the parent) and `remove` (parent
    * paths gone), with a FULL file-list checkpoint every
    * [[CheckpointEvery]] versions — and whenever the delta would not
    * actually be smaller (overwrite, compact, restore). This is what
    * makes commits O(changed files) instead of O(table files) in
    * metadata: a million-file table appends a daily batch with a
    * KB-sized manifest rather than re-serializing the whole inventory —
    * the Delta-log/Iceberg-snapshot insight. Readers resolve at most
    * [[CheckpointEvery]]-1 parent hops, each one small JSON read; a
    * missing ancestor fails loudly (vacuum never deletes manifests).
    */
  val CheckpointEvery = 10

  /** Session conf selecting the checkpoint cadence. `fixed` (default):
    * a full manifest every [[CheckpointEvery]] commits — simple,
    * bounded replay of ≤ [[CheckpointEvery]]-1 hops. `adaptive`: a full
    * manifest once the delta bytes accumulated since the last
    * checkpoint reach that checkpoint's own size (or the chain exceeds
    * [[MaxDeltaChain]] hops) — the size-ratio amortization a
    * million-file table with small commits needs, where a fixed cadence
    * would re-serialize O(table files) of metadata every 10 commits
    * while replay already costs at most one checkpoint's worth of
    * delta bytes. Under either policy an overwrite-sized change still
    * falls back to full encoding via the delta-not-smaller rule.
    */
  val CheckpointPolicyConf = "spark.graft.snapshot.checkpointPolicy"

  /** Hard ceiling on delta-chain length under the adaptive policy —
    * bounds resolution to ≤ this many manifest round-trips even when
    * the byte rule alone would let the chain grow (huge checkpoint,
    * tiny deltas).
    */
  val MaxDeltaChain = 32

  /** `kind`/`parent` extracted from a manifest's fixed-position header
    * (see [[renderJson]]) with ONE bounded head read — no JSON parse of
    * the file list. None for legacy manifests predating the header
    * (caller falls back to a full parse).
    */
  private def peekHeader(fs: FileSystem, p: Path): Option[(String, Long)] = {
    val buf = new Array[Byte](256)
    val in = fs.open(p)
    val got =
      try {
        var off = 0
        var n = in.read(buf, 0, buf.length)
        while (n > 0 && off < buf.length) {
          off += n
          n = in.read(buf, off, buf.length - off)
        }
        off
      } finally in.close()
    val head = new String(buf, 0, got, "UTF-8")
    for {
      k <- "\"kind\":\"(full|delta)\"".r.findFirstMatchIn(head)
      par <- "\"parent\":(-?\\d+)".r.findFirstMatchIn(head)
    } yield (k.group(1), par.group(1).toLong)
  }

  /** Should `m` publish as a full manifest? Policy-dependent; the
    * adaptive walk classifies each ancestor from a 256-byte header
    * peek + its file LENGTH — it never parses a manifest's file list,
    * so a commit against a million-file table costs O(chain) small
    * head reads, not a checkpoint-sized JSON parse.
    */
  private def wantCheckpoint(fs: FileSystem, tbl: Path, m: Manifest): Boolean = {
    val policy = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.conf.get(CheckpointPolicyConf, "fixed")).getOrElse("fixed")
    require(policy == "fixed" || policy == "adaptive",
      s"$CheckpointPolicyConf must be fixed|adaptive, got $policy")
    if (policy == "adaptive") {
      try {
        var v = m.parent
        var hops = 0
        var deltaSum = 0L
        var fullLen = -1L
        while (v >= 1 && fullLen < 0 && hops < MaxDeltaChain) {
          val mp = manifestPath(tbl, v)
          val len = fs.getFileStatus(mp).getLen
          peekHeader(fs, mp) match {
            case Some(("full", _)) => fullLen = len
            case Some(("delta", par)) => deltaSum += len; hops += 1; v = par
            case _ => // legacy manifest without the header: full parse
              val raw = readRaw(fs, tbl, v)
              if (raw.full.isDefined) fullLen = len
              else { deltaSum += len; hops += 1; v = raw.parent }
          }
        }
        // no checkpoint found within the cap → checkpoint now
        fullLen < 0 || deltaSum >= fullLen
      } catch {
        // a missing ancestor (crash debris, partial restore) must
        // self-heal with a checkpoint, same as the fixed path's
        // parent-read fallback — never wedge the table
        case _: java.io.FileNotFoundException => true
      }
    } else m.version % CheckpointEvery == 0
  }

  /** Exclusive-publish primitive — pluggable per storage system (HDFS
    * rename, local hard link, object-store conditional put); see
    * [[LogStore]] for the contract and the per-scheme safety analysis.
    */
  private def store(fs: FileSystem): LogStore = LogStore.active(fs)

  /** Exclusive publication via the active [[LogStore]]; throws if the
    * version was concurrently committed. Chooses delta vs full encoding
    * here, so every commit path gets incremental manifests for free.
    */
  private def publish(fs: FileSystem, tbl: Path, m0: Manifest): Unit = {
    val m = m0.copy(ts = System.currentTimeMillis()) // retention clock
    fs.mkdirs(logDir(tbl))
    val parentFiles =
      if (m.parent < 1 || wantCheckpoint(fs, tbl, m)) None
      else
        try Some(readManifest(fs, tbl, m.parent).files)
        catch { case _: java.io.FileNotFoundException => None }
    val dest = manifestPath(tbl, m.version)
    if (!store(fs).publishExclusive(fs, dest,
        renderJson(m, parentFiles).getBytes("UTF-8")))
      throw new IllegalStateException(
        s"concurrent commit: version ${m.version} already published at $dest")
  }

  def manifest(spark: SparkSession, table: String, version: Long): Manifest =
    readManifest(fsOf(spark, new Path(table)), new Path(table), version)

  /** True when `version`'s manifest carries the full file list (a
    * checkpoint or a delta-not-worth-it commit) rather than an
    * add/remove delta — observability for the commit-cost contract.
    */
  def isCheckpoint(spark: SparkSession, table: String, version: Long): Boolean =
    readRaw(fsOf(spark, new Path(table)), new Path(table), version).full.isDefined

  /** Resolved-manifest cache. A published manifest is immutable for
    * life, so (table, version) normally identifies content for good —
    * but retention deletes expired manifests, and tests (or
    * out-of-protocol cleanup) can delete/recreate files at the same
    * path, so a hit RE-VALIDATES the identity of EVERY manifest file
    * the resolution depended on — the version's own file plus its
    * whole delta chain down to the checkpoint. Identity is (mtime,
    * length, fileKey): on a local filesystem the java.nio fileKey is
    * the (device, inode) pair, so a delete+recreate of a same-length
    * manifest WITHIN one coarse mtime tick still invalidates (every
    * recreate — and every hard-link publish — allocates a fresh
    * inode). On filesystems without a fileKey the guard is (mtime,
    * length) alone; stores backed by object storage should surface
    * their etag/generation through a [[LogStore]] override if
    * out-of-protocol recreates are a real threat there. A handful of
    * stats per hit replaces a read + parse + recursive resolution (at
    * a long history, that is the difference between O(1) amortized
    * commit metadata and re-parsing a checkpoint-sized JSON per
    * commit), and every loud-failure contract survives: a deleted own
    * file still raises FileNotFoundException, a deleted mid-chain
    * parent still fails the resolution instead of serving a cached
    * ghost.
    */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), (Seq[(Path, Long, Long, String)], Manifest)]()
  private val ManifestCacheMax = 4096

  /** Content-generation component of a dependency identity: the POSIX
    * (device, inode) pair PLUS the nanosecond birth time where
    * available, "" elsewhere. Both are needed: ext-family filesystems
    * recycle a freed inode for the very next allocation (measured here:
    * delete+recreate reuses the inode), while btime is fresh per
    * creation and — unlike mtime — cannot be set back by utimes.
    */
  private def fileKeyOf(fs: FileSystem, p: Path): String =
    if (fs.getUri.getScheme != "file") ""
    else
      try {
        val a = java.nio.file.Files.readAttributes(
          java.nio.file.Paths.get(p.toUri.getPath),
          classOf[java.nio.file.attribute.BasicFileAttributes])
        s"${a.fileKey()}@${a.creationTime().toInstant.getNano}:" +
          s"${a.creationTime().toMillis}"
      } catch { case _: java.io.IOException => "" }

  /** Resolve a version's file list: a full manifest is itself; a delta
    * replays onto its parent's resolved list — parent order preserved,
    * changed entries swapped out, net-new entries appended (matching
    * what append-shaped committers pass in).
    */
  private def readManifest(fs: FileSystem, tbl: Path, version: Long): Manifest =
    readManifestDeps(fs, tbl, version)._2

  private def readManifestDeps(fs: FileSystem, tbl: Path,
      version: Long): (Seq[(Path, Long, Long, String)], Manifest) = {
    val key = (fs.makeQualified(tbl).toUri.toString, version)
    val cached = manifestCache.get(key)
    if (cached != null && cached._1.forall { case (p, mt, ln, fk) =>
        try {
          val st = fs.getFileStatus(p)
          st.getModificationTime == mt && st.getLen == ln &&
            fileKeyOf(fs, p) == fk
        } catch { case _: java.io.FileNotFoundException => false }
      }) cached
    else {
      val mp = manifestPath(tbl, version)
      // stat BEFORE reading, so the recorded identity can never be
      // newer than the bytes resolved (FileNotFoundException here is
      // the expired-version contract, exactly as the uncached read)
      val st = fs.getFileStatus(mp)
      val self = (mp, st.getModificationTime, st.getLen, fileKeyOf(fs, mp))
      val raw = readRaw(fs, tbl, version)
      val entry: (Seq[(Path, Long, Long, String)], Manifest) = raw.full match {
        case Some(files) =>
          (Seq(self), Manifest(raw.version, raw.parent, raw.op,
            raw.schemaDdl, files, raw.epoch, raw.ts, raw.physical,
            raw.eqDeletes, raw.layout))
        case None =>
          require(raw.parent >= 1,
            s"delta manifest v${raw.version} has no parent to resolve against")
          val (pdeps, pm) = readManifestDeps(fs, tbl, raw.parent)
          val gone = raw.remove.toSet ++ raw.add.map(_.path)
          (self +: pdeps, Manifest(raw.version, raw.parent, raw.op,
            raw.schemaDdl, pm.files.filterNot(f => gone(f.path)) ++ raw.add,
            raw.epoch, raw.ts, raw.physical, raw.eqDeletes, raw.layout))
      }
      if (manifestCache.size() >= ManifestCacheMax) manifestCache.clear()
      manifestCache.put(key, entry)
      entry
    }
  }

  /** One manifest file as stored: `full` for checkpoint encoding,
    * add/remove for delta encoding.
    */
  private final case class RawManifest(version: Long, parent: Long,
      op: String, schemaDdl: String, epoch: Long, ts: Long,
      full: Option[Seq[FileEntry]], add: Seq[FileEntry], remove: Seq[String],
      physical: Map[String, String] = Map.empty,
      eqDeletes: Seq[EqDelete] = Nil, layout: Option[LayoutSpec] = None)

  private def readRaw(fs: FileSystem, tbl: Path, version: Long): RawManifest =
    parseJson(new String(
      store(fs).read(fs, manifestPath(tbl, version)), "UTF-8"))

  /** The table at `version` (default: latest). File list comes from the
    * manifest alone — no data-directory listing at any table size — and
    * so does the scan's plan: its file index serves each file's path and
    * length from the manifest ([[readFilesPhys]]), so building the frame
    * reads one manifest and runs no Spark job.
    */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v)
    readFiles(spark, table, m, m.files)
  }

  /** Manifest-level file skipping for `lo <= col <= hi`: keep a file iff
    * its [min,max] interval overlaps (or it has no stats for `col` —
    * unknown never prunes). Returns the pruned frame WITH the residual
    * predicate applied, plus (scanned, total) file counts.
    */
  def readPruned(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, version: Option[Long] = None): (DataFrame, Int, Int) = {
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v)
    val kept = m.files.filter { f =>
      f.stats.get(column) match {
        case Some((mn, mx)) => cmp(mn, hi) <= 0 && cmp(mx, lo) >= 0
        case None => true
      }
    }
    val df = readFiles(spark, table, m, kept)
      .where(col(column) >= lit(lo) && col(column) <= lit(hi))
    (df, kept.size, m.files.size)
  }

  /** Multi-predicate manifest pruning: keep a file iff EVERY predicate
    * (range/equality over stats columns) might match its [min,max] —
    * the conjunction form [[readPruned]] can't express, and the shape a
    * 2-D box query runs against a cluster-compacted layout: clustering
    * (see [[compact]]'s `clusterBy` and `functions.ZOrder`) gives every
    * file tight ranges on BOTH dimensions, so the conjunction prunes in
    * two dimensions at once — the OPTIMIZE..ZORDER payoff measured at
    * the manifest, before any file opens. Unknown stats never prune,
    * and all predicates re-apply as residuals. Returns (frame with
    * residuals applied, kept files, total files).
    */
  def readFiltered(spark: SparkSession, table: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      version: Option[Long] = None): (DataFrame, Int, Int) = {
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v)
    filters.foreach(f => require(SnapshotStreamSource.prunable(f),
      s"readFiltered supports range/equality predicates, got $f"))
    val kept = m.files.filter(f =>
      filters.forall(p => SnapshotStreamSource.mightMatch(f, p)))
    val df = filters.foldLeft(readFiles(spark, table, m, kept))(
      (d, p) => d.where(residualColumn(p)))
    (df, kept.size, m.files.size)
  }

  private def residualColumn(
      f: org.apache.spark.sql.sources.Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => col(c) === lit(v)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case IsNull(c) => col(c).isNull
      case IsNotNull(c) => col(c).isNotNull
      case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }

  /** Point lookup `column = value` with two-tier file skipping: range
    * stats first (cheap interval test), then the per-file Bloom filter
    * for files whose range contains the value but whose key set likely
    * doesn't — the "fetch these ids from 100 TB" path where min/max
    * can't help because every file's range spans the probe. One-sided
    * by construction: a Bloom hit may still yield zero rows (false
    * positive → wasted open), a miss NEVER hides a present key.
    * Returns (matching rows, filesOpened, rangeCandidates, filesTotal).
    */
  def readPoint(spark: SparkSession, table: String, column: String,
      value: Any, version: Option[Long] = None): (DataFrame, Int, Int, Int) = {
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m = manifest(spark, table, v)
    val rangeCand = m.files.filter { f =>
      f.stats.get(column) match {
        case Some((mn, mx)) => cmp(mn, value) <= 0 && cmp(mx, value) >= 0
        case None => true
      }
    }
    val opened = rangeCand.filter { f =>
      f.blooms.get(column) match {
        case Some(b64) => bloomMightContain(bloomDecode(b64), String.valueOf(value))
        case None => true // no bloom written: range verdict stands
      }
    }
    val df = readFiles(spark, table, m, opened)
      .where(col(column) === lit(value))
    (df, opened.size, rangeCand.size, m.files.size)
  }

  /** Join-driven file skipping — the runtime-filter / dynamic-pruning
    * shape: restrict a snapshot scan to the files that can contain ANY
    * key of another frame, BEFORE a data file opens. Candidacy is the
    * upsert's exact one-pass interval test (a file survives iff some
    * key lands inside its [min,max] — scattered keys keep only their
    * files, not the whole span between them); surviving files with a
    * Bloom filter for `column` are then probed with the distinct keys
    * (driver-side, only when the key set is ≤ `maxProbeKeys`), which
    * drops range-spanning files that share no actual key. The result
    * is the pruned scan semi-joined to the keys — "fetch this batch of
    * ids from the 100 TB table" costs the matching files only. At
    * production file counts the per-file flag aggregation becomes a
    * manifest-table range join (same contract as [[upsert]]'s note).
    * Bloom probing is one-sided: a skipped file provably holds no key.
    * Returns (rows, filesOpened, rangeCandidates, filesTotal).
    */
  def readSemiJoin(spark: SparkSession, table: String, column: String,
      keys: DataFrame, keyCol: String, version: Option[Long] = None,
      maxProbeKeys: Int = 10000): (DataFrame, Int, Int, Int) =
    readSemiJoin(spark, table, Seq(column), keys, Seq(keyCol), version,
      maxProbeKeys)

  /** Composite-key form: candidacy is the tuple-interval conjunction
    * (a file survives iff some key tuple lands inside its window on
    * EVERY column at once); Bloom probing stays per-column and remains
    * one-sided — if a tuple is in a file, each of its column values
    * is, so a file skipped on ANY column's Bloom provably holds no
    * tuple. The final semi-join matches the full tuple.
    */
  def readSemiJoin(spark: SparkSession, table: String,
      columns: Seq[String], keys: DataFrame, keyCols: Seq[String],
      version: Option[Long],
      maxProbeKeys: Int): (DataFrame, Int, Int, Int) =
    readSemiJoin(spark, table, columns, keys, keyCols, version,
      maxProbeKeys, Nil)

  /** With `extraRanges`: files ANY range conjunct provably excludes
    * never become candidates (on top of the key-interval test) — the
    * residual-ON MERGE's probe pruning. Row-level filtering against
    * the ranges stays the CALLER's job; this only shrinks the files
    * opened.
    */
  def readSemiJoin(spark: SparkSession, table: String,
      columns: Seq[String], keys: DataFrame, keyCols: Seq[String],
      version: Option[Long], maxProbeKeys: Int,
      extraRanges: Seq[ColumnRange]): (DataFrame, Int, Int, Int) = {
    require(columns.nonEmpty && columns.length == keyCols.length &&
      columns.distinct == columns,
      s"semi-join columns $columns must be distinct and align with " +
        s"key columns $keyCols")
    val v = version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val m0 = manifest(spark, table, v)
    val m = if (extraRanges.isEmpty) m0
      else m0.copy(files = m0.files.filter(f =>
        !extraRanges.exists(statsExclude(f, _))))
    val ks = keys.select(keyCols.map(col): _*)
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val checks = m.files.zipWithIndex.map { case (f, i) =>
      val conj = columns.zip(keyCols).map { case (c, k) =>
        f.stats.get(c) match {
          case Some((mn, mx)) => col(k) >= lit(mn) && col(k) <= lit(mx)
          case None => lit(true) // no stats: always candidate
        }
      }.reduce(_ && _)
      max(when(conj, 1).otherwise(0)).as(s"__f$i")
    }
    val probe = ks.agg(count(lit(1)).cast("long").as("__n"), checks: _*).head
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    if (probe.getLong(0) == 0L) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      return (empty, 0, 0, m.files.size)
    }
    val cand = m.files.zipWithIndex.collect {
      case (f, i) if !probe.isNullAt(i + 1) && probe.getInt(i + 1) == 1 => f
    }
    // distinct probe strings per bloom-bearing column, driver-side only
    // when the key set is small enough
    val probesPerCol: Map[String, Array[String]] =
      columns.zip(keyCols).flatMap { case (c, k) =>
        if (!cand.exists(_.blooms.contains(c))) None
        else {
          val pk = ks.select(col(k).cast("string")).distinct()
            .limit(maxProbeKeys + 1).collect().map(_.getString(0))
          if (pk.length > maxProbeKeys) None // too many: range verdict stands
          else Some(c -> pk)
        }
      }.toMap
    val opened =
      if (probesPerCol.isEmpty) cand
      else cand.filter { f =>
        columns.forall { c =>
          (f.blooms.get(c), probesPerCol.get(c)) match {
            case (Some(b64), Some(pks)) =>
              val words = bloomDecode(b64)
              pks.exists(k => bloomMightContain(words, k))
            case _ => true
          }
        }
      }
    val df = readFiles(spark, table, m, opened)
      .join(ks.select(keyCols.zip(columns).map {
        case (k, c) => col(k).as(c) }: _*), columns, "left_semi")
    (df, opened.size, cand.size, m.files.size)
  }

  /** Prefix a BRANCH manifest uses to reference its parent table's
    * files (the branch dir is `<root>/_branches/<name>`, so the parent
    * root is two levels up). Kept symbolic — never `..`, which HDFS
    * path validation rejects — so the whole root stays relocatable
    * with its branches.
    */
  private[snapshot] val ParentPrefix = "__parent__/"

  /** Resolve a manifest-relative path against its table root,
    * following the parent marker for branch tables.
    */
  private[snapshot] def resolveRel(tbl: Path, rel: String): Path =
    if (rel.startsWith(ParentPrefix))
      new Path(tbl.getParent.getParent, rel.substring(ParentPrefix.length))
    else new Path(tbl, rel)

  /** Canonical DV coordinate of a manifest path: the trailing
    * `data/...` component — what [[FileRelRegex]] extracts from the
    * scan's absolute path — so DV masks survive a file's reference
    * form changing (root `data/x` ↔ branch `__parent__/data/x` ↔
    * fast-forwarded `_branches/b/data/x`).
    */
  private[snapshot] def relKey(p: String): String = {
    val i = p.lastIndexOf("data/")
    if (i <= 0) p else p.substring(i)
  }

  /** The manifest's schema with every field under its PHYSICAL name —
    * what the parquet files actually carry (identity when the table
    * was never renamed).
    */
  private def physSchema(m: Manifest): org.apache.spark.sql.types.StructType = {
    val logical = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    if (m.physical.isEmpty) logical
    else org.apache.spark.sql.types.StructType(
      logical.fields.map(f => f.copy(name = physName(m, f.name))))
  }

  /** Scan under physical names — position readers and DV plumbing hang
    * `_metadata` columns off this BEFORE the logical aliasing. The scan
    * is planned from the manifest alone ([[ManifestFileIndex]]): each
    * file's path resolves against the table root, qualified once, and
    * its length is the entry's, so building it touches no FileSystem.
    * A data file missing from disk fails the scan's task, not this call.
    * An entry of a manifest older than recorded lengths (bytes 0) is
    * stat'd: the scan would read a zero-length file as empty.
    */
  private def readFilesPhys(spark: SparkSession, table: String, m: Manifest,
      files: Seq[FileEntry]): DataFrame = {
    val fs = fsOf(spark, new Path(table))
    val tbl = fs.makeQualified(new Path(table))
    val index = new ManifestFileIndex(files.map { f =>
      val p = resolveRel(tbl, f.path)
      p -> (if (f.bytes > 0) f.bytes else fs.getFileStatus(p).getLen)
    })
    org.apache.spark.sql.graftbridge.Bridge.parquetScan(spark, index, physSchema(m))
  }

  private def readFilesRaw(spark: SparkSession, table: String, m: Manifest,
      files: Seq[FileEntry]): DataFrame = {
    val df = readFilesPhys(spark, table, m, files)
    if (m.physical.isEmpty) df
    else {
      // alias physical → logical: one projection, no data movement
      val logical = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      df.select(logical.fieldNames.map(c =>
        col(physName(m, c)).as(c)).toIndexedSeq: _*)
    }
  }

  /** Data-file names are `data/v<NNNNN>-<uuid8>/<part>`, so the relative
    * path a manifest (and a DV) uses is recoverable from the scan's
    * absolute `_metadata.file_path` by anchoring on the last
    * `data/...` component.
    */
  private val FileRelRegex = "(data/v[^/]+/[^/]+)$"

  /** The given files with `__file` (manifest-relative path) and `__pos`
    * (row position within the file, from the parquet reader's
    * `_metadata.row_index`) columns appended — the coordinate system
    * deletion vectors address.
    */
  private def withPosition(spark: SparkSession, table: String, m: Manifest,
      files: Seq[FileEntry]): DataFrame = {
    // `_metadata` resolves against the scan relation, so it attaches
    // BEFORE the physical→logical aliasing projection
    val positioned = readFilesPhys(spark, table, m, files)
      .withColumn("__file",
        regexp_extract(col("_metadata.file_path"), FileRelRegex, 1))
      .withColumn("__pos", col("_metadata.row_index"))
    if (m.physical.isEmpty) positioned
    else {
      val logical = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      positioned.select((logical.fieldNames.toIndexedSeq.map(c =>
        col(physName(m, c)).as(c)) :+ col("__file") :+ col("__pos")): _*)
    }
  }

  /** Union of the DV positions claimed by `files` (None when no file
    * carries a DV). A shared DV directory is read once and restricted
    * to the files that reference it, so positions of files that have
    * since been rewritten or dropped never leak back in.
    */
  private def dvPositions(spark: SparkSession, table: String,
      files: Seq[FileEntry]): Option[DataFrame] = {
    val dvFiles = files.filter(_.dv.isDefined)
    if (dvFiles.isEmpty) None
    else Some(dvFiles.groupBy(_.dv.get.path).map { case (p, fs) =>
      spark.read.parquet(resolveRel(new Path(table), p).toString)
        .where(col("__file").isin(fs.map(f => relKey(f.path)): _*))
        .select(col("__file"), col("__pos"))
    }.reduce(_ unionByName _))
  }

  /** DV-aware read: files without a deletion vector take the plain scan
    * (zero overhead, identical plan); files with one anti-join their
    * masked positions out. The DV side is deleted-rows-sized — tiny
    * next to the data — so the anti-join broadcasts under AQE at any
    * table size.
    */
  private def readFilesDv(spark: SparkSession, table: String, m: Manifest,
      files: Seq[FileEntry]): DataFrame =
    dvPositions(spark, table, files) match {
      case None => readFilesRaw(spark, table, m, files)
      case Some(dv) =>
        val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        withPosition(spark, table, m, files)
          .join(dv, Seq("__file", "__pos"), "left_anti")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }

  /** Outstanding MOR batches beyond this fragment the read into that
    * many union legs — compaction debt worth paying down.
    */
  private val EqDeleteWarnThreshold = 32

  /** Full visibility read: positional DVs, then equality deletes. A
    * table with no outstanding eq-deletes takes [[readFilesDv]]'s plan
    * untouched. With them, files group by WHICH deletes apply (their
    * seq bucket — a handful of groups, one per MOR commit since the
    * last compaction) and each group anti-joins the union of its
    * applicable key sets. The delete side is keys-sized, so the
    * anti-join broadcasts under AQE at any table size — the read-side
    * cost MOR upserts trade for their O(batch) writes, cleared by
    * [[compact]].
    */
  private def readFiles(spark: SparkSession, table: String, m: Manifest,
      files: Seq[FileEntry]): DataFrame =
    if (m.eqDeletes.isEmpty || files.isEmpty) readFilesDv(spark, table, m, files)
    else {
      if (m.eqDeletes.size > EqDeleteWarnThreshold)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"table $table carries ${m.eqDeletes.size} outstanding " +
            "equality-delete sets; reads fragment into that many " +
            "anti-join legs — run compact() to materialize them")
      files.groupBy(f => eqFor(m, f).map(_.path)).map { case (_, fsGroup) =>
        val dels = eqFor(m, fsGroup.head)
        val base = readFilesDv(spark, table, m, fsGroup)
        dels.groupBy(_.keyCol).foldLeft(base) { case (df, (_, ds)) =>
          // the keys parquet carries PHYSICAL key names (a composite
          // key: several columns in one sidecar); serve each under its
          // CURRENT logical name (reverse column mapping) and
          // anti-join on the full key tuple
          val (physKeys, logicalKeys) = eqKeyCols(m, ds.head)
          val keys0 = ds.map(d => spark.read.parquet(
              resolveRel(new Path(table), d.path).toString))
            .reduce(_ unionByName _)
          val keys = physKeys.zip(logicalKeys).foldLeft(keys0) {
            case (k, (p, l)) => k.withColumnRenamed(p, l) }
          df.join(keys, logicalKeys, "left_anti")
        }
      }.reduce(_ unionByName _)
    }

  /** Order manifest stat scalars: numerics numerically, strings in
    * UTF-8 BYTE order — the order Spark computed the min/max under
    * (UTF8String/UnsafeRow comparisons are byte-wise). Java's
    * String.compareTo is UTF-16 code-unit order, which DISAGREES on
    * supplementary-plane content (U+10000+ sorts below U+E000 in
    * UTF-16 but above in UTF-8), so stats classification must compare
    * the same way the stats were made — the order ord64 assumes too.
    */
  private[snapshot] def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => utf8Cmp(x, y)
    case _ => throw new IllegalArgumentException(
      s"incomparable stats: ${a.getClass} vs ${b.getClass}")
  }

  private def utf8Cmp(a: String, b: String): Int = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  // ---- JSON rendering/parsing via Jackson's untyped tree ----

  private def filesJson(fs: Seq[FileEntry]): JArrayList[Object] = {
    val files = new JArrayList[Object]()
    fs.foreach { f =>
      val fm = new JLinkedHashMap[String, Object]()
      fm.put("path", f.path)
      fm.put("rows", java.lang.Long.valueOf(f.rows))
      fm.put("bytes", java.lang.Long.valueOf(f.bytes))
      val sm = new JLinkedHashMap[String, Object]()
      f.stats.foreach { case (c, (mn, mx)) =>
        val cm = new JLinkedHashMap[String, Object]()
        cm.put("min", mn.asInstanceOf[Object])
        cm.put("max", mx.asInstanceOf[Object])
        sm.put(c, cm)
      }
      fm.put("stats", sm)
      if (f.blooms.nonEmpty) {
        val bm = new JLinkedHashMap[String, Object]()
        f.blooms.foreach { case (c, b64) => bm.put(c, b64) }
        fm.put("blooms", bm)
      }
      if (f.ndvs.nonEmpty) {
        val nm = new JLinkedHashMap[String, Object]()
        f.ndvs.foreach { case (c, b64) => nm.put(c, b64) }
        fm.put("ndvs", nm)
      }
      if (f.nulls.nonEmpty) {
        val nu = new JLinkedHashMap[String, Object]()
        f.nulls.foreach { case (c, n) => nu.put(c, java.lang.Long.valueOf(n)) }
        fm.put("nulls", nu)
      }
      f.dv.foreach { d =>
        val dm = new JLinkedHashMap[String, Object]()
        dm.put("path", d.path)
        dm.put("rows", java.lang.Long.valueOf(d.rows))
        fm.put("dv", dm)
      }
      if (f.seq != 0L) fm.put("seq", java.lang.Long.valueOf(f.seq))
      files.add(fm)
    }
    files
  }

  private def renderJson(m: Manifest,
      parentFiles: Option[Seq[FileEntry]]): String = {
    val delta = parentFiles.flatMap { pf =>
      val pByPath = pf.map(f => f.path -> f).toMap
      val newPaths = m.files.map(_.path).toSet
      // changed entries (new stats, a DV, ...) ride in `add` and shadow
      // their parent entry at resolution
      val add = m.files.filterNot(f => pByPath.get(f.path).contains(f))
      val remove = pf.map(_.path).filterNot(newPaths)
      // delta only when strictly smaller than re-serializing everything
      if (add.size + remove.size < m.files.size) Some((add, remove)) else None
    }
    val root = new JLinkedHashMap[String, Object]()
    // fixed-position header: kind + parent land in the first bytes so
    // the adaptive-cadence walk ([[wantCheckpoint]]) classifies a
    // manifest from a bounded head read — it must never JSON-parse a
    // checkpoint's O(table-files) list per commit. schema (unbounded
    // DDL) therefore serializes AFTER the header scalars.
    root.put("kind", if (delta.isDefined) "delta" else "full")
    root.put("version", java.lang.Long.valueOf(m.version))
    root.put("parent", java.lang.Long.valueOf(m.parent))
    root.put("op", m.op)
    root.put("epoch", java.lang.Long.valueOf(m.epoch))
    root.put("ts", java.lang.Long.valueOf(m.ts))
    root.put("schema", m.schemaDdl)
    if (m.physical.nonEmpty) {
      val pm = new JLinkedHashMap[String, Object]()
      m.physical.toSeq.sortBy(_._1).foreach { case (l, p) => pm.put(l, p) }
      root.put("physical", pm)
    }
    if (m.eqDeletes.nonEmpty) {
      val eq = new JArrayList[Object]()
      m.eqDeletes.foreach { e =>
        val em = new JLinkedHashMap[String, Object]()
        em.put("path", e.path)
        em.put("keyCol", e.keyCol)
        em.put("rows", java.lang.Long.valueOf(e.rows))
        em.put("seq", java.lang.Long.valueOf(e.seq))
        eq.add(em)
      }
      root.put("eqDeletes", eq)
    }
    m.layout.foreach { ls =>
      val lm = new JLinkedHashMap[String, Object]()
      lm.put("kind", ls.kind)
      val lc = new JArrayList[Object]()
      ls.cols.foreach(lc.add)
      lm.put("cols", lc)
      lm.put("n", java.lang.Integer.valueOf(ls.n))
      root.put("layout", lm)
    }
    delta match {
      case Some((add, remove)) =>
        root.put("add", filesJson(add))
        val rm = new JArrayList[Object]()
        remove.foreach(rm.add)
        root.put("remove", rm)
      case None => root.put("files", filesJson(m.files))
    }
    mapper.writeValueAsString(root)
  }

  private def parseJson(s: String): RawManifest = {
    val root = mapper.readValue(s, classOf[java.util.Map[String, Object]]).asScala
    def jlong(o: Object): Long = o.asInstanceOf[Number].longValue()
    // Jackson writes a double's NaN and infinities as JSON strings: a
    // float or double column's bound reads them back as Doubles (which
    // `cmp` orders as Spark does, NaN above every number); any other
    // column's string bound stays a string
    lazy val floating: Set[String] = org.apache.spark.sql.types.StructType
      .fromDDL(root("schema").toString).fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.FloatType ||
          f.dataType == org.apache.spark.sql.types.DoubleType => f.name.toLowerCase
      }.toSet
    def bound(c: String, o: Object): Any = o match {
      case s: String if NonFinite(s) && floating(c.toLowerCase) => s.toDouble
      case _ => norm(o)
    }
    def fileList(o: Object): Seq[FileEntry] =
      o.asInstanceOf[java.util.List[_]].asScala.map { fo =>
        val fm = fo.asInstanceOf[java.util.Map[String, Object]].asScala
        val stats = fm("stats").asInstanceOf[java.util.Map[String, Object]]
          .asScala.map { case (c, co) =>
            val cm = co.asInstanceOf[java.util.Map[String, Object]].asScala
            c -> (bound(c, cm("min")), bound(c, cm("max")))
          }.toMap
        val blooms = fm.get("blooms").map(
          _.asInstanceOf[java.util.Map[String, Object]].asScala
            .map { case (c, b) => c -> b.toString }.toMap)
          .getOrElse(Map.empty[String, String])
        val ndvs = fm.get("ndvs").map(
          _.asInstanceOf[java.util.Map[String, Object]].asScala
            .map { case (c, b) => c -> b.toString }.toMap)
          .getOrElse(Map.empty[String, String])
        val nulls = fm.get("nulls").map(
          _.asInstanceOf[java.util.Map[String, Object]].asScala
            .map { case (c, n) => c -> jlong(n) }.toMap)
          .getOrElse(Map.empty[String, Long])
        val dv = fm.get("dv").map { o =>
          val dm = o.asInstanceOf[java.util.Map[String, Object]].asScala
          DvRef(dm("path").toString, jlong(dm("rows")))
        }
        FileEntry(fm("path").toString, jlong(fm("rows")),
          fm.get("bytes").map(jlong).getOrElse(0L), stats, blooms, dv, ndvs,
          nulls, fm.get("seq").map(jlong).getOrElse(0L))
      }.toSeq
    RawManifest(jlong(root("version")), jlong(root("parent")),
      root("op").toString, root("schema").toString,
      root.get("epoch").map(jlong).getOrElse(-1L),
      root.get("ts").map(jlong).getOrElse(0L),
      root.get("files").map(fileList),
      root.get("add").map(fileList).getOrElse(Nil),
      root.get("remove").map(
        _.asInstanceOf[java.util.List[_]].asScala.map(_.toString).toSeq)
        .getOrElse(Nil),
      root.get("physical").map(
        _.asInstanceOf[java.util.Map[String, Object]].asScala
          .map { case (l, p) => l -> p.toString }.toMap)
        .getOrElse(Map.empty),
      root.get("eqDeletes").map(
        _.asInstanceOf[java.util.List[_]].asScala.map { eo =>
          val em = eo.asInstanceOf[java.util.Map[String, Object]].asScala
          EqDelete(em("path").toString, em("keyCol").toString,
            jlong(em("rows")), jlong(em("seq")))
        }.toSeq).getOrElse(Nil),
      root.get("layout").map { lo =>
        val lm = lo.asInstanceOf[java.util.Map[String, Object]].asScala
        LayoutSpec(lm("kind").toString,
          lm("cols").asInstanceOf[java.util.List[_]].asScala
            .map(_.toString).toSeq,
          lm("n").asInstanceOf[Number].intValue())
      })
  }

  private val NonFinite = Set("NaN", "Infinity", "-Infinity")

  /** Jackson deserializes small integers as Integer; widen to Long so
    * stat comparisons and round-trips are type-stable.
    */
  private def norm(o: Object): Any = o match {
    case n: java.lang.Integer => n.longValue()
    case n: java.lang.Long => n.longValue()
    case n: Number => n.doubleValue()
    case s: String => s
    case other => other
  }
}
