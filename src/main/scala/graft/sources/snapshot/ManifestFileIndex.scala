package graft.sources.snapshot

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A snapshot scan's data files as Spark's file scan sees them, served
  * from the manifest: each file's path and length are its entry's, so
  * planning the scan makes no FileSystem call, path check, listing job or
  * thread (the per-file costs of the `InMemoryFileIndex` that
  * `spark.read.parquet(paths)` builds). `files` are qualified paths with
  * their lengths; a file missing from disk fails when the scan's task
  * opens it. Two indexes over the same files are equal, so exchange
  * reuse and cached-plan lookups match two scans of one file list.
  */
private[graft] final class ManifestFileIndex(val files: Seq[(Path, Long)])
    extends FileIndex {

  private lazy val statuses = files.map { case (p, len) =>
    FileStatusWithMetadata(new FileStatus(len, false, 0, 0L, 0L, p)) }

  override def rootPaths: Seq[Path] = files.map(_._1)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))

  override def inputFiles: Array[String] = files.map(_._1.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._2).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(o: Any): Boolean = o match {
    case i: ManifestFileIndex => i.files == files
    case _ => false
  }

  override def hashCode: Int = files.hashCode
}
