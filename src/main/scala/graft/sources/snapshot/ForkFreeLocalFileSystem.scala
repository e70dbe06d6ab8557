package graft.sources.snapshot

import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local FileSystem whose permission calls start no
  * process. Without libhadoop, the stock `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process, and a Hadoop `create` or `mkdirs`
  * calls it for every file and directory it makes: several processes
  * per snapshot commit (the attempt directory, the part file and its
  * `.crc` sidecar, the temp manifest), each costing milliseconds. This
  * class sets the same mode bits through `java.nio`, so a write lands the
  * same files, names, `.crc` sidecars and POSIX modes as through the
  * stock `LocalFileSystem`. The sticky bit, which java.nio cannot set,
  * and platforms without POSIX attributes keep the stock call.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw half of [[ForkFreeLocalFileSystem]]. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    ForkFreeLocalFileSystem.posixBits(permission) match {
      case Some(bits) =>
        java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      case None => super.setPermission(p, permission)
    }
}

object ForkFreeLocalFileSystem {

  private val posix = java.nio.file.FileSystems.getDefault
    .supportedFileAttributeViews().contains("posix")

  /** `permission` as java.nio permission bits, or None when java.nio
    * cannot set it (the sticky bit, or no POSIX attributes).
    */
  private[snapshot] def posixBits(
      permission: FsPermission): Option[java.util.Set[PosixFilePermission]] =
    if (!posix || permission.getStickyBit) None
    else {
      val mode = permission.toShort
      // PosixFilePermission lists owner/group/others read-write-execute,
      // the order of mode bits 8 down to 0
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values().zipWithIndex.foreach { case (b, i) =>
        if ((mode & (1 << (8 - i))) != 0) bits.add(b)
      }
      Some(bits)
    }

  @volatile private var last: (Configuration, ForkFreeLocalFileSystem) = (null, null)

  /** The FileSystem snapshot tables use for `p`: the fork-free twin where
    * Hadoop resolves a `LocalFileSystem`, and the resolved FileSystem for
    * any other scheme. A library may register a subclass for `file:`
    * (Hive's `ProxyLocalFileSystem`, whose rename refuses an existing
    * destination file); the twin replaces it too, as no snapshot write
    * renames onto an existing file. The twin is kept for the last
    * configuration object asked for (a session's Hadoop configuration),
    * as the stock cache keeps one instance per scheme.
    */
  def of(p: Path, conf: Configuration): FileSystem = {
    val fs = p.getFileSystem(conf)
    if (!fs.isInstanceOf[LocalFileSystem]) fs
    else {
      val (c, cached) = last
      if (c eq conf) cached
      else {
        val local = new ForkFreeLocalFileSystem
        local.initialize(java.net.URI.create("file:///"), conf)
        last = (conf, local)
        local
      }
    }
  }

  /** Hadoop options that make a write's tasks open `file:` paths through
    * [[ForkFreeLocalFileSystem]] when `fs` is one ([[ParquetWrite]] builds
    * its conf with them); empty for any other FileSystem. The FileSystem
    * cache is keyed by scheme and user, not by configuration, so the
    * write turns it off for that scheme: it would otherwise return a
    * cached stock instance.
    */
  def writeOptions(fs: FileSystem): Map[String, String] = fs match {
    case _: ForkFreeLocalFileSystem => Map(
      "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    case _ => Map.empty
  }
}
