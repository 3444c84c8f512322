package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without the child processes.
  *
  * When the JVM has no libhadoop (the usual case for a Spark
  * application), the stock `RawLocalFileSystem` forks `chmod` for every
  * file and directory it creates, and `FileContext` status lookups fork
  * `readlink` (on the `file:/…` URI string, so it fails and the lookup
  * falls back to the plain status). A streaming checkpoint pays this on
  * every offset, commit and source-log entry and on each `.crc` beside
  * them; a `df.write` pays it per output file and directory. Each fork
  * costs milliseconds; the file operation itself costs microseconds.
  *
  * [[InProcessRawLocalFileSystem]] keeps every result of the stock class
  * and starts no process. It is wrapped the two ways Hadoop reaches the
  * `file:` scheme: [[InProcessLocalFileSystem]] (`FileSystem`, keeps the
  * `.crc` checksum files) and [[InProcessLocalFs]] (`FileContext`, the
  * path the streaming checkpoint manager takes). [[LocalFiles.hadoopConf]]
  * names both for the `file:` scheme only; other schemes are untouched.
  */
object LocalFiles {

  /** Hadoop settings that route the `file:` scheme through these classes. */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[InProcessLocalFs].getName)

  /** POSIX permissions of a mode's low nine bits. `PosixFilePermission`
    * lists them from owner-read (bit 8) down to others-execute (bit 0).
    */
  private[graft] def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) perms.add(p)
    }
    perms
  }
}

/** `RawLocalFileSystem` that sets permissions and resolves link status
  * in-process.
  *
  *  - `setPermission` sets the same mode bits through
  *    `Files.setPosixFilePermissions` (following links, as `chmod`
  *    does). A sticky bit, which NIO cannot express, or a file store
  *    without a POSIX view goes to the stock command.
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is what the stock class returns for it; a
  *    real link goes to the stock implementation, so link results do
  *    not change.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      try Files.setPosixFilePermissions(file, LocalFiles.posixPermissions(permission.toShort.toInt))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[InProcessRawLocalFileSystem]], with the one rule of the class it
  * replaces. Spark's distribution ships Hive's `ProxyLocalFileSystem`,
  * which Hadoop's service loader picks for `file:` whatever the jar
  * order: a `LocalFileSystem` whose `rename` onto an existing file
  * returns false (the `FileSystem` contract) where the raw rename would
  * replace the file.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`: the stock `LocalFs` shape — a
  * `ChecksumFs` over a raw delegate — with [[InProcessRawLocalFileSystem]]
  * as the delegate. Hadoop constructs it by reflection from
  * `(URI, Configuration)`; like `LocalFs`, it serves `file:///` whatever
  * the URI.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(conf))

/** The stock `RawLocalFs` (package-private in Hadoop) over
  * [[InProcessRawLocalFileSystem]].
  */
class InProcessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
