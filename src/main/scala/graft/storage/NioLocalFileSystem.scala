package graft.storage

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` with permissions set and read through
  * java.nio instead of a process. Without Hadoop's native library,
  * `RawLocalFileSystem` starts a `chmod` for every file and directory
  * it creates and an `ls -ld` for every permission it reads (every
  * `LocatedFileStatus` of a listing reads one); each costs a process
  * start and a stderr-reader thread, and a storage operation creates
  * and lists dozens of files.
  *
  *   - [[setPermission]] calls `Files.setPosixFilePermissions`. A mode
  *     with the sticky bit, which java.nio cannot set, keeps Hadoop's
  *     `chmod`.
  *   - [[getFileStatus]] (and through it [[listStatus]]) returns a
  *     status that loads its permission, owner and group on first read
  *     through one `Files.readAttributes` call. The sticky bit is not
  *     reported. A file gone by then surfaces as a
  *     `FileNotFoundException`, the type the engine's retry classifier
  *     ([[Txn.isSwapWindowRace]]) reads.
  *   - [[getFileLinkStatus]] answers a path that is no symbolic link
  *     with [[getFileStatus]] instead of Hadoop's `readlink` process.
  *
  * Everything else — streams, byte statistics, renames, deletes — is
  * Hadoop's own. [[NioLocalFileSystem]] wraps it with `.crc` checksums;
  * [[NioLocalFileSystem.install]] puts it in front of `file:` paths. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      Bits.foreach(b => if ((mode & bit(b)) != 0) perms.add(b))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case e: NoSuchFileException => throw notFound(p, e) }
    }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case e: NoSuchFileException => throw notFound(f, e) }
    new NioFileStatus(file, attrs, getDefaultBlockSize(f),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  // Hadoop lists a plain file through its own status class, not through
  // getFileStatus
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isFile) Array(getFileStatus(f)) else super.listStatus(f)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** A local file's status whose permission, owner and group load on the
  * first read of any of them (Hadoop's own local status does the same
  * through `ls -ld`). */
private final class NioFileStatus(file: File, attrs: BasicFileAttributes,
                                  blockSize: Long, path: Path)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
      null, null, null, path) {
  import NioLocalFileSystem._

  @volatile private var loaded = false

  private def load(): Unit = if (!loaded) synchronized {
    if (!loaded) {
      val posix =
        try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
        catch { case e: NoSuchFileException => throw notFound(getPath, e) }
      val perms = posix.permissions
      setPermission(new FsPermission(
        Bits.foldLeft(0)((m, b) => if (perms.contains(b)) m | bit(b) else m)
          .toShort))
      setOwner(posix.owner.getName)
      setGroup(posix.group.getName)
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
}

/** [[NioRawLocalFileSystem]] with Hadoop's `.crc` checksums: what
  * `FileSystem.get` returns for `file:` paths once installed. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's `file:` file system (Spark's streaming checkpoints and
  * state stores write through it): Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs`, delegating to [[NioRawLocalFileSystem]]. */
private final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // a local file name may hold a colon, which the default rejects
  override def isValidName(src: String): Boolean = true
}

object NioLocalFileSystem {
  private val FileImpl = "fs.file.impl"
  private val ContextImpl = "fs.AbstractFileSystem.file.impl"
  private val LocalUri = URI.create("file:///")

  /** OWNER_READ … OTHERS_EXECUTE, the order of the mode bits 0400 … 0001 */
  private[storage] val Bits = PosixFilePermission.values.toSeq
  private[storage] def bit(b: PosixFilePermission): Int = 0x100 >> b.ordinal

  private[storage] def notFound(p: Path, cause: NoSuchFileException) = {
    val e = new FileNotFoundException(s"File $p does not exist")
    e.initCause(cause)
    e
  }

  private def unset(v: String): Boolean = v == null || v.trim.isEmpty

  /** Make [[NioLocalFileSystem]] the session's `file:` file system and
    * [[NioLocalFs]] its FileContext one. Idempotent and cheap once done
    * (one conf lookup), so every storage entry point calls it. Replaces
    * only Hadoop's defaults: a `fs.file.impl` or
    * `fs.AbstractFileSystem.file.impl` the user set is kept, and a
    * platform without POSIX attributes keeps Hadoop's classes.
    *
    * Hadoop caches one `file:` instance per JVM and user whatever conf
    * later asks, so an instance built before this call (by any plain
    * Spark read of a local path) is closed and replaced;
    * closing it deletes its delete-on-exit paths now instead of at exit.
    * Holders of the old instance keep a working Hadoop file system. */
  def install(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    if (unset(hc.get(FileImpl))) synchronized {
      val effective = spark.sessionState.newHadoopConf()
      if (unset(effective.get(FileImpl)) &&
          FileSystems.getDefault.supportedFileAttributeViews.contains("posix")) {
        if (effective.get(ContextImpl) == classOf[LocalFs].getName)
          hc.set(ContextImpl, classOf[NioLocalFs].getName)
        hc.set(FileImpl, classOf[NioLocalFileSystem].getName)
        val cached = FileSystem.get(LocalUri, hc)
        if (!cached.isInstanceOf[NioLocalFileSystem]) {
          cached.close()
          FileSystem.get(LocalUri, hc)
        }
      }
    }
  }
}
