package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileContext, FileStatus,
  FileSystem, FilterFileSystem, FSLinkResolver, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its forked processes. Without the
  * native `libhadoop` (Spark's distribution ships none), the stock class
  * starts a `chmod` for every file or directory it creates, an `ls -ld` the
  * first time a listed file's permission, owner or group is asked for, and
  * a `readlink` for every `getFileLinkStatus` (two per `FileContext.rename`).
  * Here those three answer from `java.nio.file`'s `unix` attribute view:
  * one `stat` and one `chmod` system call, with the same results
  * (`ForkFreeLocalFsSpec` pins the parity):
  *
  *  - `getFileStatus` (and so `listStatus`/`listFiles`): every field
  *    follows a symlink (Hadoop runs `ls -ld` on the canonical path); the
  *    sticky bit is kept, setuid and setgid are dropped, as
  *    `FsPermission.valueOf` drops them;
  *  - `setPermission`: `chmod(2)` with `FsPermission.toShort` (sticky bit
  *    included), the mode the native path sets;
  *  - `getFileLinkStatus`: Hadoop hands `readlink` the path's `toString`,
  *    which for a qualified path is a `file:` URI that names no file, so a
  *    qualified symlink reads as its target. That is mirrored, not fixed.
  *
  * Where the platform has no `unix` view (`unixView` false), every method
  * is the stock one.
  */
class ForkFreeRawLocalFileSystem(unixView: Boolean) extends RawLocalFileSystem {
  def this() = this(ForkFreeLocalFs.UnixView)

  // the stock class keeps this in a private field, set the same way
  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath, ForkFreeLocalFs.StatusAttrs)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      new FileStatus(a.get("size").asInstanceOf[java.lang.Long], a.get("isDirectory") == java.lang.Boolean.TRUE,
        1, blockSize, millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Integer] & 0x3ff).toShort), // rwx bits + sticky
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  /** A directory's entries already go through [[getFileStatus]]; the stock
    * single-file answer builds its status directly, so it is routed here.
    */
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (unixView && file.exists() && !file.isDirectory) Array(getFileStatus(f))
    else super.listStatus(f)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView) super.setPermission(p, permission)
    else Files.setAttribute(pathToFile(p).toPath, "unix:mode", Integer.valueOf(permission.toShort.toInt))

  /** The stock `deprecatedGetFileLinkStatusInternal`, with `readlink` read
    * through `java.nio.file` from the same `File(f.toString)`.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target = ForkFreeLocalFs.readLink(new File(f.toString))
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
        new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty => // a dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!unixView) super.getFileLinkStatus(f)
    else {
      val st = linkStatus(f)
      if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

  override def getLinkTarget(f: Path): Path =
    if (!unixView) super.getLinkTarget(f) else linkStatus(f).getSymlink
}

/** The `file:` [[FileSystem]]: the stock checksummed `LocalFileSystem`
  * (same `.crc` layout) over [[ForkFreeRawLocalFileSystem]]. Bound by
  * `fs.file.impl`.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `file:` `AbstractFileSystem` behind `FileContext` (Spark's state
  * store, streaming logs and checkpoint files go through it): the stock
  * `ChecksumFs` over a `DelegateToFileSystem` of
  * [[ForkFreeRawLocalFileSystem]], as Hadoop's own `LocalFs`/`RawLocalFs`
  * are built over `RawLocalFileSystem`. Bound by
  * `fs.AbstractFileSystem.file.impl`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {

  /** The Hadoop configuration keys that bind the `file` scheme here. */
  val Bindings: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  private[sources] val UnixView: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private[sources] val StatusAttrs =
    "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory"

  /** `readlink` without a process: the link's target, or "" when `file` is
    * not a symlink or cannot be read (as `FileUtil.readLink` answers).
    */
  private[sources] def readLink(file: File): String =
    try {
      val p = file.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }

  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  private[sources] class Raw(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("as AbstractFileSystem.getServerDefaults()", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** The raw class behind `FileSystem.get(file:///)` and the class of
    * `FileContext`'s local filesystem under `conf`. The first is whatever
    * Hadoop cached for the JVM, which need not follow `conf`.
    */
  def boundClasses(conf: Configuration): (String, String) = {
    val fs = FileSystem.get(URI.create("file:///"), conf) match {
      case f: FilterFileSystem => f.getRawFileSystem
      case f => f
    }
    (fs.getClass.getName, FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass.getName)
  }

  /** [[boundClasses]] when the binding took. */
  val Bound: (String, String) = (classOf[ForkFreeRawLocalFileSystem].getName, classOf[ForkFreeLocalFs].getName)
}
