package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its permission work done in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` forks a
  * child process for every permission it touches: `chmod` for each file
  * and directory it creates (create and mkdirs set the umasked mode
  * afterwards), `ls -ld` the first time anything reads a status's
  * permission, owner or group (every `LocatedFileStatus`, so every
  * recursive listing), and `readlink` for each `getFileLinkStatus` (each
  * FileContext rename of a streaming checkpoint file). The measured cost
  * is in the scaladoc of `GraftSession.localFileSystem`.
  *
  * This subclass answers the same questions through `java.nio`:
  *  - [[setPermission]] sets the same 9 bits with
  *    `Files.setPosixFilePermissions`; a sticky bit, or a filesystem
  *    without a POSIX view, keeps Hadoop's own path.
  *  - [[getFileStatus]], [[listStatus]] and [[getFileLinkStatus]] return
  *    statuses whose permission, owner and group are read with one
  *    no-follow `stat` (the `unix` attribute view, whose mode carries the
  *    sticky bit `ls -ld` reports). Length, times and path are Hadoop's.
  *    A symlink keeps Hadoop's link status.
  *
  * Checksums are untouched: [[NioLocalFileSystem]] and [[NioLocalFs]]
  * wrap this class in Hadoop's own checksummed layers, exactly as
  * `LocalFileSystem` and `LocalFs` wrap the stock raw filesystem.
  * `GraftSession.build` installs both. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      try { Files.setPosixFilePermissions(file, posixBits(permission.toShort)); () }
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException => throw notFound(p, e)
      }
    }

  override def getFileStatus(f: Path): FileStatus = withOwnership(super.getFileStatus(f))

  /** A directory's entries already come through [[getFileStatus]]; only
    * a listed plain file takes Hadoop's lazy status, so resolve it here. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** `st` with permission, owner and group from one no-follow stat. */
  private def withOwnership(st: FileStatus): FileStatus = {
    val attrs =
      try Files.readAttributes(pathToFile(st.getPath).toPath, "unix:mode,owner,group",
        LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: UnsupportedOperationException => return st
        case e: NoSuchFileException => throw notFound(st.getPath, e)
      }
    val mode = attrs.get("mode").asInstanceOf[Integer].intValue
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime,
      new FsPermission((mode & PermissionMask).toShort),
      attrs.get("owner").asInstanceOf[UserPrincipal].getName,
      attrs.get("group").asInstanceOf[GroupPrincipal].getName,
      st.getPath)
  }
}

object NioRawLocalFileSystem {
  /** rwx for user, group and other, plus the sticky bit — the bits an
    * `FsPermission` holds (`ls -ld` shows a setuid `s` as plain `x`). */
  private val PermissionMask = 0x3ff

  /** `PosixFilePermission` is declared in Unix bit order, owner read
    * first: ordinal i is bit 8 - i of the mode. */
  private val byBit = PosixFilePermission.values.toSeq.map(p => (1 << (8 - p.ordinal)) -> p)

  private def posixBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    byBit.foreach { case (bit, p) => if ((mode & bit) != 0) set.add(p) }
    set
  }

  private def notFound(p: Path, cause: NoSuchFileException): FileNotFoundException = {
    val e = new FileNotFoundException(s"File $p does not exist")
    e.initCause(cause)
    e
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]], so `.crc` sidecars are written and verified
  * exactly as before. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (FileContext, which the streaming
  * checkpoint uses): `ChecksumFs` over [[NioRawLocalFileSystem]], the
  * stock `LocalFs` layering. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** The stock `RawLocalFs` delegate (whose constructor is not public)
  * over [[NioRawLocalFileSystem]], with the same local-filesystem
  * answers: no default port, local server defaults, any name valid. */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("superseded by getServerDefaults(Path)", "Hadoop 2.8")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
