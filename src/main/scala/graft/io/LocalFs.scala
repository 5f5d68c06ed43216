package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two per-call forks replaced by
  * `java.nio`. Without `libhadoop`, [[RawLocalFileSystem]] runs `chmod` as
  * a child process for every file and directory it creates
  * (`setPermission`), and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both paths. Sticky-bit modes, existing
  * setuid/setgid/sticky bits, symlinks and stores without a `unix` view go
  * to Hadoop's own code, so every case this class does not take behaves
  * exactly as before.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val mode = try Files.getAttribute(f, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
    catch {
      case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException | _: IllegalArgumentException => -1
    }
    // -1: no unix view; 0xA000 (octal 120000): a symlink; 0xE00 (octal
    // 7000): setuid, setgid, sticky
    if (mode == -1 || (mode & 0xF000) == 0xA000 || (mode & 0xE00) != 0 ||
        permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, posix(permission.toShort))
  }

  /** The rwx bits of `mode` (`PosixFilePermission` lists them from 0400 down). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) s.add(b))
    s
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed [[LocalFileSystem]] over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` face of [[ForkFreeRawLocalFileSystem]]: what Hadoop's
  * `RawLocalFs` is to the stock one (its constructors are package-private).
  */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksums kept)
  * over [[ForkFreeRawLocalFs]]. `FileContext` builds it reflectively from
  * `(URI, Configuration)`; like `LocalFs` it always serves `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))
