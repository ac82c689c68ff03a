package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-call shell processes.
  *
  * Without a native libhadoop, stock `RawLocalFileSystem` starts a
  * `readlink` process on every `getFileLinkStatus` (which
  * `FileContext.rename` calls several times per rename) and a `chmod`
  * process on every `setPermission` (which runs on every create). The
  * streaming checkpoint path does both for each offset/commit log entry
  * and each state-store delta, plus their `.crc` and checksum sidecars.
  * This subclass answers both from `java.nio` and keeps every other
  * behaviour, including checksums and atomic rename:
  *
  *  - `getFileLinkStatus` of a path that is not a symlink is
  *    `getFileStatus`, exactly what the stock path returns (and the same
  *    `FileNotFoundException` when the path is missing); real symlinks
  *    go through the stock code.
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`; a sticky bit or a non-POSIX
  *    filesystem goes through the stock code.
  *
  * [[GraftSession.localFs]] installs it through the two entry points
  * Hadoop loads: [[LocalFs.Checked]] (`fs.file.impl`) and
  * [[LocalFs.Context]] (`fs.AbstractFileSystem.file.impl`).
  */
class LocalFs extends RawLocalFileSystem {

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      LocalFs.posix(permission.toShort))
    catch {
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }
}

object LocalFs {

  /** rwx bits (0777) as the JDK's permission set. The enum lists owner,
    * group, others, each read/write/execute: bit 8 down to bit 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p) }
    s
  }

  /** `fs.file.impl`: the checksummed `LocalFileSystem` over the shim. */
  class Checked extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl` (what `FileContext`, and so the
    * streaming checkpoint manager, uses): stock `LocalFs` is a
    * `ChecksumFs` over `RawLocalFs`; this is the same over [[Raw]].
    * Hadoop instantiates it through a `(URI, Configuration)`
    * constructor; like stock, it ignores the URI. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(conf))

  /** `RawLocalFs` with the shim as its delegate, mirroring its overrides. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFs, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
