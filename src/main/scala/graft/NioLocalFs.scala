package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session: Hadoop's
  * [[RawLocalFileSystem]] with its two process spawns replaced by NIO.
  *
  * Without the native libhadoop, the stock class forks `chmod` for every
  * file and directory it creates with a mode and `readlink` for every
  * `getFileLinkStatus`, which FileContext calls twice per rename. A
  * streaming checkpoint writes and renames a handful of small files per
  * micro-batch (offsets, commits, state deltas, their `.crc` siblings), so
  * those forks set the batch's fixed cost. Here:
  *  - `setPermission` applies the same rwx bits with
  *    `Files.setPosixFilePermissions`; only a sticky-bit mode, which NIO
  *    cannot express, still goes through the stock `chmod`;
  *  - `getFileLinkStatus` answers a path that is not a symlink (missing
  *    paths included) with `getFileStatus`, which is what the stock class
  *    returns for it after its `readlink`; real symlinks still take the
  *    stock path.
  * Everything else (checksums, rename semantics, modes) is the stock code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  // without the sticky bit, FsPermission.toString is the 9-character
  // `rwxr-x---` form PosixFilePermissions parses
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed FileSystem over [[NioRawLocalFileSystem]],
  * as `LocalFileSystem` is over `RawLocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext view Spark's
  * checkpoint manager uses: Hadoop's `LocalFs` (a ChecksumFs over
  * `RawLocalFs`) rebuilt over [[NioRawLocalFileSystem]]. Hadoop
  * instantiates it through this (URI, Configuration) constructor; like
  * `LocalFs` it always serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with the same
  * overrides (its constructors are package-private). */
private class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // the OS validates local names, as in RawLocalFs
  override def isValidName(src: String): Boolean = true
}
