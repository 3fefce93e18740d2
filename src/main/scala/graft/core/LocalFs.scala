package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem every session registers (see [[Sessions]]).
  *
  * Without libhadoop (no Spark binary distribution ships it),
  * `RawLocalFileSystem.setPermission` forks `/bin/chmod` — and it runs
  * on every file create (data file and `.crc` sidecar) and every mkdir,
  * so each parquet file a store, sink or checkpoint writes costs about
  * three child processes. [[Raw]] sets the same 9 permission bits with
  * one chmod syscall instead, and answers symlink probes without
  * forking `readlink`. Everything else — checksummed wrappers,
  * `.crc` sidecars, file bytes, the commit protocol — is Hadoop's own.
  */
object LocalFs {

  /** `RawLocalFileSystem` with fork-free `setPermission` and
    * `getFileLinkStatus`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if (NativeIO.isAvailable || (bits & ~0x1ff) != 0 ||
          !chmod(pathToFile(p).toPath, permission))
        super.setPermission(p, permission)
    }

    /** Hadoop asks "is this a symlink" by forking `readlink` — on every
      * FileContext rename, so on every checkpoint commit. A path that is
      * no symlink gets the same answer, its plain status, without it. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** false ⇒ the caller takes Hadoop's path: the file store has no POSIX
    * view, or the target carries setuid/setgid bits, which Hadoop's
    * 4-digit `chmod` keeps on a directory and a 9-bit chmod would clear. */
  private def chmod(f: JPath, permission: FsPermission): Boolean =
    try {
      if ((Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) != 0)
        false
      else {
        // "rwxr-x---": the 9-bit symbolic form both APIs share
        Files.setPosixFilePermissions(f,
          PosixFilePermissions.fromString(permission.toString))
        true
      }
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        false
    }

  /** `fs.file.impl`: the checksummed `FileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: the `FileContext` binding that
    * Structured Streaming's checkpoint manager writes offsets, commits
    * and metadata through — Hadoop's `local.LocalFs` over [[Raw]]. */
  class Context(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `local.RawLocalFs` (its constructor is package-private),
    * with the same three overrides, delegating to [[Raw]]. */
  private class RawContext(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
