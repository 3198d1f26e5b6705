package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without an OS process per write.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` starts a
  * `chmod` process in `setPermission`, called for every file, `.crc` file
  * and directory a write creates, and a `readlink` process in
  * `getFileLinkStatus`, called on both ends of every `FileContext` rename
  * (streaming checkpoints). Here `setPermission` sets the same mode through
  * `java.nio`; a sticky bit (which `java.nio` cannot express) or a
  * non-POSIX filesystem falls back to Hadoop's own path. A path that is
  * not a symlink gets its plain status, which is what Hadoop returns when
  * `readlink` finds no target. Modes, checksums and the rename protocol
  * stay Hadoop's.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}

/** `fs.file.impl` of graft sessions: a `LocalFileSystem` (so
  * `FileSystem.getLocal` and `.crc` checksums are unchanged) over
  * [[GraftRawLocalFileSystem]].
  *
  * `rename` refuses an existing target file, as does Hive's
  * `ProxyLocalFileSystem`, which Spark's distribution registers for
  * `file://` and so was the local filesystem before this class: a plain
  * `LocalFileSystem` would overwrite the target, and
  * `FixedWidthSource`'s task commit relies on the refusal to let exactly
  * one attempt publish a partition.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl` of graft sessions: the `FileContext`
  * twin of [[GraftLocalFileSystem]], which structured streaming's
  * checkpoint files are written through. It mirrors Hadoop's
  * `local.LocalFs`, a `ChecksumFs` over the raw filesystem, whose
  * constructors hard-wire the stock raw class.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.Raw(uri, conf))

object GraftLocalFs {
  /** Hadoop's `local.RawLocalFs` over [[GraftRawLocalFileSystem]]. */
  final class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new GraftRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
