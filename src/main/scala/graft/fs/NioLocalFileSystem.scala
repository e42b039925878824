package graft.fs

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.annotation.nowarn
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its two per-operation shell-outs
  * replaced by NIO calls. Without libhadoop, `setPermission` (which
  * `create` and `mkdirs` call for every file and directory) starts a
  * `chmod` process, and `getFileLinkStatus` (`FileContext.exists`, every
  * rename) starts a `readlink` process. Everything else is Hadoop's.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** The same `rwx` bits through `Files.setPosixFilePermissions`. The
    * sticky bit has no NIO form, so it, like a non-POSIX filesystem,
    * takes Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !Posix) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        Bits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava)
    }

  /** A real symlink takes Hadoop's path. Anything else gets what Hadoop
    * returns once its `readlink` has printed nothing: `getFileStatus`,
    * which throws `FileNotFoundException` for a missing path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  // PosixFilePermission runs OWNER_READ .. OTHERS_EXECUTE: mode bits 8 .. 0
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex.map {
    case (perm, i) => perm -> (1 << (8 - i))
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]], so `.crc` sidecars are written as before.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` side): Hadoop's
  * `LocalFs`, a `ChecksumFs` over `RawLocalFs`, rebuilt over
  * [[NioRawLocalFileSystem]] because both of their constructors are
  * package-private. Like `LocalFs`, it ignores `uri`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @nowarn("cat=deprecation")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
