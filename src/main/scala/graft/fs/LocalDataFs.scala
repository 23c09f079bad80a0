package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => NPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme's raw layer without process forks.
  *
  * Without the native Hadoop library, stock `RawLocalFileSystem` applies
  * the mode of every file it creates and every directory it makes by
  * FORK+EXEC'ing `chmod` (3.5–4.3 ms each on a shared 4-core container),
  * and answers `getFileLinkStatus` — which `FileContext.rename` calls
  * twice — by exec'ing `readlink`. A partitioned append pays the former for every
  * parquet file, `.crc` sidecar, partition dir and `_temporary` dir; the
  * streaming checkpoint pays both on every trigger. This class makes the
  * same two calls in-process:
  *
  *  - `setPermission` applies the (already umasked) mode with
  *    `Files.setPosixFilePermissions` — the same chmod(2) call, with the
  *    same mode bits, that native Hadoop's `NativeIO.POSIX.chmod` makes.
  *    Modes outside the nine rwx bits (sticky) and a store without POSIX
  *    attributes keep the stock path.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus` — exactly what the stock method returns once
  *    `readlink` prints nothing; symlinks keep the stock path.
  *
  * Everything else — `.crc` sidecars (through [[LocalDataFileSystem]] /
  * [[LocalDataFs]]), path resolution, listings — is stock, and the class
  * still IS a `RawLocalFileSystem`, so [[ControlFs]]'s nio fast path keeps
  * matching it. `GraftSession` binds it for both Hadoop APIs.
  */
class LocalDataRawFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // FsPermission carries no setuid/setgid bits; sticky is the one
    // extra bit its nine-letter rwx string would not spell
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try {
        Files.setPosixFilePermissions(nioPath(p), PosixFilePermissions.fromString(permission.toString))
        ()
      } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(nioPath(f))) super.getFileLinkStatus(f)
    else getFileStatus(f)

  private def nioPath(p: Path): NPath = pathToFile(p).toPath
}

/** `fs.file.impl`: the checksummed local filesystem (`.crc` sidecars as
  * stock `LocalFileSystem` writes them) over [[LocalDataRawFileSystem]] —
  * Spark's data writes, `FileOutputCommitter` and the manifest commit
  * protocol go through this one. */
class LocalDataFileSystem extends LocalFileSystem(new LocalDataRawFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` twin, which
  * Structured Streaming's checkpoint uses. Stock `LocalFs` constructs its
  * own `RawLocalFileSystem`, so this is `ChecksumFs` over the same
  * delegation stock `RawLocalFs` does, with its three local overrides. */
class LocalDataFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalDataRawFs(uri, conf))

class LocalDataRawFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new LocalDataRawFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

private[graft] object LocalDataFs {

  /** The Hadoop keys that bind `file:` to these classes, for both APIs. */
  val Bindings: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalDataFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalDataFs].getName)
}
