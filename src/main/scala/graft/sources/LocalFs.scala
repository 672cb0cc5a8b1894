package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` file system without a child process per call.
  * With no native Hadoop library, the stock `RawLocalFileSystem` forks
  * `chmod` for every permission it sets (each created file and dir)
  * and `readlink` for every link-status query (each `FileContext`
  * rename). [[Raw]] does both in the JVM: it sets the whole mode,
  * sticky bit included, with one `chmod(2)` through NIO's `unix` view,
  * and keeps the stock path only for a path that IS a symlink
  * (dangling or not). [[Checksummed]] is its `FileSystem` form
  * (`fs.file.impl`) and [[Context]] its `FileContext` form
  * (`fs.AbstractFileSystem.file.impl`, used by Spark's streaming
  * checkpoints); `Sessions.cluster` sets both. Without that setting,
  * `FileSystem.get` resolves `file:` to Hive's `ProxyLocalFileSystem`
  * (the Spark distribution's hive-exec jar registers it for the scheme
  * last), which is the stock one except that `rename` onto an existing
  * file returns false instead of replacing it; nothing in graft renames
  * through a Hadoop `FileSystem`, and Hadoop's `FileOutputCommitter`
  * deletes a destination file before it renames onto it. */
object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0xfff))

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's `LocalFileSystem` (checksummed) over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** Hadoop's `LocalFs` (checksummed) over [[Raw]]. `AbstractFileSystem`
    * instantiates it through this `(URI, Configuration)` constructor;
    * `uri` is ignored as there: the local file system is `file:///`. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `RawLocalFs` over [[Raw]], with its overrides. */
  private class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
