package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a process per call. Where the
  * native `libhadoop` is not loaded, `RawLocalFileSystem` runs `chmod`
  * for every file and directory it creates (`setPermission`) and
  * `readlink` for every path a `FileContext` rename checks
  * (`getFileLinkStatus`); a streaming micro-batch's offset, commit and
  * state-store files each pay both. This binding does those two calls
  * in-process and leaves everything else (bytes, `.crc` checksums,
  * atomic renames, committers) to Hadoop's own local classes.
  * `Verify.session` binds it for both routes, `FileSystem` (this class)
  * and `FileContext` ([[LocalFs.Checksummed]]).
  *
  * Without the binding, `file:` resolves to the class the last
  * `FileSystem` service entry on the classpath names; with Spark's
  * bundled `hive-exec` that is Hive's `ProxyLocalFileSystem`, a
  * `LocalFileSystem` whose only change is that `rename` onto an existing
  * file returns false (the `FileSystem` contract) instead of replacing
  * it. This class keeps that contract. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

object LocalFs {
  /** The session settings that bind `file:` to these classes. */
  val sessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[Checksummed].getName)

  class Raw extends RawLocalFileSystem {
    /** The nine rwx bits through java.nio; a sticky bit (the only other
      * bit an `FsPermission` carries) still goes to Hadoop's `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

    /** For a path that is not a symlink Hadoop's fallback runs `readlink`,
      * gets an empty target and returns `getFileStatus`: return that
      * directly. A real link (dangling ones included) goes to Hadoop. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `FileContext` route: Hadoop's `LocalFs` (a `ChecksumFs` over
    * `RawLocalFs`) with [[Raw]] underneath. */
  class Checksummed(uri: URI, conf: Configuration)
      extends ChecksumFs(new Delegate(uri, conf))

  /** Hadoop's `RawLocalFs` (whose constructors are package-private),
    * with the same overrides, over [[Raw]]. */
  class Delegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
