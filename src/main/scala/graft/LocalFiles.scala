package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without the per-operation process starts.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file
  * and directory it creates with a permission (each `create`/`mkdirs`),
  * and `readlink` for every `getFileLinkStatus`, which FileContext calls
  * twice per rename. Spark's streaming offset and commit logs, the write
  * committer and every parquet part file go through those calls: about
  * 54 forks per CDC epoch, ~5.5 ms per `setPermission` and ~23 ms per
  * FileContext rename. [[ForklessRawLocalFileSystem]] answers both
  * through `java.nio`; `.crc` checksums are kept as they are, by the
  * stock checksum layers over it.
  *
  * [[Engine.configure]] installs the two wrappers on the session's
  * Hadoop configuration (see [[install]]). They cover `file:` paths only.
  */
object LocalFiles {
  /** The `FileSystem` and the FileContext (`AbstractFileSystem`) keys of
    * the `file:` scheme. */
  private val Impls: Seq[(String, Class[_])] = Seq(
    "fs.file.impl" -> classOf[ForklessLocalFileSystem],
    "fs.AbstractFileSystem.file.impl" -> classOf[ForklessLocalFs])

  /** Sets each key the deployment has not set: one that is absent or
    * holds only Hadoop's `core-default.xml` value (the FileContext key
    * names the stock `LocalFs` there). Must run before the first `file:`
    * FileSystem is created from this configuration: Hadoop caches that
    * instance JVM-wide, and Spark's shared state creates it when it is
    * first built. */
  def install(conf: Configuration): Unit =
    Impls.foreach { case (key, cls) =>
      val from = Option(conf.getPropertySources(key)).map(_.toSeq)
      if (conf.get(key) == null || from.contains(Seq("core-default.xml")))
        conf.set(key, cls.getName)
    }
}

/** `RawLocalFileSystem` whose permission and link calls fork no process.
  * A sticky bit or a file store without POSIX attributes falls back to
  * the stock (shell) `setPermission`; a symlink to the stock
  * `getFileLinkStatus`, so both stay exactly Hadoop's semantics. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // without the sticky bit, FsPermission prints as "rwxr-x---"
      val bits = PosixFilePermissions.fromString(permission.toString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** The stock call reads the link target first (a `readlink` fork)
    * and, when there is none, answers `getFileStatus`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over
  * [[ForklessRawLocalFileSystem]]. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext path of Spark's
  * checkpoint logs: Hadoop's `LocalFs` (checksums over `RawLocalFs`)
  * with [[ForklessRawLocalFileSystem]] under it. Like `LocalFs` it
  * ignores the URI it is created for. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructor is package-private) over
  * [[ForklessRawLocalFileSystem]], with the same four overrides. */
class ForklessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForklessRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
