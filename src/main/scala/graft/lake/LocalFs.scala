package graft.lake

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a process per file.
  *
  * Without the native `libhadoop`, Hadoop 3.4's [[RawLocalFileSystem]]
  * forks a shell command through `org.apache.hadoop.util.Shell` on two
  * hot paths: `setPermission` runs `chmod` for every file and directory
  * it creates (data files, manifests, `.crc` siblings, checkpoint
  * entries), and `getFileLinkStatus` runs `readlink` for every
  * `FileContext` rename (the streaming offset and commit logs commit
  * that way). One spawn costs 4–5 ms in a JVM on a 4-core host; the
  * `java.nio` call doing the same costs 0.003–0.03 ms. These two
  * overrides do the work in-process and leave everything else, `.crc`
  * checksums and the write-temp-then-rename protocols included, to
  * Hadoop.
  *
  * Registered for the `file:` scheme by the engine's classpath
  * `core-site.xml`, which every Hadoop `Configuration` in the JVM loads:
  * a session-level `spark.hadoop.*` setting would miss sessions built
  * elsewhere, and a runtime `Configuration.set` loses to Hadoop's
  * `FileSystem` cache, whose key ignores the conf.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** Same nine mode bits `chmod` would set; a sticky bit or a non-POSIX
    * store keeps Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val bits = permission.toShort
    val posix = Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) != null
    if (permission.getStickyBit || !posix) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's declaration order is OWNER_READ … OTHERS_EXECUTE,
      // i.e. mode bits 8 down to 0
      for ((perm, i) <- PosixFilePermission.values.zipWithIndex
           if (bits & (1 << (8 - i))) != 0) perms.add(perm)
      Files.setPosixFilePermissions(file, perms)
    }
  }

  /** A non-link's link status is its file status, exactly what Hadoop
    * returns after an empty `readlink`; a missing path still throws
    * `FileNotFoundException`. Real links keep Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[GraftRawLocalFileSystem]]. It must be a [[LocalFileSystem]], because
  * `FileSystem.getLocal` casts to one. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `FileContext` face of [[GraftRawLocalFileSystem]], mirroring
  * Hadoop's `RawLocalFs`, whose constructors are package-private. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the path Spark's
  * `FileContextBasedCheckpointFileManager` takes, mirroring Hadoop's
  * `LocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
