package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the shell. Without libhadoop,
  * stock `RawLocalFileSystem` forks `chmod` for every create and mkdir
  * and `readlink` for every link-status probe (eight per
  * `FileContext.rename`), which put thousands of process starts on the
  * critical path of every micro-batch's WAL, state-store and lake
  * writes. Both calls go through java.nio here; everything else —
  * including the symlink case and sticky bits — is stock. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
    catch { case _: UnsupportedOperationException =>
      super.setPermission(p, permission) }

  /** A path that is not a symlink has exactly the status stock Hadoop
    * returns when `readlink` prints nothing: `getFileStatus(p)`. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed (`.crc`) FileSystem-API wrapper. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext-API view of [[NioRawLocalFileSystem]], mirroring
  * Hadoop's `RawLocalFs`, whose constructors are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
                                 FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed (`.crc`)
  * FileContext-API wrapper, as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFs {
  private val Resource = "graft-localfs.xml"

  /** Maps both `file` keys to the classes above through a default
    * resource, so every Configuration created afterwards (the
    * SparkContext's included) picks them up, while an explicit
    * `spark.hadoop.*` value still overrides it. Added only while both keys
    * hold Hadoop's stock values, so a `core-site.xml` choice also wins. */
  private lazy val installed: Boolean = {
    val stock = new Configuration()
    val ok = Option(stock.get("fs.file.impl"))
               .forall(_ == classOf[LocalFileSystem].getName) &&
             stock.get("fs.AbstractFileSystem.file.impl") ==
               classOf[LocalFs].getName
    if (ok) Configuration.addDefaultResource(Resource)
    ok
  }

  /** Installs the local file system once per JVM; true when installed. */
  def install(): Boolean = installed

}
