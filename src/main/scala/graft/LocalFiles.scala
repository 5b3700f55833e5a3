package graft

import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `file:` file system without a process per call. Without the
  * native Hadoop library, `RawLocalFileSystem` forks `chmod` for every
  * file and directory it creates (`.crc` files included) and `readlink`
  * for each side of every `FileContext` rename; that was most of the cost
  * of a streaming trigger's offset-log, commit-log and `_spark_metadata`
  * writes. This one does both through `java.nio`; a mode above 0777 (a
  * sticky bit) and a real symlink still take Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if (mode > 0x1ff) super.setPermission(p, permission) // above 0777
    // rebuilt from the bits: a FileContext mkdir passes an FsCreateModes,
    // whose toString is not "rwxr-xr-x"
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      attribute.PosixFilePermissions.fromString(new FsPermission(mode).toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `FileSystem` API (`fs.file.impl`): checksummed, as `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`): checksummed, as
  * `LocalFs`. These two mirror `LocalFs` and `RawLocalFs`, whose
  * constructors are package-private. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFiles {
  /** Routes a session's `file:` paths, for both Hadoop APIs, to the
    * classes above. Every graft session is built through this. */
  def on(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
