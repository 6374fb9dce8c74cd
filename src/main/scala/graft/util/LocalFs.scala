package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without a process per call. Without a
  * native libhadoop, `RawLocalFileSystem` runs `chmod` for every file and
  * directory it creates with a mode and `readlink` for every link probe
  * (each FileContext rename probes its source and target). This class does
  * both through java.nio and is otherwise Hadoop's: a mode with bits
  * beyond 0777 (sticky) and a path that is a symbolic link still take
  * Hadoop's own code. [[graft.GraftSession.jvmConfs]] registers it for `file:`
  * under both Hadoop APIs. */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // the enum lists owner rwx, group rwx, others rwx: mode bits 8 down to 0
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  /** Hadoop's result for a path that is not a link is its `getFileStatus`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[LocalFs]]. */
  class Checksummed extends LocalFileSystem(new LocalFs)

  /** [[LocalFs]] behind FileContext's API, member for member as Hadoop's
    * `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are
    * package-private). */
  class RawFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new LocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed
    * `org.apache.hadoop.fs.local.LocalFs` over [[RawFs]]. */
  class ChecksummedFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))
}
