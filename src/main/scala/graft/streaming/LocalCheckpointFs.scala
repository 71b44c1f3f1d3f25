package graft.streaming

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, FSLinkResolver, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` without the per-call processes.
  *
  * Without libhadoop, the stock class runs `chmod` in `setPermission`
  * (once per file it creates, `.crc` files included) and `readlink` in
  * `getFileLinkStatus` (which `FileContext.rename` calls on both ends of
  * every rename). A micro-batch's checkpoint commit makes about twenty
  * such calls, so process starts dominated its cost. This subclass gives
  * the same answers through `java.nio.file`.
  */
private[streaming] class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** Same mode bits as the stock `chmod <%04o>` (or, with libhadoop,
    * its native `chmod(2)`). Falls back to the stock call when NIO cannot
    * say the same thing: a sticky bit to set, or a file that carries
    * setuid/setgid/sticky bits (`chmod` keeps a directory's setgid bit
    * under a four-digit mode; `chmod(2)` through NIO would clear it), or
    * a platform without unix modes.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!NioRawLocalFileSystem.unixModes || permission.getStickyBit ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
  }

  /** The stock (non-`stat`) link status with `readlink` replaced by NIO,
    * probing the same `File` it is handed — the path's string form,
    * scheme included, as stock Hadoop does.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      try if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim
          else ""
      catch { case _: IOException => "" }
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission,
          st.getOwner, st.getGroup, new Path(target), f)
      } catch {
        // a dangling link: File.exists is false for it
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath,
        fi.getSymlink))
    fi
  }
}

private[streaming] object NioRawLocalFileSystem {
  private val unixModes =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]:
  * the same URI and the same overrides.
  */
private[streaming] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file:` `AbstractFileSystem` that `FileContext` — and so every
  * streaming checkpoint (offset and commit logs, state store files,
  * checkpoint metadata) — uses once [[LocalCheckpointFs.install]] ran.
  * Like Hadoop's `LocalFs` it is a `ChecksumFs`, so `.crc` files are
  * written and verified exactly as before; only the raw layer differs.
  * `AbstractFileSystem.get` instantiates it through this (URI, conf)
  * constructor; like `LocalFs`, it ignores the URI.
  */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

object LocalCheckpointFs {
  val Key = "fs.AbstractFileSystem.file.impl"
  private val HadoopDefault = "org.apache.hadoop.fs.local.LocalFs"

  /** Point `file:` `FileContext`s of this session at [[LocalCheckpointFs]].
    * Idempotent; a value other than Hadoop's default (set by the user or
    * a deployment) is left alone, as are `fs.file.impl` and every other
    * scheme.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(Key) == HadoopDefault)
      conf.set(Key, classOf[LocalCheckpointFs].getName)
  }
}
