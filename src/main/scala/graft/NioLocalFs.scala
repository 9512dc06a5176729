package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every graft session binds (`GraftSession`).
  *
  * Without Hadoop's native library (`NativeIO.isAvailable == false`), the
  * stock `RawLocalFileSystem` forks `chmod` for every file or directory it
  * creates with a permission and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` runs on both ends. A
  * streaming checkpoint write (`CheckpointFileManager.createAtomic`:
  * create temp + `.crc`, rename both) pays several forks, about 21 ms on
  * a 4-core host, and a micro-batch makes at least three such writes
  * (offset log, commit log, state store). This subclass answers the two
  * calls through java.nio instead (1.0 ms per `createAtomic`); everything
  * else, the `.crc` checksums and the rename-based atomic writes included,
  * is the stock code, so the bytes on disk do not change.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through `Files.setPosixFilePermissions`, which
    * follows a symlink as `chmod` does; a mode with the sticky bit keeps
    * the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.perms(mode))
  }

  /** For a path that is not a symlink the stock code returns
    * `getFileStatus(f)` (missing paths throw its `FileNotFoundException`);
    * real symlinks still go to the stock code. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // declaration order is owner, group, others × read, write, execute,
  // i.e. mode bits 0400 down to 0001
  private val Bits = PosixFilePermission.values

  def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (0x100 >> i)) != 0) s.add(Bits(i))
    s
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` API over the NIO raw
  * filesystem, as `LocalFileSystem` is over the stock one. Without the
  * binding, `file:` resolves to the last provider on the classpath, which
  * with Spark's jars is hive-exec's `ProxyLocalFileSystem`; its one
  * override is kept, so rename onto an existing file still answers false
  * (the `FileSystem` contract) instead of replacing the file. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The `FileContext` view of the NIO raw filesystem, with the overrides
  * of `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are
  * package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` API,
  * which `CheckpointFileManager` writes through, as `LocalFs` is over the
  * stock one (and, like it, on the local URI whatever `uri` names). */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
