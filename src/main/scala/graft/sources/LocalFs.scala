package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system without the shell. Without `libhadoop.so`,
  * `RawLocalFileSystem` forks `chmod` on every `create`/`mkdirs` and
  * `readlink` on every `getFileLinkStatus` (twice per `FileContext.rename`),
  * which is most of a streaming micro-batch's checkpoint and state-store
  * cost. These two calls go through `java.nio` here, as native IO would do
  * them; a sticky bit (which nio cannot set) and a real symlink still take
  * Hadoop's own path. [[graft.Tables.sessionBuilder]] installs the pair for
  * both `FileSystem` and `FileContext` (Spark's checkpoint manager).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = new java.util.HashSet[PosixFilePermission]()
      // PosixFilePermission lists owner/group/others × r/w/x, high bit first
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s view of [[NioRawLocalFileSystem]], with the overrides of
  * Hadoop's `RawLocalFs`; symlinks are delegated like every other call. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed [[NioRawLocalFs]], as Hadoop's `LocalFs` wraps `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
