package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` file system without its per-call process
  * starts. Without `libhadoop` (a stock Spark install), the stock
  * class forks `chmod` for every file and directory it creates — a
  * sink part file, its `.crc`, a state delta, an offset-log entry —
  * and `readlink` for both sides of every `FileContext` rename. Two
  * overrides move that work in-process:
  *
  * - [[setPermission]] sets the 9 rwx bits through `java.nio`;
  * - [[getFileLinkStatus]] answers a path that is not a symlink with
  *   [[getFileStatus]], which is what the stock class returns for it
  *   after the `readlink` comes back empty.
  *
  * Whatever NIO cannot express stays on Hadoop's own path: symlinks
  * (real or dangling), sticky/setuid bits and stores without POSIX
  * attributes. Bytes, `.crc` files and rename semantics are the stock
  * ones. [[GraftSession.localFs]] installs it for both Hadoop APIs:
  * [[ForkFreeLocalFileSystem]] (`FileSystem`) and [[ForkFreeLocalFs]]
  * (`FileContext`). */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xfff
    val path = pathToFile(p).toPath
    if ((bits & ~0x1ff) != 0 || Files.isSymbolicLink(path))
      super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's order is owner rwx, group rwx, others rwx
      // — the mode bits from 0400 down to 0001
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(path, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` `FileSystem` (`fs.file.impl`) over
  * [[ForkFreeRawLocalFileSystem]]: stock `LocalFileSystem`, `.crc`
  * files included. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `AbstractFileSystem` twin of [[ForkFreeRawLocalFileSystem]], with
  * the overrides of Hadoop's `RawLocalFs`. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // the OS validates names, as for RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`, what `FileContext` and so the
  * streaming checkpoint and state store use): Hadoop's `LocalFs` over
  * [[ForkFreeRawLocalFs]]. Hadoop builds it reflectively through this
  * (URI, Configuration) constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
