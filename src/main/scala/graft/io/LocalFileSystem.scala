package graft.io

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` for every file and
  * directory it creates and `readlink` for every `getFileLinkStatus` (each
  * FileContext rename: checkpoint WAL, offsets, commits, state-store
  * deltas). Both are done here in-process through `java.nio`; the cases
  * `java.nio` cannot express (the sticky bit, an actual symlink) keep
  * Hadoop's own code, so every answer matches stock Hadoop.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is OWNER_READ .. OTHERS_EXECUTE, i.e.
      // mode bits 8 down to 0
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      for ((perm, i) <- attribute.PosixFilePermission.values.zipWithIndex
           if (mode & (0x100 >> i)) != 0) perms.add(perm)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  // Stock Hadoop asks `readlink` and, when it prints nothing (not a link,
  // or no such path), answers with getFileStatus.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over
  * [[ForkFreeRawLocalFileSystem]], as `LocalFileSystem` wraps the stock one. */
class LocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` (FileContext) face of
  * [[ForkFreeRawLocalFileSystem]], with `RawLocalFs`'s overrides. */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // local file systems differ in what names they accept; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed [[RawLocalFs]], as
  * Hadoop's `LocalFs` wraps its own. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFs(uri, conf))
