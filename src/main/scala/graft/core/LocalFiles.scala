package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem: Hadoop's local filesystem without a
  * process fork per file. [[Tables.configure]] installs it for both of
  * Hadoop's filesystem APIs:
  *  - `FileSystem` (`fs.file.impl`): [[GraftLocalFileSystem]];
  *  - `FileContext` (`fs.AbstractFileSystem.file.impl`): [[GraftLocalFs]],
  *    which Spark's streaming checkpoint manager (offset log, commit
  *    log, RocksDB changelogs and snapshots) writes through.
  *
  * Without libhadoop's native code, Hadoop's `RawLocalFileSystem` forks
  * `chmod` on every file create and every mkdir (`setPermission` →
  * `Shell.execCommand`), and `readlink` on every rename
  * (`getFileLinkStatus` → `FileUtil.readLink`). A streaming checkpoint
  * creates and renames a few files per state partition per micro-batch,
  * so these forks were most of a live batch's state commit time. Only
  * those two methods change, here; every other call, checksums
  * included, is Hadoop's own code.
  *
  * The Hadoop surface this leans on is all in this file:
  * `RawLocalFileSystem`, `LocalFileSystem`, and the
  * `@InterfaceAudience.Private` classes `DelegateToFileSystem`,
  * `ChecksumFs` and `LocalConfigKeys`. A Hadoop upgrade that changes
  * them breaks here. A session not built through [[Tables.configure]]
  * keeps Hadoop's classes and its forks.
  *
  * Here `setPermission` and `getFileLinkStatus` run in-process through
  * `java.nio`; everything else is inherited. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `Files.setPosixFilePermissions`. A mode
    * NIO cannot express (the sticky bit) or a filesystem without POSIX
    * attributes goes to Hadoop. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is OWNER_READ .. OTHERS_EXECUTE,
      // which is mode bit 8 .. bit 0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** A path that is not a symbolic link has the status `getFileStatus`
    * gives, which is what Hadoop returns for it (and a missing path
    * throws `FileNotFoundException` the same way). A real link goes to
    * Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `LocalFileSystem` (checksummed) over [[NoForkRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `FileContext`'s raw local filesystem over [[NoForkRawLocalFileSystem]].
  * The body is Hadoop's `RawLocalFs` (whose constructors are
  * package-private): its server defaults and its name check; its
  * default port, -1, is `DelegateToFileSystem`'s for this filesystem. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s `file:` filesystem: Hadoop's `LocalFs` (checksummed)
  * over [[GraftRawLocalFs]]. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
