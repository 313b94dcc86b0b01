package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two per-file shell-outs done
  * in-process.
  *
  * Without libhadoop (the Spark distribution ships none), the stock
  * [[RawLocalFileSystem]] forks `chmod` from `setPermission`, which runs
  * after every file it creates and every directory it makes, and forks
  * `readlink` from `getFileLinkStatus`, which FileContext's `rename`
  * calls on both ends. Streaming checkpoints create and rename several
  * small files per micro-batch (offset and commit logs, one state-store
  * delta per stateful partition, each with a `.crc` and a Spark checkpoint
  * checksum file), so those forks, not the bytes written, set the cost of
  * a commit. Here both calls go through `java.nio.file`; what lands on
  * disk, and every status returned, is what the parent would produce.
  *
  *  - `setPermission`: plain rwx bits go through
  *    `Files.setPosixFilePermissions`, which follows a symlink as `chmod`
  *    does. A mode with the sticky bit falls back to the parent's
  *    `chmod`. A missing path raises `NoSuchFileException` where the
  *    parent raises `Shell.ExitCodeException`; both are IOExceptions.
  *  - `getFileLinkStatus` / `getLinkTarget`: the parent's non-native path
  *    (the one this class replaces), with the `readlink` fork replaced by
  *    `Files.readSymbolicLink`. It reads the same target the parent
  *    does, `new File(f.toString)`, so a qualified `file:` path is never
  *    seen as a link by either.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The parent's `deprecatedGetFileLinkStatusInternal`, statement for
    * statement, with an in-process `readlink`. */
  private def linkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link: File.exists follows it and reports false
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {

  /** The nine rwx bits of `mode` as NIO permissions; `PosixFilePermission`
    * lists them from owner-read (0400) down to others-execute (0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }

  /** `FileUtil.readLink` without the fork: the link's target, or "" when
    * `f` is not a symlink or cannot be read (where `readlink` exits
    * non-zero). */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch {
      case _: IOException | _: InvalidPathException => ""
    }
}

/** `fs.file.impl`: Hadoop's checksummed [[LocalFileSystem]] over
  * [[NioRawLocalFileSystem]], for the FileSystem API. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext binding, Hadoop's
  * `LocalFs` (a [[ChecksumFs]] over `RawLocalFs`) over
  * [[NioRawLocalFileSystem]]. Like `LocalFs`, it binds `file:///`
  * whatever URI it is asked for. Spark's `FileContextBasedCheckpointFileManager`
  * reaches the file system through FileContext, so this is the binding
  * that carries offset logs, commit logs and state-store files. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` with [[NioRawLocalFileSystem]] underneath; its
  * constructors are package-private, so the overrides are repeated. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
