package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSDataInputStream, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the child processes.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod`
  * in a new process for every file and directory it creates, and `readlink`
  * for every `getFileLinkStatus` (two per `FileContext` rename, where the
  * `file:` path makes it fail and find nothing). A streaming trigger writes
  * its offset, commit and state-snapshot files through both, so each one
  * paid ~140 process starts of ~5 ms. Those calls (and `getLinkTarget`,
  * the same `readlink`) go through NIO here; everything else, including the
  * `.crc` sidecars and the permission bits, is Hadoop's own.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission) // NIO has no sticky bit
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
    catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val a = Files.readAttributes(file, classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
      val path = makeQualified(f)
      new FileStatus(a.size, false, 1, getDefaultBlockSize(f), a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis, FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
        a.owner.getName, a.group.getName,
        FSLinkResolver.qualifySymlinkTarget(getUri, path, new Path(Files.readSymbolicLink(file).toString)),
        path)
    }
  }

  // the FileContext side asks for the target separately, by the same fork
  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] over the no-fork raw one. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `FileContext` side of [[NoForkRawLocalFileSystem]]: Hadoop's `RawLocalFs`
  * (whose constructors are package-private) with the same overrides.
  */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `LocalFs` equivalent.
  * Like `LocalFs`, it always serves `file:///`; Hadoop's reflective
  * constructor call still passes the requested URI.
  *
  * `open(path)` is the call streaming checkpoint reads make. `FilterFs`
  * hands it straight to the raw filesystem, which never reads the `.crc`
  * sidecar, so it goes through the checksummed `open(path, bufferSize)`
  * here. A file without a sidecar still reads unverified.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(FsConstants.LOCAL_FS_URI, conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
