package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `file:` filesystem without a process per call.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every
  * directory and file it creates with a permission (9 processes for a
  * one-file parquet write: 5 commit dirs, the part file, `_SUCCESS` and
  * their `.crc`s) and `readlink` for every `getFileLinkStatus`, which
  * each `FileContext` rename of a streaming checkpoint or state-store
  * delta calls. Each fork costs ~2 ms. [[GraftRawLocalFileSystem]] makes
  * the same calls as syscalls through NIO; the output bytes, modes and
  * commit protocol are Hadoop's. With libhadoop loaded, or without the
  * NIO "unix" attribute view, it is Hadoop's filesystem unchanged.
  *
  * `graft.GraftSession.LocalFsConfs` registers it for both Hadoop APIs,
  * checksums kept: [[GraftLocalFileSystem]] (`FileSystem`) and
  * [[GraftLocalFs]] (`FileContext`).
  */
object LocalFs {
  /** Whether Hadoop would fork here and NIO can make the call instead. */
  private[sources] lazy val bySyscall: Boolean =
    !NativeIO.isAvailable && FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private[sources] val Mode = "unix:mode"
  private[sources] val SetIdBits = 0xc00 // S_ISUID | S_ISGID, octal 06000
}

class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import LocalFs._

  /** chmod(2) on the canonical path, as `chmod %04o` would: GNU chmod
    * keeps a directory's setuid/setgid bits under a 4-digit octal mode
    * (a 2775 directory set to 0755 becomes 2755) and clears a file's.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!bySyscall) super.setPermission(p, permission)
    else {
      val file = Paths.get(pathToFile(p).getCanonicalPath)
      val old = Files.readAttributes(file, s"$Mode,isDirectory")
      val kept =
        if (old.get("isDirectory").asInstanceOf[Boolean]) old.get("mode").asInstanceOf[Int] & SetIdBits
        else 0
      Files.setAttribute(file, Mode, Int.box(permission.toShort | kept))
    }

  /** `RawLocalFileSystem`'s deprecated link status, line for line, with
    * the link read by readlink(2) on the string the forked `readlink`
    * got (so a `file:`-qualified path reads as no link, as there).
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (!bySyscall) super.getFileLinkStatus(f)
    else {
      val target = readLink(f)
      val fi =
        try {
          val fs = getFileStatus(f)
          if (target.isEmpty) fs
          else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
            fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup,
            new Path(target), f)
        } catch {
          case _: FileNotFoundException if target.nonEmpty =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
        }
      if (fi.isSymlink)
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
      fi
    }

  private def readLink(f: Path): String =
    try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
}

/** `LocalFileSystem` (checksums) over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]]. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (the `FileContext` checksum wrapper) over
  * [[GraftRawLocalFs]]; like it, always rooted at `file:///`.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
