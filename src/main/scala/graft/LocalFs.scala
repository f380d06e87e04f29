package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its three forking calls done
  * through java.nio. Without native libhadoop, stock `RawLocalFileSystem`
  * runs `chmod` for every file and directory it creates and `readlink`
  * for every link-status lookup (FileContext makes several per rename);
  * these answer the same without starting a process. Everything else,
  * checksums and renames included, is the stock code.
  */
private[graft] class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The stock call runs `chmod %04o` on the canonical path. GNU chmod
    * with a four-digit mode keeps a directory's set-user-ID and
    * set-group-ID bits (chmod(2) would clear them), and an FsPermission
    * cannot carry those bits, so a directory keeps its own.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioRawLocalFileSystem.unixView) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      val kept =
        if (Files.isDirectory(file))
          Files.getAttribute(file, "unix:mode").asInstanceOf[Integer] &
            NioRawLocalFileSystem.SetIds
        else 0
      Files.setAttribute(file, "unix:mode", Integer.valueOf(permission.toShort | kept))
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!NioRawLocalFileSystem.unixView) super.getFileLinkStatus(f)
    else {
      val status = linkStatus(f)
      if (status.isSymlink)
        status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri,
          status.getPath, status.getSymlink))
      status
    }

  override def getLinkTarget(f: Path): Path =
    if (!NioRawLocalFileSystem.unixView) super.getLinkTarget(f)
    else linkStatus(f).getSymlink

  /** The stock unresolved status: `readlink` on `new File(f.toString)`
    * gives the target ("" when that is not a link, which is also what a
    * qualified `file:` path gives), then a plain status for a non-link,
    * the status with the target for a link, and an empty status with the
    * target for a dangling link. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: IOException | _: InvalidPathException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission,
        st.getOwner, st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

private[graft] object NioRawLocalFileSystem {
  /** S_ISUID | S_ISGID, octal 6000. */
  val SetIds = 0xC00

  /** Where the platform has no POSIX mode attribute, every call is the
    * stock one. */
  val unixView: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** `fs.file.impl`: the checksummed local FileSystem over the nio raw one. */
private[graft] class NioLocalFileSystem
  extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the local FileContext file system
  * streaming checkpoints write through: stock `LocalFs` over the nio raw
  * one. `RawLocalFs`'s constructors are package-private, so its three
  * overrides are repeated here. Hadoop constructs it with a URI and a
  * configuration; like `LocalFs` it serves `file:///` whatever the URI. */
private[graft] class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
