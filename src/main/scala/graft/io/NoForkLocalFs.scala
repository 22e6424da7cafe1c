package graft.io

import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem without a process per call. Without
  * libhadoop, the stock class runs `chmod` for every setPermission (each
  * create and mkdir) and `readlink` for every getFileLinkStatus (twice
  * per rename). Here both go through java.nio instead, and hand off to
  * the stock code wherever the result could differ: native IO loaded
  * (then Hadoop's behaviour is kept as it is), a symlink, a missing path,
  * or a sticky/setuid/setgid bit in the requested or the current mode
  * (`chmod 0755` keeps a directory's setgid bit; chmod(2) clears it).
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  import NoForkRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    if (NativeIO.isAvailable || (mode & SpecialBits) != 0 ||
        currentMode(f).forall(m => (m & SpecialBits) != 0 || isLink(m)))
      super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]
      OwnerToOther.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(f, bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (NativeIO.isAvailable || Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object NoForkRawLocalFileSystem {
  private val SpecialBits = 0xe00 // octal 7000: setuid, setgid, sticky
  private val OwnerToOther = PosixFilePermission.values.toSeq // r w x × u g o

  /** The st_mode of `f` itself (type bits included), or None if it is missing. */
  private def currentMode(f: java.nio.file.Path): Option[Int] =
    try Some(Files.getAttribute(f, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int])
    catch { case _: java.nio.file.NoSuchFileException => None }

  private def isLink(mode: Int): Boolean = (mode & 0xf000) == 0xa000 // S_IFLNK
}

/** The `AbstractFileSystem` for `file:` URIs that `FileContext` resolves
  * when `fs.AbstractFileSystem.file.impl` names this class: Hadoop's
  * `LocalFs` (checksummed `RawLocalFs`) over [[NoForkRawLocalFileSystem]].
  * Spark's default streaming `CheckpointFileManager` writes the offset,
  * commit, source and sink logs and the state-store files through it.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkLocalFs.Raw(uri, conf))

object NoForkLocalFs {
  /** The Hadoop key that picks the `file:` AbstractFileSystem. */
  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** `RawLocalFs` (whose constructors are package-private) over the no-fork class. */
  private class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new NoForkRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
