package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system `file:` paths bind to, through the
  * `core-site.xml` in main resources (`fs.file.impl` for the
  * `FileSystem` API, `fs.AbstractFileSystem.file.impl` for
  * `FileContext`, which Spark's checkpoint managers use).
  *
  * Without `libhadoop.so`, Hadoop's [[RawLocalFileSystem]] runs a shell
  * command where the native library would make a system call: `chmod`
  * for every file or directory it creates, and `readlink` for every
  * link status, i.e. twice per `FileContext` rename. A checkpointed
  * micro-batch (offset log, commit log, state-store deltas and their
  * `.crc` files) pays dozens of process starts for that. This class
  * does those two operations with `java.nio.file` instead; everything
  * else (checksums, rename, the statuses returned, the errors raised)
  * is Hadoop's own code.
  *
  * On a cluster, the `core-site.xml` under `HADOOP_CONF_DIR` comes
  * first on the classpath, so this binding is absent there and
  * Hadoop's `LocalFileSystem`/`LocalFs` run unchanged. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` without the fork. Sticky and set-id bits are left to
    * Hadoop's call: nio cannot set them, and `chmod` keeps a
    * directory's setuid/setgid bits where `chmod(2)` through nio
    * would clear them. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || NioRawLocalFileSystem.dirWithIdBits(file))
      super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(permission))
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist")
      }
  }

  /** Hadoop's link status with the link target read by nio instead of
    * a `readlink` process. Like Hadoop's, it looks the link up at
    * `f.toString`, so a scheme-qualified path never reads as a link;
    * the status of a link still reads its permission the way Hadoop
    * does. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    val st =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }
}

object NioRawLocalFileSystem {

  private val Bits = PosixFilePermission.values // owner rwx, group rwx, others rwx

  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = p.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (1 << (8 - i))) != 0) set.add(Bits(i))
    set
  }

  private def dirWithIdBits(f: NioPath): Boolean =
    try {
      val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR, S_ISUID|S_ISGID
    } catch { case _: IOException => false }

  /** What `readlink f` prints, or "" where it fails, as Hadoop's
    * `FileUtil.readLink`. */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** Hadoop's `LocalFileSystem` (checksummed, `FileSystem` API) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `LocalFs` (checksummed, `FileContext` API) over
  * [[NioRawLocalFileSystem]]: the same delegate Hadoop's `RawLocalFs`
  * builds, with its defaults. Hadoop constructs it from (uri, conf);
  * like `LocalFs`, it serves `file:///` whatever the uri. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
