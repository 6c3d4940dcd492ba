package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` with chmod, readlink and stat done in
  * process through java.nio. Without libhadoop's native code, Hadoop
  * forks a shell for each: `chmod` on every created file and dir,
  * `readlink` on every link-status lookup (two per `FileContext.rename`)
  * and `ls -ld` on the first permission read of a status. That is
  * milliseconds per file on the commit path of every streaming
  * micro-batch. Everything else, including rename, create and delete,
  * is Hadoop's own code.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  /** Sets exactly the given mode bits, as NativeIO's chmod does. nio
    * has no sticky bit, so a sticky mode goes through Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      inProcess(p)(Files.setPosixFilePermissions(pathToFile(p).toPath, perms))
    }

  /** The fields Hadoop's status carries (length, replication 1, block
    * size, times, qualified path), with mode, owner and group read in
    * the same stat instead of lazily by `ls -ld`. Follows links. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = inProcess(f)(Files.readAttributes(file.toPath,
      "unix:mode,size,isDirectory,lastModifiedTime,lastAccessTime,owner,group"))
    def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, blockSize, millis("lastModifiedTime"), millis("lastAccessTime"),
      // 01777: rwx bits plus sticky, the bits `ls -ld` reports to Hadoop
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      name("owner"), name("group"),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** Hadoop's link status: a link carries its target's attributes (or
    * empty ones when dangling) and a qualified target. Hadoop's forked
    * `readlink` receives the literal `file:/…` string, so it never
    * detects a real link; this does. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (!Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else {
      val target = getLinkTarget(f)
      val st = try getFileStatus(f) catch { case _: FileNotFoundException => null }
      val fi =
        if (st == null) new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, target, f)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, target))
      fi
    }

  /** The unqualified link target (Hadoop's version forks `readlink`). */
  override def getLinkTarget(f: Path): Path =
    new Path(inProcess(f)(Files.readSymbolicLink(pathToFile(f).toPath)).toString)

  private def inProcess[T](p: Path)(op: => T): T =
    try op catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
}

/** The `FileSystem` API's `file:` scheme (`fs.file.impl`): Hadoop's
  * `LocalFileSystem`, so `.crc` files are still written and verified,
  * over [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NoForkRawLocalFileSystem]]: the
  * `FileContext` view of the raw filesystem. */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `FileContext` API's `file:` scheme
  * (`fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs`, a
  * `ChecksumFs` over the raw filesystem. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
