package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, ChecksumFileSystem, ChecksumFs, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem, NoForkRawLocalFs}

/** graft's `file:` filesystems (graft.io.LocalFs): what a session
  * resolves, and the Hadoop behaviour the in-process chmod, readlink
  * and stat must keep — exact mode bits, the umask, link detection,
  * `.crc` verification and `Rename.NONE` refusing an existing target.
  */
class LocalFsSpec extends AnyFunSuite with SparkFixture {

  private def conf = spark.sparkContext.hadoopConfiguration
  private val root = new URI("file:///")
  private def fs = FileSystem.get(root, conf)
  private def fc = FileContext.getFileContext(root, conf)
  private def newDir(tag: String) = Files.createTempDirectory(s"graft_localfs_$tag")
  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)
  private def mode(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def write(p: Path, text: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def read(p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a GraftSession resolves file: to graft's classes on both Hadoop APIs") {
    assert(fs.isInstanceOf[NoForkLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NoForkRawLocalFileSystem])
    val afs = fc.getDefaultFileSystem
    assert(afs.isInstanceOf[NoForkLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NoForkRawLocalFs])
  }

  test("setPermission sets exact mode bits; mkdirs applies the configured umask") {
    val d = newDir("perm")
    val f = d.resolve("f")
    Files.writeString(f, "x")
    for ((m, s) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------")) {
      fs.setPermission(hpath(f), octal(m))
      assert(mode(f) == s, s"FileSystem chmod $m")
      assert(fs.getFileStatus(hpath(f)).getPermission == octal(m), s"status after chmod $m")
      fc.setPermission(hpath(f), octal("600"))
      assert(mode(f) == "rw-------", "FileContext chmod 600")
    }
    for ((umask, s) <- Seq("022" -> "rwxr-xr-x", "027" -> "rwxr-x---")) {
      val c = new Configuration(conf)
      c.set("fs.permissions.umask-mode", umask)
      val local = new NoForkLocalFileSystem
      local.initialize(root, c)
      try assert(local.mkdirs(hpath(d.resolve(s"fs$umask/a")))) finally local.close()
      assert(mode(d.resolve(s"fs$umask/a")) == s && mode(d.resolve(s"fs$umask")) == s,
        s"FileSystem.mkdirs under umask $umask")
      FileContext.getFileContext(root, c)
        .mkdir(hpath(d.resolve(s"fc$umask/a")), FsPermission.getDirDefault, true)
      assert(mode(d.resolve(s"fc$umask/a")) == s, s"FileContext.mkdir under umask $umask")
    }
  }

  test("stat: a real symlink reports its target, a plain file is no link, a missing path throws") {
    val d = newDir("link")
    val target = d.resolve("target")
    Files.writeString(target, "hello")
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val st = fs.getFileLinkStatus(hpath(link))
    assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString)
    assert(st.getLen == 5, "a link's status carries its target's attributes")
    assert(fs.getLinkTarget(hpath(link)).toString == target.toString)
    assert(fc.getFileLinkStatus(hpath(link)).getSymlink.toUri.getPath == target.toString)
    assert(fs.getFileStatus(hpath(link)).isFile, "getFileStatus follows the link")
    val plain = fs.getFileLinkStatus(hpath(target))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 5)
    assert(plain.getPath.toUri.getScheme == "file" && plain.getPath.toUri.getPath == target.toString)
    assert(plain.getOwner == Files.getOwner(target).getName)
    val dir = fs.getFileStatus(hpath(d))
    assert(dir.isDirectory && dir.getModificationTime == Files.getLastModifiedTime(d).toMillis)
    val missing = hpath(d.resolve("missing"))
    intercept[FileNotFoundException](fs.getFileStatus(missing))
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
  }

  test("both APIs write .crc files, and a flipped byte fails the checksum read") {
    val d = newDir("crc")
    write(hpath(d.resolve("fc.txt")), "the quick brown fox")
    val out = fs.create(hpath(d.resolve("fs.txt")))
    try out.write("jumps over the lazy dog".getBytes(UTF_8)) finally out.close()
    // Read through a bare ChecksumFileSystem over the same raw
    // filesystem: LocalFileSystem's read would move the corrupt file to
    // a bad_files dir at the top of the device, and a ChecksumFs
    // (FileContext) read of a file this small does not detect the flip,
    // over Hadoop's stock LocalFs too
    val checked = new ChecksumFileSystem(new NoForkRawLocalFileSystem) {}
    checked.initialize(root, conf)
    try for (name <- Seq("fc.txt", "fs.txt")) {
      assert(Files.exists(d.resolve(s".$name.crc")), s"$name has its checksum file")
      val raf = new RandomAccessFile(d.resolve(name).toFile, "rw")
      try { raf.seek(4); val b = raf.read(); raf.seek(4); raf.write(b ^ 1) } finally raf.close()
      val in = checked.open(hpath(d.resolve(name)))
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    } finally checked.close()
  }

  test("FileContext.rename: NONE refuses an existing target, OVERWRITE moves the .crc with the data") {
    val d = newDir("rename")
    val (a, b) = (hpath(d.resolve("a")), hpath(d.resolve("b")))
    write(a, "new contents, longer than the old")
    write(b, "old")
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    assert(read(b) == "old" && read(a).startsWith("new"), "a refused rename moves nothing")
    val (da, db) = (hpath(d.resolve("da")), hpath(d.resolve("db")))
    fc.mkdir(da, FsPermission.getDirDefault, false)
    fc.mkdir(db, FsPermission.getDirDefault, false)
    intercept[FileAlreadyExistsException](fc.rename(da, db, Options.Rename.NONE))
    fc.rename(a, b, Options.Rename.OVERWRITE)
    assert(!Files.exists(d.resolve("a")) && !Files.exists(d.resolve(".a.crc")))
    assert(read(b) == "new contents, longer than the old",
      "b verifies against the moved checksum, not its old one")
  }
}
