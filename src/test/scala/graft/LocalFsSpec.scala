package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The no-fork local filesystem keeps Hadoop's contract: permission bits,
  * `.crc` sidecars and checksum verification, overwrite-renames and
  * symlinks, and it is what a session's `file` scheme resolves to.
  */
class LocalFsSpec extends SparkSuite {

  private def hadoopConf = spark.sessionState.newHadoopConf()
  private def localFs = FileSystem.getLocal(hadoopConf)
  private def fc = FileContext.getFileContext(new URI("file:///"), hadoopConf)

  private def dir(prefix: String): java.nio.file.Path = Paths.get(SparkSuite.scratchDir(prefix))
  private def hpath(p: java.nio.file.Path): Path = new Path(p.toUri)
  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(p: java.nio.file.Path, text: String): Unit = {
    val out = fc.create(hpath(p), java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  // with a buffer size: FileContext.open(path) goes through FilterFs
  // straight to the raw filesystem and never verifies a checksum
  private def read(p: java.nio.file.Path): String = {
    val in = fc.open(hpath(p), 4096)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a session's file scheme resolves to the no-fork classes through both APIs") {
    // in this JVM GraftSession.local returns the shared test session, which
    // is built from GraftSession.builder too; FileSystem.getLocal
    // goes through Hadoop's JVM-wide cache, so a default LocalFileSystem
    // cached earlier would show here
    val conf = GraftSession.local(4).sessionState.newHadoopConf()
    assert(FileSystem.getLocal(conf).getRawFileSystem.isInstanceOf[NoForkRawLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem
      .isInstanceOf[NoForkLocalFs])
  }

  test("permission bits read back through NIO equal what was asked") {
    val root = dir("localfs-perm")
    val sub = root.resolve("d")
    assert(localFs.mkdirs(hpath(sub), new FsPermission("755")))
    assert(mode(sub) == "rwxr-xr-x")
    for ((octal, expected) <- Seq("644" -> "rw-r--r--", "600" -> "rw-------")) {
      val f = sub.resolve(s"f$octal")
      localFs.create(hpath(f), new FsPermission(octal), true, 4096, 1.toShort, 1L << 20, null).close()
      assert(mode(f) == expected, s"create with $octal")
    }
    localFs.setPermission(hpath(sub), new FsPermission("700"))
    assert(mode(sub) == "rwx------")
    intercept[java.io.FileNotFoundException](
      localFs.setPermission(hpath(root.resolve("missing")), new FsPermission("700")))
  }

  test("checksum sidecars are written and a corrupted byte fails the read") {
    val root = dir("localfs-crc")
    val viaFs = root.resolve("fs")
    val out = localFs.create(hpath(viaFs))
    try out.write("written through FileSystem".getBytes(UTF_8)) finally out.close()
    assert(Files.exists(root.resolve(".fs.crc")))

    val viaFc = root.resolve("fc")
    write(viaFc, "written through FileContext")
    assert(Files.exists(root.resolve(".fc.crc")))
    assert(read(viaFc) == "written through FileContext")
    val raf = new RandomAccessFile(viaFc.toFile, "rw")
    try { raf.seek(3); raf.write('X') } finally raf.close()
    // read through FileContext: LocalFileSystem's checksum failure handler
    // would move the corrupt file into a bad_files directory at the mount root
    intercept[ChecksumException](read(viaFc))
  }

  test("FileContext rename with OVERWRITE replaces an existing file") {
    val root = dir("localfs-rename")
    val (src, dst) = (root.resolve("src"), root.resolve("dst"))
    write(src, "new")
    write(dst, "old")
    fc.rename(hpath(src), hpath(dst), Options.Rename.OVERWRITE)
    assert(!Files.exists(src) && !Files.exists(root.resolve(".src.crc")))
    assert(read(dst) == "new")
  }

  test("a real symlink is reported as a symlink, a plain file is not") {
    val root = dir("localfs-link")
    val target = root.resolve("target")
    write(target, "x")
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val st = localFs.getFileLinkStatus(hpath(link))
    assert(st.isSymlink)
    assert(st.getSymlink == hpath(target))
    assert(fc.getFileLinkStatus(hpath(link)).isSymlink)
    assert(fc.getLinkTarget(hpath(link)) == new Path(target.toString))
    assert(!localFs.getFileLinkStatus(hpath(target)).isSymlink)
    assert(!fc.getFileLinkStatus(hpath(target)).isSymlink)
  }
}
