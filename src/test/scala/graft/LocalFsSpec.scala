package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free `file:` scheme: wired into every Tuning session, and
  * observably identical to Hadoop's stock local filesystem. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark._

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  private def init[T <: FileSystem](fs: T): T = {
    fs.initialize(new URI("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val forkFree = init(new ForkFreeRawLocalFileSystem)

  private def tmpDir(): JPath = Files.createTempDirectory("graft_localfs_spec")
  private def hpath(p: JPath): Path = new Path(p.toString)

  test("a Tuning session resolves file: to the fork-free classes in both Hadoop APIs") {
    assert(FileSystem.get(new URI("file:///"), hadoopConf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    // the conf a query's tasks and streaming checkpoints see
    val sessionConf = spark.sessionState.newHadoopConf()
    assert(FileContext.getFileContext(new URI("file:///"), sessionConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("setPermission round-trips the same bits as stock, files and mkdirs") {
    val dir = tmpDir()
    val modes = Seq("644", "700", "755", "600")
    for (mode <- modes; fs <- Seq(stock, forkFree)) {
      val perm = new FsPermission(mode)
      val f = dir.resolve(s"${fs.getClass.getSimpleName}_$mode")
      Files.createFile(f)
      fs.setPermission(hpath(f), perm)
      assert(fs.getFileStatus(hpath(f)).getPermission === perm, s"$fs $mode")
      val d = dir.resolve(s"${fs.getClass.getSimpleName}_d$mode")
      assert(fs.mkdirs(hpath(d), perm))
    }
    for (mode <- modes) {
      def bits(fs: FileSystem, suffix: String) = Files.getPosixFilePermissions(
        dir.resolve(s"${fs.getClass.getSimpleName}_$suffix"))
      assert(bits(forkFree, mode) === bits(stock, mode), mode)
      assert(bits(forkFree, s"d$mode") === bits(stock, s"d$mode"), s"mkdirs $mode")
    }
  }

  test("create with a permission applies it like stock") {
    val dir = tmpDir()
    for (fs <- Seq(stock, forkFree)) {
      val f = new Path(dir.toString, fs.getClass.getSimpleName)
      fs.create(f, new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
    }
    assert(Files.getPosixFilePermissions(dir.resolve(forkFree.getClass.getSimpleName)) ===
      Files.getPosixFilePermissions(dir.resolve(stock.getClass.getSimpleName)))
  }

  /** What a caller can observe of one getFileLinkStatus call: the
    * status's fields, or the exception class. */
  private def outcome(fs: FileSystem, p: Path) =
    scala.util.Try(fs.getFileLinkStatus(p)).map { s =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime)
    }.toEither.left.map(_.getClass)

  test("getFileLinkStatus matches stock: file, directory, symlink, dangling link, missing") {
    val dir = tmpDir()
    val file = Files.writeString(dir.resolve("file"), "payload")
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    // unqualified and file:-qualified spellings of each path (like Hadoop,
    // the link is read at the path's string form, so only the
    // unqualified spelling is seen as a link)
    for (p <- Seq(file, dir, link, dangling, missing); path <- Seq(hpath(p), new Path(p.toUri)))
      assert(outcome(forkFree, path) === outcome(stock, path), path.toString)
    assert(forkFree.getFileLinkStatus(hpath(link)).isSymlink)
    assert(forkFree.getFileLinkStatus(hpath(dangling)).isSymlink)
    intercept[FileNotFoundException](forkFree.getFileLinkStatus(hpath(missing)))
  }

  test("the .crc sidecar is written, and a flipped byte fails the read") {
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    val dir = tmpDir()
    val f = new Path(dir.toString, "data")
    val bytes = Array.tabulate[Byte](2000)(i => (i % 251).toByte)
    val out = fs.create(f)
    try out.write(bytes) finally out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    val in = fs.open(f)
    val back = new Array[Byte](bytes.length)
    try in.readFully(back) finally in.close()
    assert(back.sameElements(bytes))

    val raf = new RandomAccessFile(new File(dir.toFile, "data"), "rw")
    try { raf.seek(1000); raf.write(bytes(1000) ^ 0x5a) } finally raf.close()
    val bad = fs.open(f)
    try intercept[ChecksumException](bad.readFully(new Array[Byte](bytes.length)))
    finally bad.close()
  }

  test("FileContext create + rename(OVERWRITE) round trip keeps checksums") {
    val fc = FileContext.getLocalFSFileContext(hadoopConf)
    val dir = tmpDir()
    val src = new Path(dir.toUri.toString, "src")
    val dst = new Path(dir.toUri.toString, "dst")
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    write(src, "new contents")
    write(dst, "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    assert(!Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8) === "new contents") finally in.close()
    // without OVERWRITE an existing destination is refused, as in stock
    write(src, "again")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      fc.rename(src, dst, Options.Rename.NONE))
  }
}
