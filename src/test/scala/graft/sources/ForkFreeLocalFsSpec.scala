package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FSDataInputStream, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The fork-free `file:` binding answers as Hadoop's stock local
  * filesystem does, on the same files: statuses, modes, link statuses,
  * `FileContext` renames and checksummed reads.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {
  private val root = URI.create("file:///")

  private def conf(umask: Option[String] = None): Configuration = {
    val c = new Configuration(TestSpark.spark.sparkContext.hadoopConfiguration)
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }
  private def raw(fs: RawLocalFileSystem, c: Configuration): RawLocalFileSystem = {
    fs.initialize(root, c); fs
  }
  private def stock(c: Configuration = conf()) = raw(new RawLocalFileSystem, c)
  private def forkFree(c: Configuration = conf()) = raw(new ForkFreeRawLocalFileSystem, c)

  /** A directory with a file, a subdirectory, a sticky directory, links to
    * a file and to a directory, and a dangling link.
    */
  private def fixture(): java.nio.file.Path = {
    val d = Files.createTempDirectory("ffl")
    Files.write(d.resolve("file.txt"), "hello".getBytes)
    Files.createDirectory(d.resolve("sub"))
    Files.write(d.resolve("sub").resolve("inner.bin"), Array.fill[Byte](300)(7))
    Files.createDirectory(d.resolve("sticky"))
    Files.setAttribute(d.resolve("sticky"), "unix:mode", Integer.valueOf(0x3ff)) // 01777
    Files.createSymbolicLink(d.resolve("link_file"), d.resolve("file.txt"))
    Files.createSymbolicLink(d.resolve("link_dir"), Paths.get("sub")) // relative target
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("nowhere"))
    d
  }

  private def fields(s: FileStatus) =
    (s.getPath.toString, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize,
      if (s.isSymlink) s.getSymlink.toString else "")

  /** The outcome of `f`: its fields, or the exception class it threw. */
  private def outcome(f: => FileStatus) = Try(fields(f)).toEither.left.map(_.getClass.getName)

  test("getFileStatus, listStatus and listFiles agree with the stock filesystem") {
    val d = fixture()
    val (a, b) = (stock(), forkFree())
    val names = Seq("", "file.txt", "sub", "sub/inner.bin", "sticky", "link_file", "link_dir",
      "dangling", "missing")
    for (n <- names; p <- Seq(new Path(d.resolve(n).toString), new Path(d.resolve(n).toUri)))
      assert(outcome(b.getFileStatus(p)) == outcome(a.getFileStatus(p)), s"getFileStatus($p)")
    assert(b.getFileStatus(new Path(d.resolve("sticky").toString)).getPermission.toShort == 0x3ff)
    for (n <- Seq("", "sub", "file.txt", "link_dir")) {
      val p = new Path(d.resolve(n).toString)
      assert(b.listStatus(p).map(fields).sortBy(_._1).toSeq ==
        a.listStatus(p).map(fields).sortBy(_._1).toSeq, s"listStatus($p)")
      def files(fs: FileSystem) = {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(fields).toSeq.sortBy(_._1)
      }
      assert(files(b) == files(a), s"listFiles($p)")
    }
    assert(Try(b.listStatus(new Path(d.resolve("missing").toString))).failed.get
      .isInstanceOf[java.io.FileNotFoundException])
  }

  test("create, mkdirs and setPermission leave the same modes") {
    def mode(p: Path) = Files.getAttribute(Paths.get(p.toString), "unix:mode").asInstanceOf[Integer] & 0xfff
    for (umask <- Seq(None, Some("027"), Some("002"))) {
      val d = Files.createTempDirectory("ffl_mode")
      val c = conf(umask)
      val modes = Seq("stock" -> stock(c), "forkfree" -> forkFree(c)).map { case (tag, fs) =>
        val f = new Path(d.resolve(s"$tag/nested/f.bin").toString)
        val out = fs.create(f)
        out.write(1); out.close()
        val dir = new Path(d.resolve(s"$tag/made/deeper").toString)
        assert(fs.mkdirs(dir))
        val created = Seq(mode(f), mode(dir), mode(f.getParent))
        val set = Seq(0x1a4, 0x1ed, 0x3ff).flatMap { perm => // 0644, 0755, 01777
          fs.setPermission(f, new FsPermission(perm.toShort))
          fs.setPermission(dir, new FsPermission(perm.toShort))
          Seq(mode(f), mode(dir), fs.getFileStatus(f).getPermission.toShort.toInt,
            fs.getFileStatus(dir).getPermission.toShort.toInt)
        }
        created ++ set
      }
      assert(modes(1) == modes(0), s"umask $umask")
      assert(modes(0).takeRight(4) == Seq(0x3ff, 0x3ff, 0x3ff, 0x3ff), "the sticky bit is set and read back")
    }
  }

  test("getFileLinkStatus agrees for a file, a link and a dangling link, qualified or not") {
    val d = fixture()
    val (a, b) = (stock(), forkFree())
    for (n <- Seq("file.txt", "link_file", "link_dir", "dangling", "missing");
         p <- Seq(new Path(d.resolve(n).toString), new Path(d.resolve(n).toUri))) {
      assert(outcome(b.getFileLinkStatus(p)) == outcome(a.getFileLinkStatus(p)), s"getFileLinkStatus($p)")
      assert(Try(b.getLinkTarget(p).toString).toEither.left.map(_.getClass) ==
        Try(a.getLinkTarget(p).toString).toEither.left.map(_.getClass), s"getLinkTarget($p)")
    }
    // Hadoop reads the link of a qualified path through its `file:` string,
    // which names no file: the qualified link reads as its target
    assert(b.getFileLinkStatus(new Path(d.resolve("link_file").toString)).isSymlink)
    assert(!b.getFileLinkStatus(new Path(d.resolve("link_file").toUri)).isSymlink)
  }

  test("FileContext renames: NONE onto an existing file fails, OVERWRITE replaces it") {
    val plain = new Configuration()
    val stockFc = FileContext.getFileContext(AbstractFileSystem.get(root, plain), plain)
    val freeFc = FileContext.getFileContext(new ForkFreeLocalFs(root, conf()), conf())
    assert(stockFc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    def renames(fc: FileContext) = {
      val d = Files.createTempDirectory("ffl_rename")
      def write(name: String, body: String): Path = {
        val p = new Path(d.resolve(name).toString)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(body.getBytes); out.close(); p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      val none = Try(fc.rename(src, dst, Options.Rename.NONE)).failed.toOption.map(_.getClass)
      val keptOld = new String(Files.readAllBytes(Paths.get(dst.toString)))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val listing = d.toFile.list().toSeq.sorted
      (none, keptOld, new String(Files.readAllBytes(Paths.get(dst.toString))), listing)
    }
    val expected = (Some(classOf[FileAlreadyExistsException]), "old", "new", Seq(".dst.crc", "dst"))
    assert(renames(stockFc) == expected)
    assert(renames(freeFc) == expected)
  }

  test("a file written through one binding reads back, checksum verified, through the other") {
    val c = conf()
    val stockFs = new LocalFileSystem(new RawLocalFileSystem); stockFs.initialize(root, c)
    // the bound class; a checksum failure is reported without moving the
    // file to a `bad_files` directory near the filesystem root
    val freeFs = new ForkFreeLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    freeFs.initialize(root, c)
    val freeFc = FileContext.getFileContext(new ForkFreeLocalFs(root, c), c)
    val d = Files.createTempDirectory("ffl_crc")
    val body = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    def readAll(in: FSDataInputStream): Array[Byte] =
      try { val buf = new Array[Byte](body.length); in.readFully(buf); buf } finally in.close()
    def write(out: java.io.OutputStream): Unit = try out.write(body) finally out.close()
    def verifying(in: FSDataInputStream): FSDataInputStream = {
      assert(in.getWrappedStream.getClass.getName.endsWith("ChecksumFSInputChecker"))
      in
    }
    val writers = Seq[(String, Path => Unit)](
      "stock" -> (p => write(stockFs.create(p))),
      "forkfree" -> (p => write(freeFs.create(p))),
      "filecontext" -> (p => write(freeFc.create(p, EnumSet.of(CreateFlag.CREATE)))))
    // FileContext reads the raw stream (stock `LocalFs` does the same), so
    // only the FileSystem readers verify checksums
    val readers = Seq[(String, Path => Array[Byte])](
      "stock" -> (p => readAll(verifying(stockFs.open(p)))),
      "forkfree" -> (p => readAll(verifying(freeFs.open(p)))),
      "filecontext" -> (p => readAll(freeFc.open(p))))
    for ((w, put) <- writers; (r, get) <- readers if w != r) {
      val p = new Path(d.resolve(s"$w-$r.bin").toString)
      put(p)
      assert(Files.exists(d.resolve(s".$w-$r.bin.crc")), s"$w wrote no checksum")
      assert(get(p).sameElements(body), s"$w -> $r")
    }
    // the checksum really is checked: a flipped byte fails the read
    for (w <- Seq("stock", "filecontext")) {
      val p = d.resolve(s"$w-forkfree.bin")
      val bytes = Files.readAllBytes(p)
      bytes(100) = (bytes(100) ^ 1).toByte
      Files.write(p, bytes)
      assert(Try(readAll(freeFs.open(new Path(p.toString)))).failed.get.isInstanceOf[ChecksumException])
    }
  }

  test("without the unix attribute view every method is the stock one") {
    val d = fixture()
    val fs = raw(new ForkFreeRawLocalFileSystem(false), conf())
    val st = fs.getFileStatus(new Path(d.resolve("file.txt").toString))
    assert(st.getClass.getName == "org.apache.hadoop.fs.RawLocalFileSystem$DeprecatedRawLocalFileStatus")
    assert(outcome(fs.getFileLinkStatus(new Path(d.resolve("link_file").toString))) ==
      outcome(stock().getFileLinkStatus(new Path(d.resolve("link_file").toString))))
  }

  test("the shared session binds file: to the fork-free classes, and !resource says so") {
    val hc = TestSpark.spark.sparkContext.hadoopConfiguration
    assert(ForkFreeLocalFs.boundClasses(hc) == ForkFreeLocalFs.Bound)
    assert(ForkFreeLocalFs.Bound ==
      (classOf[ForkFreeRawLocalFileSystem].getName, classOf[ForkFreeLocalFs].getName))
    assert(FileSystem.getLocal(hc).isInstanceOf[ForkFreeLocalFileSystem])
    val r = graft.dsl.ScriptRunner.runToDF("!resource;", TestSpark.spark).head()
    assert(r.getAs[String]("local_fs") ==
      s"FileSystem:${classOf[ForkFreeRawLocalFileSystem].getName} " +
        s"FileContext:${classOf[ForkFreeLocalFs].getName}")
  }
}
