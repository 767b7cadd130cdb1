package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import scala.util.Try

/** [[NioLocalFileSystem]] and [[NioLocalFs]] against Hadoop's stock local
  * filesystem on the same temp tree: the same files and modes, the same
  * link statuses, the same no-overwrite rename — and the Engine session
  * resolving `file:` to them. */
class NioLocalFsSpec extends SparkSpec {
  private val local = URI.create("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration

  /** `base` with `file:` set back to Hadoop's own classes. */
  private def stock(base: Configuration): Configuration = {
    val c = new Configuration(base)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def withUmask(umask: Option[String]): Configuration = {
    val c = new Configuration(conf)
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** Every path under `root`, relative, with its mode. */
  private def modes(root: String): Map[String, String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(_ != r).map(p => r.relativize(p).toString ->
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  private def perm(octal: String) = new FsPermission(octal)

  private def viaFileSystem(fs: FileSystem, root: String): Unit = {
    fs.mkdirs(new Path(s"$root/a/b"))
    fs.mkdirs(new Path(s"$root/c"), perm("750"))
    val out = fs.create(new Path(s"$root/a/b/f"))
    out.write(1); out.close()
    fs.create(new Path(s"$root/c/g"), perm("640"), false, 4096,
      1.toShort, 1L << 20, null).close()
  }

  private def viaFileContext(fc: FileContext, root: String): Unit = {
    fc.mkdir(new Path(s"$root/a/b"), FsPermission.getDirDefault, true)
    fc.mkdir(new Path(s"$root/c"), perm("750"), true)
    val out = fc.create(new Path(s"$root/a/b/f"), EnumSet.of(CreateFlag.CREATE))
    out.write(1); out.close()
    fc.create(new Path(s"$root/c/tmp"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(perm("640"))).close()
    fc.rename(new Path(s"$root/c/tmp"), new Path(s"$root/c/g"))
  }

  Seq(None, Some("027")).foreach { umask =>
    val name = umask.fold("the session umask")(u => s"umask $u")
    test(s"create and mkdirs leave the stock files and modes under $name") {
      val c = withUmask(umask)
      val fsStock = FileSystem.newInstance(local, stock(c))
      val fsNio = FileSystem.newInstance(local, c)
      val fcStock = FileContext.getFileContext(stock(c))
      val fcNio = FileContext.getFileContext(c)
      assert(fsStock.getClass === classOf[LocalFileSystem])
      assert(fsNio.getClass === classOf[NioLocalFileSystem])
      assert(fcStock.getDefaultFileSystem.getClass.getName ===
        "org.apache.hadoop.fs.local.LocalFs")
      assert(fcNio.getDefaultFileSystem.getClass === classOf[NioLocalFs])
      try {
        val trees = Seq(fsStock, fsNio).map { fs =>
          val root = tmpDir("niofs-fs"); viaFileSystem(fs, root); modes(root)
        } ++ Seq(fcStock, fcNio).map { fc =>
          val root = tmpDir("niofs-fc"); viaFileContext(fc, root); modes(root)
        }
        assert(trees(1) === trees(0), "FileSystem API")
        assert(trees(3) === trees(2), "FileContext API")
        trees.foreach(t => assert(Set("a/b/.f.crc", "c/.g.crc").subsetOf(t.keySet)))
        if (umask.isEmpty) {
          assert(trees(1)("a/b/f") === "rw-r--r--")
          assert(trees(1)("a/b") === "rwxr-xr-x")
        } else {
          assert(trees(1)("a/b/f") === "rw-r-----")
          assert(trees(3)("c") === "rwxr-x---")
        }
      } finally { fsStock.close(); fsNio.close() }
    }
  }

  test("getFileLinkStatus matches the stock one on files, dirs, links and missing paths") {
    val r = Paths.get(tmpDir("niofs-link"))
    Files.write(r.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(r.resolve("dir"))
    Files.createSymbolicLink(r.resolve("link"), r.resolve("file"))
    Files.createSymbolicLink(r.resolve("dangling"), r.resolve("gone"))
    val rawStock = new RawLocalFileSystem
    val rawNio = new NioRawLocalFileSystem
    Seq(rawStock, rawNio).foreach(_.initialize(local, conf))
    val fcStock = FileContext.getFileContext(stock(conf))
    val fcNio = FileContext.getFileContext(conf)
    /** The status's fields, or the class of what it threw. */
    def outcome(s: => FileStatus) = Try {
      val st = s
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        st.getModificationTime, st.getPermission, st.getOwner, st.getGroup,
        if (st.isSymlink) Some(st.getSymlink) else None)
    }.toEither.left.map(_.getClass)
    // the stock readlink is handed `Path.toString`, so a `file:` path and
    // a bare one can answer differently for links: check both forms
    for (n <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(r.resolve(n).toString), new Path(r.resolve(n).toUri))) {
      assert(outcome(rawNio.getFileLinkStatus(p)) ===
        outcome(rawStock.getFileLinkStatus(p)), s"FileSystem: $p")
      assert(outcome(fcNio.getFileLinkStatus(p)) ===
        outcome(fcStock.getFileLinkStatus(p)), s"FileContext: $p")
    }
    def bare(n: String) = new Path(r.resolve(n).toString)
    assert(rawNio.getFileLinkStatus(bare("link")).isSymlink)
    assert(rawNio.getFileLinkStatus(bare("dangling")).isSymlink)
    intercept[FileNotFoundException](rawNio.getFileLinkStatus(bare("missing")))
    intercept[FileNotFoundException](fcNio.getFileLinkStatus(bare("missing")))
    Seq(rawStock, rawNio).foreach(_.close())
  }

  test("a FileContext rename onto an existing file needs OVERWRITE") {
    Seq(FileContext.getFileContext(stock(conf)), FileContext.getFileContext(conf))
      .foreach { fc =>
        val root = tmpDir("niofs-rename")
        val (a, b) = (new Path(s"$root/a"), new Path(s"$root/b"))
        Seq(a, b).foreach(fc.create(_, EnumSet.of(CreateFlag.CREATE)).close())
        intercept[FileAlreadyExistsException](fc.rename(a, b))
        assert(fc.util.exists(a) && fc.util.exists(b))
        fc.rename(a, b, Options.Rename.OVERWRITE)
        assert(!fc.util.exists(a) && fc.util.exists(b))
      }
  }

  test("the Engine session resolves file: to the java.nio classes") {
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem],
      s"file: is ${fs.getClass.getName}: a stock instance was cached first")
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], s"file: is ${afs.getClass.getName}")
  }
}
