package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** graft's `file:` filesystem is installed by `Tables.configure` and
  * behaves like Hadoop's local filesystem in the two methods it
  * replaces. Each case runs the same call on Hadoop's
  * `RawLocalFileSystem` and on [[NoForkRawLocalFileSystem]]. */
class LocalFilesSpec extends AnyFunSuite {
  private lazy val conf = TestSpark.spark.sparkContext.hadoopConfiguration

  private def fresh(c: RawLocalFileSystem): RawLocalFileSystem = {
    c.initialize(URI.create("file:///"), conf); c
  }
  private lazy val hadoop = fresh(new RawLocalFileSystem)
  private lazy val graftFs = fresh(new NoForkRawLocalFileSystem)

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-localfiles")
    try body(dir) finally graft.Materialize.rmTree(dir.toFile)
  }
  private def perms(p: NioPath): Set[PosixFilePermission] = {
    import scala.jdk.CollectionConverters._
    Files.getPosixFilePermissions(p).asScala.toSet
  }
  private def hp(p: NioPath) = new Path(p.toString)

  test("a Tables.configure session resolves file: to graft's classes on both Hadoop APIs") {
    val fs = new Path("file:///tmp").getFileSystem(conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NoForkRawLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.getClass == classOf[GraftLocalFs])
    assert(afs.getUriDefaultPort == -1)
    assert(FileContext.getFileContext(new URI("file:///tmp"), conf).getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
  }

  test("create and mkdirs write the permissions Hadoop's RawLocalFileSystem writes") {
    withDir { dir =>
      def both(name: String)(make: (FileSystem, Path) => Unit): Unit = {
        val h = dir.resolve(s"hadoop-$name")
        val g = dir.resolve(s"graft-$name")
        make(hadoop, hp(h))
        make(graftFs, hp(g))
        assert(perms(g) == perms(h), name)
      }
      both("create-default")((fs, p) => fs.create(p).close())
      both("create-0600")((fs, p) =>
        fs.create(p, new FsPermission("600"), false, 4096, 1.toShort, 1L << 20, null).close())
      both("create-0755")((fs, p) =>
        fs.create(p, new FsPermission("755"), false, 4096, 1.toShort, 1L << 20, null).close())
      both("mkdirs-default")((fs, p) => assert(fs.mkdirs(p)))
      both("mkdirs-0700")((fs, p) => assert(fs.mkdirs(new Path(p, "a/b"), new FsPermission("700"))))
      both("set-0421")((fs, p) => { fs.create(p).close(); fs.setPermission(p, new FsPermission("421")) })
      // the sticky bit goes to Hadoop: NIO cannot set it
      both("sticky-1777")((fs, p) => { fs.mkdirs(p); fs.setPermission(p, new FsPermission("1777")) })
    }
  }

  test("getFileLinkStatus matches Hadoop's on a file, a directory, a missing path and a symlink") {
    withDir { dir =>
      val file = dir.resolve("f")
      Files.write(file, Array[Byte](1, 2, 3))
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("l"), file)
      def fields(s: FileStatus) =
        (s.getPath, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
          s.getPermission, s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)
      for (p <- Seq(file, sub, link)) {
        val g = fields(graftFs.getFileLinkStatus(hp(p)))
        assert(g == fields(hadoop.getFileLinkStatus(hp(p))), p.toString)
      }
      assert(graftFs.getFileLinkStatus(hp(link)).isSymlink)
      val missing = hp(dir.resolve("missing"))
      intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
      intercept[FileNotFoundException](graftFs.getFileLinkStatus(missing))
    }
  }

  test("a FileContext create then rename(OVERWRITE) round-trips the bytes") {
    withDir { dir =>
      import java.util.EnumSet
      val fc = FileContext.getFileContext(conf)
      val dst = hp(dir.resolve("out"))
      def write(p: Path, bytes: Array[Byte]): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(bytes) finally out.close()
      }
      write(dst, "old".getBytes("UTF-8"))
      val tmp = hp(dir.resolve(".out.tmp"))
      val bytes = Array.tabulate[Byte](10000)(i => (i * 31).toByte)
      write(tmp, bytes)
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(tmp))
      val in = fc.open(dst)
      val read = try in.readAllBytes() finally in.close()
      assert(read.sameElements(bytes))
    }
  }
}
