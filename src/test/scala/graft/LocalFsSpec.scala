package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.util.{Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FSDataInputStream, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFs]] against Hadoop's stock `LocalFs`, through `FileContext`
  * as Spark's checkpoint manager drives it: the same files, permissions,
  * checksums and rename semantics, and checksums verified on every open. */
class LocalFsSpec extends AnyFunSuite {
  private val stock = classOf[org.apache.hadoop.fs.local.LocalFs].getName
  private val nio = GraftSession.LocalFsConf._2

  private def context(impl: String, umask: String = "022"): FileContext = {
    val conf = new Configuration()
    conf.set(GraftSession.LocalFsConf._1, impl)
    conf.set("fs.permissions.umask-mask", umask)
    FileContext.getLocalFSFileContext(conf)
  }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(in: FSDataInputStream): String =
    try new String(in.readAllBytes(), UTF_8) finally in.close()

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def crc(dir: JPath, name: String): JPath = dir.resolve(s".$name.crc")

  /** Run `body` in a fresh directory under the stock and the java.nio file
    * system (same umask); returns both results. */
  private def both[T](umask: String = "022")(body: (FileContext, JPath) => T): (T, T) = {
    def one(impl: String): T = {
      val dir = Files.createTempDirectory("graft-localfs")
      dir.toFile.deleteOnExit()
      body(context(impl, umask), dir)
    }
    (one(stock), one(nio))
  }

  test("the registered class is the one FileContext uses for file:") {
    assert(context(nio).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(context(stock).getDefaultFileSystem.getClass.getName == stock)
  }

  test("created files, their .crc sidecars and mkdir'd directories get the same permissions") {
    for (umask <- Seq("022", "077", "002")) {
      val (a, b) = both(umask) { (fc, dir) =>
        write(fc, new Path(dir.resolve("sub/f").toUri), "x")
        fc.mkdir(new Path(dir.resolve("d").toUri), FsPermission.getDirDefault, true)
        val g = new Path(dir.resolve("g").toUri)
        write(fc, g, "y")
        fc.setPermission(g, new FsPermission("640"))
        Seq(dir.resolve("sub"), dir.resolve("sub/f"), crc(dir.resolve("sub"), "f"),
          dir.resolve("d"), dir.resolve("g")).map(perms)
      }
      assert(a == b, s"umask $umask")
      assert(a(4) == "rw-r-----")
    }
  }

  test("a rename without OVERWRITE onto an existing file throws FileAlreadyExistsException") {
    val (a, b) = both() { (fc, dir) =>
      val (src, dst) = (new Path(dir.resolve("src").toUri), new Path(dir.resolve("dst").toUri))
      write(fc, src, "new")
      write(fc, dst, "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      (read(fc.open(src, 4096)), read(fc.open(dst, 4096)))
    }
    assert(a == ("new", "old") && b == a)
  }

  test("a rename with OVERWRITE replaces the file and moves its .crc") {
    val (a, b) = both() { (fc, dir) =>
      val (src, dst) = (new Path(dir.resolve("src").toUri), new Path(dir.resolve("dst").toUri))
      write(fc, src, "new contents")
      write(fc, dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (read(fc.open(dst, 4096)), Files.exists(dir.resolve("src")), Files.exists(crc(dir, "src")),
        Files.exists(crc(dir, "dst")))
    }
    assert(a == ("new contents", false, false, true) && b == a)
  }

  test("a symlink's link status matches the stock one, for qualified and bare paths") {
    val (a, b) = both() { (fc, dir) =>
      write(fc, new Path(dir.resolve("target").toUri), "t")
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
      // the stock path runs `readlink` on Path.toString, so a qualified
      // file: path never reads as a link; both must agree on either form
      Seq(new Path(dir.resolve("link").toUri), new Path(dir.resolve("link").toString)).map { p =>
        val st = fc.getFileLinkStatus(p)
        (st.isSymlink, if (st.isSymlink) st.getSymlink.toUri.getPath.stripPrefix(dir.toString) else "")
      }
    }
    assert(a == Seq((false, ""), (true, "/target")) && b == a)
  }

  test("a missing path throws FileNotFoundException") {
    both() { (fc, dir) =>
      for (missing <- Seq(new Path(dir.resolve("missing").toUri), new Path(dir.resolve("missing").toString))) {
        intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
        intercept[FileNotFoundException](fc.getFileStatus(missing))
      }
    }
  }

  test("a corrupted data byte still fails the checksum on read") {
    val (a, b) = both() { (fc, dir) =>
      val p = new Path(dir.resolve("data").toUri)
      write(fc, p, "a" * 1000)
      val bytes = Files.readAllBytes(dir.resolve("data"))
      bytes(10) = 'b'.toByte
      Files.write(dir.resolve("data"), bytes)
      intercept[ChecksumException](read(fc.open(p, 4096)))
      Try(read(fc.open(p)).take(12))
    }
    // the stock FileContext.open(Path) skips ChecksumFs (FilterFs delegates
    // it to the raw file system); NioLocalFs verifies it
    assert(a == Success("aaaaaaaaaaba"))
    assert(b.failed.get.isInstanceOf[ChecksumException], b)
  }
}
