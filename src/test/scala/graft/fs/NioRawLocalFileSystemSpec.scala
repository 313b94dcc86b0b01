package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] against Hadoop's stock [[RawLocalFileSystem]]
  * (its forking, no-libhadoop path) as the reference. */
class NioRawLocalFileSystemSpec extends AnyFunSuite {

  private def init[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  test("setPermission leaves the same POSIX permissions as the stock chmod") {
    val dir = Files.createTempDirectory("graft-nio-perm")
    for (octal <- Seq("644", "755", "700")) {
      val mode = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val (a, b) = (dir.resolve(s"stock-$octal"), dir.resolve(s"nio-$octal"))
      Seq(a, b).foreach { p =>
        Files.createFile(p)
        Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("---------"))
      }
      stock.setPermission(new Path(a.toString), mode)
      nio.setPermission(new Path(b.toString), mode)
      val got = Files.getPosixFilePermissions(b)
      assert(got == Files.getPosixFilePermissions(a), octal)
      assert(PosixFilePermissions.toString(got) == mode.toString, octal)
    }
  }

  private def outcome(f: => Any): Either[(Class[_], String), Any] =
    try Right(f) catch { case e: java.io.IOException => Left((e.getClass, e.getMessage)) }

  private def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
    if (s.isSymlink) Some(s.getSymlink) else None, s.getModificationTime,
    s.getPermission, s.getOwner, s.getGroup)

  test("getFileLinkStatus and getLinkTarget equal the stock readlink path") {
    val dir = Files.createTempDirectory("graft-nio-link")
    val file = Files.write(dir.resolve("file"), "x".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val paths = Seq(file, sub, link, dangling).map(p => new Path(p.toString)) :+
      new Path(link.toUri)                  // qualified: neither reads it as a link
    for (p <- paths) {
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
      // a non-link has no target: both raise the same IOException
      assert(outcome(nio.getLinkTarget(p)) == outcome(stock.getLinkTarget(p)), p)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)

    val missing = new Path(dir.resolve("missing").toString)
    val want = intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    val got = intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    assert(got.getClass == want.getClass && got.getMessage == want.getMessage)
  }
}
