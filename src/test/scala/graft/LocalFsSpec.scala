package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.util.LocalFs

/** The fork-free local file system: the same modes and `.crc`
  * sidecars as Hadoop's stock local FS.
  */
class LocalFsSpec extends AnyFunSuite {

  /** A umask unlike the process default (022), so a mode the JVM's
    * own file creation left in place cannot pass for a set one.
    */
  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }

  private def fast(): FileSystem = {
    val c = conf()
    LocalFs.Conf.foreach { case (k, v) => c.set(k, v) }
    val fs = FileSystem.get(new java.net.URI("file:///"), c)
    assert(fs.isInstanceOf[LocalFs])
    fs
  }

  private def stock(): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(new java.net.URI("file:///"), conf())
    fs
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("files and mkdirs'd dirs get the stock local FS's modes") {
    val root = Files.createTempDirectory("graft-localfs").toString
    val modes = Seq("stock" -> stock(), "fast" -> fast()).map { case (name, fs) =>
      val f = s"$root/$name/a/b/part-0"
      val out = fs.create(new Path(f))
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      fs.mkdirs(new Path(s"$root/$name/d/e"))
      Seq(f, s"$root/$name/a/b/.part-0.crc", s"$root/$name/a/b",
        s"$root/$name/d/e").map(mode)
    }
    val octal = Integer.parseInt(_: String, 8)
    assert(modes(0)(0) == octal("640") && modes(0)(3) == octal("750"),
      modes(0).map(_.toOctalString))
    assert(modes(1) == modes(0), modes(1).map(_.toOctalString))
  }

  test("the .crc sidecar is written, and a read through the stock FS checks it") {
    val f = new Path(Files.createTempDirectory("graft-localfs").toString, "data")
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val out = fast().create(f)
    try out.write(bytes) finally out.close()
    assert(Files.exists(Paths.get(f.getParent.toString, ".data.crc")))
    def read(): Array[Byte] = {
      val in = stock().open(f)
      try in.readAllBytes() finally in.close()
    }
    assert(read().sameElements(bytes))
    // flip one data byte behind the FS's back: the stock read must
    // notice, so the sidecar really carries the checksums
    val raw = Paths.get(f.toString)
    val damaged = Files.readAllBytes(raw)
    damaged(100) = (damaged(100) ^ 1).toByte
    Files.write(raw, damaged)
    intercept[ChecksumException](read())
  }

  test("a mode with the sticky bit takes Hadoop's own path") {
    // FsPermission carries no setuid/setgid bits, only sticky (01000)
    val dir = Files.createTempDirectory("graft-localfs").toString
    fast().setPermission(new Path(dir), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1750", 8), mode(dir).toOctalString)
    // and a plain mode on the same dir goes through NIO, sticky cleared
    fast().setPermission(new Path(dir), new FsPermission(Integer.parseInt("700", 8).toShort))
    assert(mode(dir) == Integer.parseInt("700", 8), mode(dir).toOctalString)
  }
}
